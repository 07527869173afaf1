package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** SURVEY.md §4's candidate custom rule, realized: push a deterministic
  * Filter below the opaque `mapPartitions` enrichment barrier when the
  * predicate only touches pass-through columns.
  *
  * Catalyst cannot see through `SerializeFromObject(MapPartitions(
  * DeserializeToObject(child)))` — a filter written after enrichment
  * runs after it, so dropped rows still pay the external API call. The
  * engine's runners are PREFIX-PRESERVING row maps (output row = input
  * row's fields, in order, plus appended columns — EnrichRunner builds
  * `Row.fromSeq(r.toSeq :+ ...)`), so a predicate over the prefix
  * commutes with the map. The rule matches that exact shape, proves the
  * prefix correspondence (position + name + type), remaps attribute ids,
  * and moves the filter under the barrier.
  *
  * Installed per session by [[GraftPlans.install]] (runtime
  * `spark.experimental.extraOptimizations`), which [[graft.GraftEngine]]
  * calls, so it is on by default for engine sessions. It is deliberately
  * not part of [[graft.functions.GraftExtensions]]: general
  * `mapPartitions` need not be prefix-preserving (it may drop/aggregate
  * rows), in which case pushing a filter below changes semantics — only
  * enable it on sessions running this engine's runners.
  *
  * At 100 TB this is the difference between enriching the corpus and
  * enriching the slice you keep: the filter reaches the parquet scan
  * (row-group pruning) instead of running over enriched output.
  */
object EnrichmentFilterPushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        s @ SerializeFromObject(serializer,
          m @ MapPartitions(_, _,
            d @ DeserializeToObject(_, _, child))))
        if cond.deterministic =>
      // serializer output attrs, positionally; the first child.output.length
      // of them must mirror the child's columns exactly
      val outAttrs: Seq[Attribute] = s.output
      val n = child.output.length
      if (outAttrs.length < n) f
      else {
        val prefixPairs = outAttrs.take(n).zip(child.output)
        val prefixOk = prefixPairs.forall { case (o, c) =>
          o.name == c.name && o.dataType == c.dataType
        }
        val prefixSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(
          outAttrs.take(n))
        if (prefixOk && cond.references.subsetOf(prefixSet)) {
          val remap = AttributeMap(prefixPairs.map { case (o, c) => o -> c })
          val pushed = cond.transform {
            case a: Attribute if remap.contains(a) => remap(a)
          }
          s.copy(child = m.copy(child = d.copy(child = Filter(pushed, child))))
        } else f
      }
  }
}

/** Runtime installation on an existing session (idempotent). */
object GraftPlans {
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(EnrichmentFilterPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ EnrichmentFilterPushdown
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Scale-design audit: checks, for every registered query, the plan
  * features that are red flags at 100 TB — single-partition exchanges,
  * cartesian products, broadcast nested-loop joins — against an
  * explicit per-query allowlist of justified hits. Any hit NOT on the
  * allowlist makes the run exit non-zero, so a scale regression (a new
  * global sort, an accidental cross join) fails CI instead of hiding
  * in a report (`runMain graft.PlanAudit [sfDir]`).
  *
  * [[PlanAuditGateSpec]] runs the same audit inside `sbt test`.
  */
object PlanAudit {

  val SinglePartition = "SinglePartition"
  val Cartesian = "CartesianProduct"
  val Bnlj = "BroadcastNestedLoopJoin"

  /** Justified flag hits. Each entry is a deliberate, documented design
    * decision — anything else is a regression:
    *  - SinglePartition on scalar/single-row FINAL aggregates (the
    *    partials are map-side; the exchange moves #partitions rows);
    *  - BNLJ where a provably tiny side (query set / seed set / one-row
    *    summary / constant-size register skeleton) is broadcast under a
    *    non-equi condition;
    */
  val justified: Map[String, Set[String]] = Map(
    "q02_filter_pushdown" -> Set(SinglePartition), // scalar final agg
    "q51_profile" -> Set(SinglePartition), // single-row profile agg
    "q22_cosine_topk" -> Set(Bnlj), // broadcast query set, non-equi
    // (q32's former seed-set BNLJ entry was pruned in r18's
    // optimization round: the nearest-seed argmax is row-local now —
    // the seeds ride the assignment expression as literals)
    "q56_fuzzy_match" -> Set(Bnlj), // deduped dim broadcast, edit-distance cond
    "q64_sq8_quantize" -> Set(Bnlj), // 1-row dim-stats broadcast cross join
    "q78_hll" -> Set(SinglePartition, Bnlj), // 256-register summary
    "q80_heavy_hitters" -> Set(SinglePartition, Bnlj), // 1-row total recount
    "q82_join_card" -> Set(SinglePartition, Bnlj), // sketch-sum scalars
    "q83_power_hist" -> Set(SinglePartition), // cumulative walk over ≤64-row hist
    // (q86's former one-row-total flags sit behind the session-cached
    // checkpointed surprisal table now — no entry)
    "q87_hard_negatives" -> Set(Bnlj), // broadcast query set, label-inequality
    "q91_group_hll" -> Set(Bnlj), // groups × 256-bucket skeleton
    "q94_text_ann" -> Set(Bnlj), // broadcast query set, non-equi (q22 class)
    "q96_drift" -> Set(SinglePartition, Bnlj), // one-row totals broadcast (q80 class)
    "q104_collocations" -> Set(SinglePartition, Bnlj), // one-row token total (q86 class)
    // DSIR lift table: one-row token-totals scalar agg broadcast onto
    // the 64-row bucket stats (the q86/q104 class — constant-size)
    "q144_dsir_mix" -> Set(SinglePartition, Bnlj),
    // NB training globals: the 1-row (d_bits, prior_bits) scalar agg
    // broadcast onto the scored docs (the q80/q86 one-row-total class)
    "q169_nb_quality" -> Set(SinglePartition, Bnlj),
    // (q171/q172's former calibration-walk flags sit behind the
    // session-cached checkpointed calibration frame now — no entries)
    // serve-time scoring: the LOADED one-row globals parquet broadcast
    // onto the per-doc roll-up (the q169 class minus its in-plan
    // training — the training-side SinglePartition is gone)
    "q174_persisted_nb_score" -> Set(Bnlj),
    // ensemble's NB member is the q174 serve path (loaded one-row
    // globals broadcast); each of the three global top-100s is a
    // bounded top-k aggregate over a TakeOrdered cut that already sits
    // in one partition, and the fused re-rank groups ≤300 rows by qid
    // — none reaches SinglePartition
    "q188_quality_ensemble" -> Set(Bnlj),
    // t-closeness global tercile distribution: a one-row rollup OF THE
    // attribute-bounded class table, broadcast back onto it (the
    // q80/q86 one-row-total class); the per-doc audit join upstream is
    // broadcast-equi
    "q190_t_closeness" -> Set(SinglePartition, Bnlj),
    // mixing plan: q171/q172's bounded calibration walk + the one-row
    // token-total broadcast onto the sources-bounded per-source rows
    // (the q80/q86 class)
    "q175_mixing_plan" -> Set(SinglePartition, Bnlj),
    // dictionary-update audit: the gen2_total row is one global scalar
    // aggregate over the loaded counts (the q80/q86 one-row-total
    // class) unioned under the sources-bounded transition classes
    "q182_dupgram_dict_update" -> Set(SinglePartition),
    // mix materialization: q175's chain plus TWO more one-row scalars
    // (token total, source count) crossed onto the sources-bounded
    // rate table — all constant-size sides; the per-doc keep decision
    // itself is a broadcast-equi-join + row-local filter
    "q181_mix_materialize" -> Set(SinglePartition, Bnlj),
    // 1-row domain-stats broadcast onto the scan (q64 class) + the
    // rank-locating non-equi joins against the ≤1024-row cumulative
    // histogram (q83/q82 class) — all constant-size sides
    "q152_hist_quantiles" -> Set(Bnlj),
    // (q121/q142's former dense-baseline BNLJ entries were pruned in
    // r18: the sparse/dense rankings are session-cached checkpointed
    // ≤ 80-row frames now, so the 8-row query-vector cross join runs
    // at cache-build time and never reaches the audited plans)
    // KMV assembly: every frame past the TakeOrdered sketches is ≤ 64
    // rows — the scalar aggs and 1-row crossJoins are the q82 class
    "q125_kmv_overlap" -> Set(SinglePartition, Bnlj),
    // 12 per-pair scalar violation rollups (partials map-side over the
    // det-keyed aggregates) — the q02/q51 scalar-final-agg class
    "q134_fd_discovery" -> Set(SinglePartition),
    // confusion-matrix scalar rollup over the tiny joined pair sets
    // (q02 class)
    "q137_lsh_eval" -> Set(SinglePartition),
    // power-law fit: scalar OLS over the ≤64-row checkpointed degree
    // histogram + its 1-row slope broadcast back (q83/q82 classes)
    "q138_degree_powerlaw" -> Set(SinglePartition, Bnlj),
    // four per-edge scalar audits (child count × orphan count 1-row
    // crossJoins) — the q02/q82 classes
    "q140_ref_integrity" -> Set(SinglePartition, Bnlj),
    // (q158's surprisal-core flags sit behind its eager checkpoint
    // since the CSE fix — the audited final plan is clean)
    // one-row corpus-doc-count scalar agg broadcast onto the scored
    // terms (the q80/q86 one-row-total class)
    "q163_tfidf_keywords" -> Set(SinglePartition, Bnlj),
    // exact-truth brute force broadcasts the 4-row query-vector table
    // under a cross join (the q22/q94/q121 class) — the measurement
    // baseline, not the index path being measured
    "q164_ivfpq_recall" -> Set(Bnlj),
    // the lazily-checkpointed query workload (RecallQueryCount·64 =
    // 2048 exploded rows from the TakeOrdered sample) scans as a
    // 1-partition ExistingRDD — constant-size per the sample bound,
    // never data-sized (a checkpointed constant-size sample); the
    // corpus-side search plan itself is q110's, exchange-free on the
    // candidate path
    "q165_persisted_probe" -> Set(SinglePartition),
    // q165's class exactly: the registry-pinned probe runs the same
    // checkpointed constant-size query-sample scan (32 hash-ranked
    // vectors) against the loaded generation; the corpus-side search
    // plan is unchanged
    "q194_registry_pinned_serve" -> Set(SinglePartition),
    // (the former q198/q201 entries — a broadcast-crossJoined ≤1-row
    // verdict — were pruned when resume verification went EAGER: the
    // verdict is collected before the replay plan is built, so the
    // served plan carries only literal cursor columns, no crossJoin,
    // no single-partition fold)
    // (q114/q141/q141c allowlist entries for the dense 256-bucket
    // skeleton crossJoin were PRUNED in r17: their data-scaled group
    // counts moved to the sparse register path — hit buckets only,
    // no skeleton join in the plan at all)
    // 16 sketches × 256-bucket register skeleton (q91 class — the
    // dense-bucket crossJoin is sketches×256 rows, constant, never
    // data-sized; dense stays RIGHT here because the group count is
    // a constant 16, unlike q141's data-scaled groups)
    "q134b_fd_sketch" -> Set(Bnlj),
    // same register skeleton, sketch-only 100 TB form (q134b minus the
    // exact pass — the constant-size dense-bucket crossJoin remains)
    "q134c_fd_sketch_only" -> Set(Bnlj))

  val flags = Seq(SinglePartition, Cartesian, Bnlj)

  final case class Result(name: String, hits: Set[String], error: Option[String]) {
    def unjustified: Set[String] = hits -- justified.getOrElse(name, Set.empty)
    // an errored plan has no hits at all — its allowlist entries are
    // unknown, not stale, so don't advise pruning them
    def stale: Set[String] =
      if (error.nonEmpty) Set.empty else justified.getOrElse(name, Set.empty) -- hits
  }

  /** Driver-harness output contract: the correctness gate row-sorts
    * each gated result in pandas, which cannot sort Array/Map/Struct/
    * Binary cells — a query emitting one at top level ERRS the hard
    * hash signal regardless of value equality (q161 hit exactly this
    * with an `array<bigint>` dhash before it was packed into one long).
    * Returns (query, offending "col: type" list); empty = contract holds.
    * Reads only each query's schema — but plan CONSTRUCTION may run the
    * eager session caches (checkpointed shingle sets, k-means/PQ
    * training), so a lint pass is not free on a cold session. */
  def scalarLint(spark: SparkSession, dir: String): Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.types._
    def sortable(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => false
      case _ => true
    }
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val bad = fn(spark, dir).schema.fields.toSeq.collect {
          case f if !sortable(f.dataType) => s"${f.name}: ${f.dataType.simpleString}"
        }
        if (bad.isEmpty) None else Some(name -> bad)
      } catch { // plan errors are audit()'s finding; fatal VM errors propagate
        case scala.util.control.NonFatal(_) => None
      }
    }
  }

  /** Plan (never execute) every registered query and collect flag hits. */
  def audit(spark: SparkSession, dir: String): Seq[Result] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val p = fn(spark, dir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Result(name, flags.filter(p.contains).toSet, None)
      } catch {
        case e: Throwable => Result(name, Set.empty, Some(e.toString))
      }
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSessions.create(logLevel = "ERROR")
    val results = audit(spark, dir)
    results.foreach { r =>
      val status = r.error match {
        case Some(e) => s"ERROR $e"
        case None if r.unjustified.nonEmpty =>
          s"VIOLATION ${r.unjustified.mkString(", ")}"
        case None if r.hits.nonEmpty => s"justified ${r.hits.mkString(", ")}"
        case None => "clean"
      }
      println(f"[audit] ${r.name}%-22s $status")
    }
    // stale allowlist entries fail the gate too: a query that got CLEANER
    // must have its entry pruned, so the allowlist stays an exact contract
    // that can only shrink (a lingering entry would mask a future
    // regression re-introducing the very flag it once justified)
    results.filter(_.stale.nonEmpty).foreach { r =>
      println(f"[audit] ${r.name}%-22s STALE allowlist entry: ${r.stale.mkString(", ")} — prune it")
    }
    val nonScalar = scalarLint(spark, dir)
    nonScalar.foreach { case (name, cols) =>
      println(f"[audit] $name%-22s NON-SCALAR OUTPUT ${cols.mkString(", ")} — the driver gate cannot sort it")
    }
    val bad = results.count(r =>
      r.unjustified.nonEmpty || r.error.nonEmpty || r.stale.nonEmpty) + nonScalar.size
    spark.stop()
    if (bad > 0) {
      println(s"[audit] FAIL: $bad quer${if (bad == 1) "y" else "ies"} with unjustified scale flags, stale allowlist entries, plan errors, or non-scalar gated outputs")
      sys.exit(1)
    }
    println(s"[audit] PASS: ${results.size} plans, ${results.count(_.hits.nonEmpty)} justified hits, 0 violations")
  }
}

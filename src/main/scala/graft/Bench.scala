package graft
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Driver-run benchmark: times every query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (the driver contract). Also writes the full
  * per-query map to SPARK_GRAFT_BENCH_OUT — the driver-side artifact
  * truncates its tail, losing q100+ every round, so the repo carries
  * its own complete, machine-readable table.
  *
  * Reps default to 3 and every reported number is the per-query
  * MEDIAN: the host shows ~6%/run throughput noise and rep 1 carries
  * one-time JIT/codegen/training costs, so single-shot numbers
  * reported phantom cross-round regressions on untouched sub-second
  * queries (adjudicated in round 12's verdict). The first rep is still
  * timed separately and shipped as `cold` per query, so the one-time
  * cost stays visible instead of polluting the steady-state medians.
  * SPARK_GRAFT_BENCH_REPS=1 restores the old single-shot behavior;
  * the default output file is `bench_times.json` (the cross-round
  * table); a warm-focused run can redirect with SPARK_GRAFT_BENCH_OUT
  * (STATUS.md's table of record uses `bench_warm.json`).
  *
  * Failures are loud: a rep that throws is logged to stderr and
  * recorded as failed (`null` in the maps), not timed. `failed` counts
  * the failed reps on the stdout line and the artifact; the artifact
  * also carries `failures` per query and `cold_total`, the sum of the
  * rep-1 times (the end-to-end cost of one fresh pass). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_times.json")
    val spark = LocalSessions.create()
    // untimed warmup: session init, codegen compiler, parquet footer
    // reads — so the first timed query measures itself, not startup
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").select("l_orderkey").limit(1).count()
      spark.range(100).selectExpr("sum(id)").count()
    } catch { case _: Throwable => () }
    // name order: deterministic run sequence, comparable across rounds.
    // A rep that throws is recorded as failed (None), never timed: its
    // elapsed time would lower the total as if the query had run.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to reps).map { rep =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] $name rep $rep failed: $e")
            None
        }
      }
      val sorted = times.flatten.sorted
      // true median of the reps that ran: average the two middles for
      // an even count (the upper middle alone would report the MAX at
      // reps=2 — i.e. the cold run); no rep ran → no median
      val median =
        if (sorted.isEmpty) None
        else if (sorted.size % 2 == 1) Some(sorted(sorted.size / 2))
        else Some((sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0)
      (name, median, times)
    }
    def num(t: Option[Double]): String = t.fold("null")(_.toString)
    def fmtMap(f: ((String, Option[Double], Seq[Option[Double]])) => String) =
      results.map(r => s"\"${r._1}\":${f(r)}").mkString("{", ",", "}")
    val qs = fmtMap(r => num(r._2))
    val cold = fmtMap(r => num(r._3.head))
    val all = fmtMap(_._3.map(num).mkString("[", ",", "]"))
    val failures = fmtMap(_._3.count(_.isEmpty).toString)
    val failed = results.map(_._3.count(_.isEmpty)).sum
    val total = results.flatMap(_._2).sum
    val coldTotal = results.flatMap(_._3.head).sum
    // the stdout contract line: "queries" carries the medians, "failed"
    // the reps that threw (left out of every median and total)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"failed":$failed,"queries":$qs,"sf":"$sfDir"}"""
    // the repo artifact additionally carries the explicit medians map,
    // the rep-1 colds and their sum, every raw rep, and failed reps per query
    val fileJson =
      s"""{"metric":"total","value":$total,"cold_total":$coldTotal,"unit":"sec","reps":$reps,"failed":$failed,"queries":$qs,"medians":$qs,"cold":$cold,"times":$all,"failures":$failures,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), fileJson + "\n")
    catch { case _: Throwable => () } // stdout line is the contract; the file is best-effort
    println(json)
    spark.stop()
  }
}

package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query seconds over every
  * SparkEntry query.
  *
  * Noise robustness: this VM takes co-tenant CPU bursts (identical sweeps
  * have measured 60-300 s with zero code change), and bursts only ever
  * INFLATE a timing — so each query's MIN over several runs is reported.
  * Crucially the reruns are NOT back-to-back: a burst can last minutes,
  * so three consecutive runs of the same query can all land inside it
  * (round 4 recorded a 1-second query at 77 s min-of-3 that way).
  * Instead the sweep runs in PASSES — pass 1 times every query once, and
  * each later pass re-runs only the queries whose best time is still
  * above a trust threshold. Reruns of one query are therefore separated
  * by every other untrusted query's rerun, which decorrelates them from
  * any one burst window. A genuinely fast query proves itself in one run.
  * The line also records /proc/loadavg before and after the sweep so a
  * noisy-neighbor window is visible in the artifact itself. A query
  * that throws is listed by name under `failed`, never timed, and kept
  * out of the total. The session is `GraftSession.local()`, as in
  * `Verify`.
  */
object Bench {

  private val TrustSec = 0.7 // a run at/below this can't hide a regression
  private val MaxPasses = 4

  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Partitioning stays one shuffle partition per core + DEFAULT AQE
    // coalescing (VERDICT r16 item 2 was investigated, measured, and
    // deliberately NOT "fixed" by forcing size-based coalescing: an A/B
    // with coalescePartitions.parallelismFirst=false + advisory 64m
    // regressed the CPU-heavy byte-small shuffles — er05 +52%, er06
    // +12%, c09 +14% — because their exchanges carry a few MB that AQE
    // then serialized onto 1-2 reducers. Default AQE already merges
    // sub-minPartitionSize reducers, which is the only overhead the tiny
    // metadata shuffles pay; the flat 8-vs-32-core ratios on the slow
    // list are the driver-bound floor, documented per-gate in
    // OPTIMIZATION_r17.md.)
    val spark = GraftSession.local()
    val loadBefore = load1()
    // Hadoop-FS + codegen warmup so the first measured query doesn't
    // absorb one-time JVM initialization.
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count().count()
    // dev-only subset filter (the driver never sets it): same passes/min
    // methodology on a restricted name set for optimization A/B runs
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // A failing query is reported by name and never timed: its runs stop,
    // and it stays out of `queries`, `total` and `n_queries`.
    val failed = scala.collection.mutable.SortedSet.empty[String]
    val best = scala.collection.mutable.Map.empty[String, Double]
    val runCounts = scala.collection.mutable.Map.empty[String, Int]
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      runCounts(name) = runCounts.getOrElse(name, 0) + 1
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        if (t < best.getOrElse(name, Double.MaxValue)) best(name) = t
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        failed += name
        best -= name
      }
    }
    def untrusted(name: String): Boolean = best.get(name).exists(_ > TrustSec)
    named.foreach { case (name, fn) => once(name, fn) }
    var pass = 1
    while (pass < MaxPasses && named.exists { case (n, _) => untrusted(n) }) {
      named.foreach { case (name, fn) => if (untrusted(name)) once(name, fn) }
      pass += 1
    }
    // HONEST ACCOUNTING for shared build families (optimization r17,
    // VERDICT r16 item 3): a family's one-per-JVM build runs inside the
    // first consumer's pass-1 timing, and that consumer's memo-hit rerun
    // then becomes its reported MIN — so the build cost escaped the
    // total. Each family's build seconds now land as their own
    // `__family_<name>` entries, making total = sum(query mins) +
    // sum(family builds). Existing query entries are unchanged.
    val results = best.toMap ++
      queries.SharedBases.familyBuildSeconds.map { case (k, v) =>
        s"__family_$k" -> v
      }
    val loadAfter = load1()
    def fmt(v: Double): String = f"$v%.2f"
    def qmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def names(ns: Iterable[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full per-query detail goes to a file; stdout gets ONE short JSON
    // line. The driver keeps only the LAST 2000 chars of stdout (minus
    // sbt's ~90-char "[success]" trailer), so the printed line must stay
    // well under that or it is truncated head-first and never parses —
    // rounds 1-3 all recorded "parsed": null for exactly this reason.
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":${qmap(results.toSeq.sortBy(_._1))},"failed":${names(failed)},""" +
      s""""runs":${runCounts.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
      s""""load_before":$loadBefore,"load_after":$loadAfter,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(full) finally w.close()
    } catch { case _: Throwable => () }
    // Failures by name (past the first 20, the rest as a count: names
    // run to ~35 chars), then the slowest queries, biggest first, until
    // the line nears the cap.
    val budget = 1600
    val failedField = names(failed.take(20) ++
      Option(failed.size - 20).filter(_ > 0).map(n => s"+$n more"))
    val slowest = results.toSeq.sortBy(-_._2)
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${best.size},""" +
      s""""load_before":$loadBefore,"load_after":$loadAfter,"sf":"$sfDir","failed":$failedField,"queries":"""
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = head.length + 2
    slowest.foreach { case (k, v) =>
      val e = "\"" + k + "\":" + fmt(v)
      if (len + e.length + 1 < budget) { entries += e; len += e.length + 1 }
    }
    println(head + entries.mkString("{", ",", "}") + "}")
    spark.stop()
  }
}

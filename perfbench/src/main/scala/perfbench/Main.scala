package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--spans <file>]
  * Main --selftest --work <dir>
  * }}}
  *
  * One run: build the engine's own session (`GraftSession.local(n, n)`),
  * generate the workload's inputs from the seed, seed and warm up (all of
  * it charged to `setup_s`), drive the workload's fixed script with one
  * client thread for `--seconds`, check every outcome outside the timed
  * region, and print one JSON result as the last line of stdout. With
  * `--trace 1` the metrics are the per-layer ones, from spans the harness
  * records around each call into a layer plus a Spark listener.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, work: String = "", spans: Option[String] = None,
      selftest: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--spans" :: v :: rest => parse(rest, a.copy(spans = Some(v)))
    case "--selftest" :: rest => parse(rest, a.copy(selftest = true))
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  val Workloads: Map[String, Workload] = Map(
    "ingest_backlog" -> Backlog,
    "ingest_bulk" -> Bulk,
    "lake_churn_serve" -> Lake)

  /** Spark's task slots. Both workloads keep them mostly idle (the per-op
    * cost is driver-side planning and commits), so two slots leave the
    * other cores of a small shared host to the driver, GC and JIT; runs
    * on 4 vCPUs spread less across seeds than with four slots. */
  def cores: Int = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors()))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work <dir> is required")
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val load0 = loadavg()
    val cpu0 = cpuTicks()
    val probe0 = cpuProbeMs()
    val t0 = Clock.now
    val spark = graft.GraftSession.local(cores, cores)
    val sessionS = (Clock.now - t0) / 1000
    val code =
      try {
        if (a.selftest) SelfTest.run(spark, work)
        else {
          val w = Workloads.getOrElse(a.workload,
            throw new IllegalArgumentException(
              s"unknown workload '${a.workload}' (${Workloads.keys.toSeq.sorted.mkString(", ")})"))
          val ctx = new Ctx(spark, a.seed, a.seconds, a.trace, work)
          ctx.setup("session_s", sessionS)
          w.run(ctx)
          report(ctx, a, load0, cpu0, probe0)
          0
        }
      } finally spark.stop()
    sys.exit(code)
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** The machine's CPU ticks from /proc/stat: (steal, total). */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Wall time of a fixed single-threaded integer loop: a machine-speed
    * probe, so slow co-tenant windows show beside the load average. */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 0L) ms + 1 else ms // x is never 0: keeps the loop live
  }

  /** VmHWM (peak resident set) of this JVM, in MB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => Double.NaN }

  private def report(ctx: Ctx, a: Args, load0: String, cpu0: (Long, Long),
      probe0: Double): Unit = {
    val cpu1 = cpuTicks()
    val peak = peakRssMb()
    val e2e = ctx.endToEnd ++ Map(
      "setup_s" -> ((ctx.setupParts.values.sum, "s")),
      "peak_rss_mb" -> ((peak, "MB")))
    val metrics =
      if (a.trace) Layers.perLayer(ctx)
      else e2e
    a.spans.foreach(p => Layers.writeSpans(ctx, Paths.get(p)))
    val failures = ctx.checks.failures
    val failedOps = ctx.checks.failedOps
    val attempted = ctx.rec.ops.size
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> (if (a.trace) 1 else 0), "cores" -> cores,
      "loadavg_before" -> load0, "loadavg_after" -> loadavg(),
      "cpu_probe_ms_before" -> probe0, "cpu_probe_ms_after" -> cpuProbeMs(),
      "steal_frac" -> (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2),
      "error_rate" -> (if (attempted == 0) 0.0 else failedOps.toDouble / attempted),
      "failures" -> failures.take(20).toSeq)
    info ++= ctx.info
    info ++= ctx.setupParts.map { case (k, v) => s"setup.$k" -> v }
    if (a.trace) info("end_to_end") = e2e.map { case (k, (v, _)) => k -> v }.toMap
    println("# info " + Json.obj(info.toSeq).s)
    if (failures.nonEmpty)
      System.err.println(s"perfbench: ${failures.size} failed check(s):\n  " +
        failures.take(50).mkString("\n  "))
    println(Json.obj(Seq(
      "correct" -> failures.isEmpty,
      "attempted" -> math.max(1, attempted),
      "failed" -> failedOps,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> u)) }))).s)
  }
}

/** A workload: sets itself up (recording set-up parts on the context),
  * drives its script for the run's seconds, then checks outcomes. */
trait Workload {
  def run(ctx: Ctx): Unit
}

/** Per-run state shared by the harness pieces. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracing: Boolean, val work: Path) {
  val rec = new Recorder(tracing, spark.sparkContext)
  val listener: Option[JobListener] =
    if (tracing) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val checks = new Checks
  /** Set-up parts in seconds, summed into `setup_s`. */
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  /** End-to-end metrics the workload computed: name -> (value, unit). */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer counts and timings the workload measured itself. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Extra descriptive fields for the info line. */
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** What the per-layer report reads back from the workload's run. */
  var ingest: Option[IngestTrace] = None
  var lake: Option[LakeTrace] = None
  /** The timed window, on [[Clock]]. */
  var windowStart = 0.0
  var windowEnd = 0.0

  def setup(name: String, s: Double): Unit = setupParts(name) = s

  def timeSetup[T](name: String)(body: => T): T = {
    val t0 = Clock.now
    val r = body
    setup(name, (Clock.now - t0) / 1000)
    r
  }

  def windowS: Double = (windowEnd - windowStart) / 1000
}

/** Outcome checks. A mismatch names the op it belongs to; `failedOps`
  * counts distinct ops with at least one mismatch (plus checks that
  * belong to no single op). */
final class Checks {
  private val byOp = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[String]]
  private val loose = mutable.ArrayBuffer.empty[String]

  def fail(opId: Int, what: String): Unit =
    if (opId < 0) loose += what
    else byOp.getOrElseUpdate(opId, mutable.ArrayBuffer.empty) += what

  def expect(cond: Boolean, opId: Int, what: => String): Unit =
    if (!cond) fail(opId, what)

  def failures: Seq[String] =
    byOp.toSeq.flatMap { case (id, ws) => ws.map(w => s"op $id: $w") } ++ loose

  def failedOps: Int = byOp.size + loose.size
}

/** Minimal JSON writer for the result lines. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).s
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case j: Raw => j.s
    case other => quote(other.toString)
  }

  final case class Raw(s: String)

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

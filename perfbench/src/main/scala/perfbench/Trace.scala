package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed operation of a workload's script: its kind (`file`, `append`,
  * `search`, ...), its wall interval on the benchmark's clock, whether it
  * ended with the outcome the script expected, and a label naming it in
  * failure reports. */
final case class Op(id: Int, kind: String, label: String, startMs: Double,
    endMs: Double, ok: Boolean) {
  def ms: Double = endMs - startMs
}

/** A span around one layer boundary. `parent` is the enclosing span's id
  * (-1 at an op's root) and `op` the id of the op it belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** The benchmark's clock: milliseconds since the run started, from
  * `nanoTime`, plus the epoch offset Spark's listener timestamps need. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now: Double = (System.nanoTime() - nano0) / 1e6
  /** Spark event times are epoch milliseconds; map them onto `now`. */
  def fromEpoch(ms: Long): Double = ms - epoch0
}

/** Records ops (always) and spans (only when tracing). Everything stays in
  * memory until the run ends. Ops run on the one client thread, so the span
  * stack needs no locking; Spark jobs are attributed to the current op
  * through a local property the listener reads back. */
final class Recorder(val tracing: Boolean, sc: org.apache.spark.SparkContext) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextOp = 0
  private var nextSpan = 0
  private var open: List[(Int, String, Double)] = Nil
  private var curOp = -1
  private var curKind = ""
  private var curLabel = ""
  private var curStart = 0.0

  def currentOp: Int = curOp

  private var polls = 0

  /** Between ops of a queue poll: its own jobs (envelope parsing) are
    * attributed to the poll. */
  def setPoll(): Unit = sc.setLocalProperty(Recorder.OpProperty, s"poll#$polls")
  def nextPoll(): Unit = { polls += 1; setPoll() }
  def clearPoll(): Unit = sc.setLocalProperty(Recorder.OpProperty, null)

  /** Starts an op; the next Spark jobs on this thread belong to it. */
  def beginOp(kind: String, label: String): Int = {
    curOp = nextOp; nextOp += 1
    curKind = kind; curLabel = label; curStart = Clock.now
    sc.setLocalProperty(Recorder.OpProperty, s"$kind#$curOp")
    curOp
  }

  def endOp(ok: Boolean): Op = {
    val op = Op(curOp, curKind, curLabel, curStart, Clock.now, ok)
    ops += op
    sc.setLocalProperty(Recorder.OpProperty, null)
    curOp = -1
    op
  }

  /** Runs `body` inside a span named `name` (a no-op when not tracing). */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = openSpan(name)
      try body finally closeSpan(id)
    }

  def openSpan(name: String): Int = {
    val id = nextSpan; nextSpan += 1
    open = (id, name, Clock.now) :: open
    id
  }

  def closeSpan(id: Int): Unit = {
    val (before, rest) = open.span(_._1 != id)
    require(rest.nonEmpty, s"span $id is not open")
    val (_, name, start) = rest.head
    val parent = rest.tail.headOption.map(_._1).getOrElse(-1)
    spans += Span(id, name, parent, curOp, start, Clock.now)
    open = before ++ rest.tail
  }
}

object Recorder {
  val OpProperty = "perfbench.op"
}

/** Spark-side counts per op, from the scheduler's own events: jobs with
  * their intervals, and per job the tasks run, executor run time and
  * shuffle bytes. Registered only in traced runs. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val op: String, val startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    var tasks = 0L
    var runMs = 0L
    var shuffleBytes = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpProperty)))
      .getOrElse("")
    val j = new Job(e.jobId, op, Clock.fromEpoch(e.time))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = Clock.fromEpoch(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  /** Waits (bounded) until every started job has reported its end: the
    * listener bus is asynchronous. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs.isNaN) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events of the last stage
  }

  def all: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Order statistics over latency samples. */
object Stats {
  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest percentile with at least ten of `n` samples beyond it;
    * the median when there are fewer than twenty. */
  def tailPct(n: Int): Double = math.max(50.0, 100.0 * (n - 10) / math.max(1, n))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Geometric mean: every sample weighs the same on a log scale, so a
    * mix of cheap and expensive ops does not make it jump between kinds
    * the way a median of a small mixed sample does. */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

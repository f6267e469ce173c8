package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.domain.IngestionStatus
import graft.ports.FileSource
import graft.sources.LocalFileSource

import Ingest._

/** Shape of one ingestion workload: how its drops are generated and
  * grouped into messages. */
abstract class IngestWorkload extends Workload {

  /** The drops of one input set, in queue order, grouped per message: the
    * timed set of a run of `seconds`, or (`warm`) the warm-up set. */
  def generate(root: Path, seed: Long, seconds: Double, warm: Boolean): IndexedSeq[Seq[Drop]]

  /** Wraps the file source (the self-test injects faults here). */
  def source(root: Path): FileSource = new LocalFileSource(root.toString)

  /** Wraps the sink rig (the self-test injects faults here). */
  def rig(root: Path, rec: Recorder): Rig = new Rig(root, rec)

  override def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val in = ctx.work.resolve("in")
    val messages = ctx.timeSetup("generate_s")(generate(in, ctx.seed, ctx.seconds, warm = false))
    ctx.timeSetup("warmup_s") {
      // a separate input set, rig and sink: JIT, codegen and the Hadoop
      // file system warm up on the same formats without touching the
      // timed run's tables
      val wroot = ctx.work.resolve("warm")
      val wmsgs = generate(wroot, ctx.seed ^ 0x5eedL, ctx.seconds, warm = true)
      val wrec = new Recorder(false, spark.sparkContext)
      Ingest.drain(spark, new Rig(wroot, wrec), new BenchQueue(wmsgs),
        new LocalFileSource(wroot.toString), mutable.ArrayBuffer.empty)
    }
    val queue = new BenchQueue(messages)
    val r = rig(ctx.work.resolve("out"), ctx.rec)
    val polls = mutable.ArrayBuffer.empty[(Double, Double)]
    ctx.windowStart = Clock.now
    val runs = Ingest.drain(spark, r, queue, source(in), polls)
    ctx.windowEnd = Clock.now
    ctx.listener.foreach(_.settle())
    check(ctx, r, queue, runs)
    metrics(ctx, r, runs, polls.toSeq)
  }

  private def check(ctx: Ctx, rig: Rig, queue: BenchQueue, runs: Seq[FileRun]): Unit = {
    val c = ctx.checks
    // outcome of each file as the poller saw it
    runs.foreach { fr =>
      (fr.drop.expect, fr.result) match {
        case (Lands(table, rows), Right(res)) =>
          c.expect(res.targetTable == table, fr.op.id,
            s"${fr.drop.key}: routed to ${res.targetTable}, expected $table")
          c.expect(res.rowsWritten == rows, fr.op.id,
            s"${fr.drop.key}: sink reported ${res.rowsWritten} rows, generated $rows")
        case (Lands(table, rows), Left(e)) =>
          c.fail(fr.op.id, s"${fr.drop.key}: expected $rows rows in $table, threw " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
        case (Refused(_), Left(_)) => ()
        case (Refused(kind), Right(res)) =>
          c.fail(fr.op.id, s"${fr.drop.key}: planted bad drop ($kind) landed " +
            s"${res.rowsWritten} rows in ${res.targetTable}")
      }
    }
    // the audit log: exactly one closed entry per file, with its outcome
    val audit = rig.logs.all.groupBy(_.fileName)
    runs.foreach { fr =>
      val name = s"$Bucket/${fr.drop.key}"
      val want = fr.drop.expect match {
        case _: Lands => IngestionStatus.Success
        case _: Refused => IngestionStatus.Failed
      }
      val got = audit.getOrElse(name, Nil)
      c.expect(got.size == 1 && got.head.status == want && got.head.endTime.isDefined,
        fr.op.id, s"${fr.drop.key}: audit log has ${got.map(_.status).mkString("[", ",", "]")}" +
          s", expected one closed $want")
    }
    // rows read back per table, per (file_name, log_id), fully collected
    val expected: Map[(String, String), Long] = runs.collect {
      case FileRun(_, Drop(key, _, Lands(_, rows), _), _, Right(res)) =>
        (s"$Bucket/$key", res.logId) -> rows
    }.toMap
    val opOf = runs.map(fr => s"$Bucket/${fr.drop.key}" -> fr.op.id).toMap
    val got = mutable.Map.empty[(String, String), Long]
    val tables = if (Files.isDirectory(rig.sinkDir))
      Files.list(rig.sinkDir).iterator().asScala.filter(Files.isDirectory(_)).toSeq else Nil
    tables.foreach { t =>
      ctx.spark.read.parquet(t.toString)
        .groupBy(col("file_name"), col("log_id")).count().collect()
        .foreach(r => got((r.getString(0), r.getString(1))) = r.getLong(2))
    }
    (expected.keySet ++ got.keySet).foreach { k =>
      val (e, g) = (expected.getOrElse(k, 0L), got.getOrElse(k, 0L))
      c.expect(e == g, opOf.getOrElse(k._1, -1),
        s"${k._1} (log_id ${k._2}): read back $g rows, expected $e")
    }
    // acks: exactly the delivered messages whose files all succeeded
    val runsByMsg = runs.groupBy(_.msg)
    queue.delivered.foreach { m =>
      val files = runsByMsg.getOrElse(m, Nil)
      c.expect(files.size == queue.messages(m).size, -1,
        s"message $m: ${files.size} of ${queue.messages(m).size} files run")
      val shouldAck = files.nonEmpty && files.forall(_.result.isRight)
      c.expect(queue.acked(m) == shouldAck, files.headOption.map(_.op.id).getOrElse(-1),
        s"message $m: acked=${queue.acked(m)}, expected $shouldAck")
    }
  }

  private def metrics(ctx: Ctx, rig: Rig, runs: Seq[FileRun],
      polls: Seq[(Double, Double)]): Unit = {
    val window = ctx.windowS
    val failed = ctx.checks.failures.nonEmpty
    // a failed op is never scored fast: its sample is at least the window
    val bad = runs.filter(fr => !fr.op.ok && fr.drop.expect.isInstanceOf[Lands]).map(_.op.id).toSet
    def sample(fr: FileRun) = if (bad(fr.op.id)) math.max(fr.op.ms, window * 1000) else fr.op.ms
    val all = runs.map(sample)
    val landing = runs.filter(_.drop.expect.isInstanceOf[Lands]).map(sample)
    val rows = runs.collect { case FileRun(_, _, _, Right(res)) => res.rowsWritten }.sum
    val inBytes = runs.filter(_.result.isRight).map(_.drop.bytes).sum
    val e = ctx.endToEnd
    e("rows_per_s") = (rows / window, "rows/s")
    e("ops_per_s") = (runs.size / window, "1/s")
    e("op_ms_gmean") = (Stats.gmean(all), "ms")
    e("write_ms_gmean") = (Stats.gmean(landing), "ms")
    ctx.layer("ingest.file_ms_p50") = Stats.median(all)
    val tailPct = Stats.tailPct(all.size)
    ctx.layer("tail.op_ms") = Stats.pct(all, tailPct)
    e("space_amp") = (Layers.treeBytes(rig.sinkDir).toDouble / math.max(1L, inBytes), "ratio")
    ctx.info("tail_pct") = tailPct
    ctx.info("op_samples") = all.size
    ctx.info("write_samples") = landing.size
    ctx.info("files") = runs.size
    ctx.info("polls") = polls.size
    ctx.info("rows") = rows
    ctx.info("window_s") = window
    ctx.info("op_ms") = runs.map(fr => math.round(fr.op.ms))
    ctx.info("formats") = runs.groupBy(_.drop.fmt).map { case (f, xs) => f -> xs.size }
    if (failed) ctx.info("check_failed") = true
    ctx.ingest = Some(IngestTrace(runs, polls, rig.sink.map(_.added.toMap).getOrElse(Map.empty)))
  }
}

/** What the per-layer report needs from an ingestion run. */
final case class IngestTrace(runs: Seq[FileRun], polls: Seq[(Double, Double)],
    sinkAdds: Map[Int, (Long, Long, Long)])

object Backlog extends IngestWorkload {
  /** One cycle of 20 drops: every routed format, with one planted bad drop
    * (5%) whose kind rotates across cycles (malformed xml first). The cycle
    * fixes the format mix and each drop's size stratum, so every window
    * samples the same mix and about the same bytes per format; the seed
    * picks row counts within the strata, contents, message grouping and
    * which workbook rule a drop takes. */
  val Cycle: Seq[String] = Seq("csv", "jsonl", "json", "csv_noheader", "xml", "txt", "csv_gz",
    "xlsx", "csv", "jsonl", "txt", "json", "csv_gz", "xml", "csv", "xlsx", "jsonl",
    "csv_noheader", "txt", "bad")
  /** Window wall of one cycle on a 4-core VM, warm (5-7 s). A run queues
    * one cycle per NominalCycleS of --seconds (2 at 10 s) and drains them
    * all, so every run of one configuration replays the same drops,
    * however fast the machine. The warm-up drains one cycle of its own
    * drops, so JIT and codegen mostly settle before the window opens (the
    * first timed files still run slower than later ones; a longer warm-up
    * would not fit the benchmark's time budget). */
  val NominalCycleS = 5.0
  def cycles(seconds: Double): Int = math.max(1, math.round(seconds / NominalCycleS).toInt)

  override def generate(root: Path, seed: Long, seconds: Double,
      warm: Boolean): IndexedSeq[Seq[Drop]] = {
    val r = new SplittableRandom(seed)
    val n = if (warm) 1 else cycles(seconds)
    val drops = (0 until n).flatMap { c =>
      // 10^2..10^3 rows, log-uniform and stratified: drop i of a cycle
      // draws its size from the i-th of 20 equal log-width strata, so every
      // cycle carries about the same rows and bytes in each format
      Cycle.zipWithIndex.map { case (fmt, i) =>
        val name = f"c$c%03d_$i%02d"
        val stratum = (i + r.nextDouble()) / Cycle.size
        if (fmt == "bad") writeBad(root, name, BadKinds(c % BadKinds.size), r)
        else writeDrop(root, name, fmt, math.round(math.pow(10, 2 + stratum)), r)
      }
    }
    // 1-3 records per message
    val msgs = mutable.ArrayBuffer.empty[Seq[Drop]]
    var i = 0
    while (i < drops.size) {
      val n = 1 + r.nextInt(3)
      msgs += drops.slice(i, i + n)
      i += n
    }
    msgs.toIndexedSeq
  }
}

object Bulk extends IngestWorkload {
  /** Large line-format drops, one per message: (format, rows). */
  val Cycle: Seq[(String, Long)] = Seq(
    "csv" -> 400000L, "jsonl" -> 200000L, "csv_gz" -> 200000L, "txt" -> 400000L,
    "xml" -> 100000L)
  /** Distinct files per format: one per 10 s of --seconds. */
  def copies(seconds: Double): Int = math.max(1, math.round(seconds / 10).toInt)
  val WarmRows = 20000L

  override def generate(root: Path, seed: Long, seconds: Double,
      warm: Boolean): IndexedSeq[Seq[Drop]] = {
    val r = new SplittableRandom(seed)
    val copies = if (warm) 1 else this.copies(seconds)
    (0 until copies).flatMap { c =>
      Cycle.map { case (fmt, rows) =>
        Seq(writeDrop(root, f"bulk$c%02d_$fmt", fmt, if (warm) WarmRows else rows, r))
      }
    }.toIndexedSeq
  }
}

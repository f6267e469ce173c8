package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.domain.{FileToProcess, IngestionConfigRule, IngestionLog}
import graft.pipeline.IngestionPipeline
import graft.ports._
import graft.rules.RuleMatcher
import graft.sinks.{ParquetLogRepository, ParquetSink}
import graft.streaming.QueuePoller

/** The ingestion workloads: S3-event envelopes on an in-memory queue,
  * drained by one `QueuePoller` through `IngestionPipeline.processFile`
  * into `ParquetSink` + `ParquetLogRepository` — the reference service's
  * own traffic, with the pipeline's five ports wrapped from outside. */
object Ingest {

  val Bucket = "ingest-bucket"

  /** The seed rules plus routes for line-JSON and gzip'd line files. */
  val Rules: Seq[IngestionConfigRule] = RuleMatcher.seedRules ++ Seq(
    IngestionConfigRule(".*\\.jsonl$", "jsonl_data"),
    IngestionConfigRule(".*\\.gz$", "gz_data"))

  /** Every format a drop can take; the names key the per-format metrics. */
  val Formats: Seq[String] =
    Seq("csv", "csv_noheader", "json", "jsonl", "xml", "txt", "xlsx", "csv_gz")

  /** What a drop must end as: rows in a table, or a Failed audit entry. */
  sealed trait Expect
  final case class Lands(table: String, rows: Long) extends Expect
  final case class Refused(kind: String) extends Expect

  final case class Drop(key: String, fmt: String, expect: Expect, bytes: Long)

  // ------------------------------------------------------------ generation

  private val Names = Vector("ada", "bo", "cy", "di", "eve", "fay", "gus", "hal", "ivy", "jo",
    "kai", "lu", "max", "ned", "ola", "pam")
  private val Cities = Vector("paris", "lyon", "oslo", "lima", "kyiv", "rome", "bonn", "cork")
  private val Levels = Vector("INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG")

  private final class Person(r: SplittableRandom, val id: Long) {
    val name: String = Names(r.nextInt(Names.size)) + r.nextInt(1000)
    val age: Int = 18 + r.nextInt(70)
    val email: String = s"$name@example.org"
    val city: String = Cities(r.nextInt(Cities.size))
    val amount: String = f"${r.nextInt(100000) / 100.0}%.2f"
  }

  private def writeTo(p: Path)(f: Writer => Unit): Long = {
    Files.createDirectories(p.getParent)
    val w = new OutputStreamWriter(new BufferedOutputStream(new FileOutputStream(p.toFile), 1 << 16), UTF_8)
    try f(w) finally w.close()
    Files.size(p)
  }

  private def gzipTo(p: Path)(f: Writer => Unit): Long = {
    Files.createDirectories(p.getParent)
    val w = new OutputStreamWriter(new GZIPOutputStream(
      new BufferedOutputStream(new FileOutputStream(p.toFile), 1 << 16), 1 << 16), UTF_8)
    try f(w) finally w.close()
    Files.size(p)
  }

  private def csvRows(w: Writer, r: SplittableRandom, rows: Long, header: Boolean): Unit = {
    if (header) w.write("id,name,age,email,city,amount\n")
    var i = 0L
    while (i < rows) {
      val p = new Person(r, i)
      if (header) w.write(s"$i,${p.name},${p.age},${p.email},${p.city},${p.amount}\n")
      else w.write(s"${p.name},${p.age},${p.email},${p.city}\n")
      i += 1
    }
  }

  private def jsonObj(p: Person): String =
    s"""{"id":${p.id},"name":"${p.name}","age":${p.age},"city":"${p.city}","amount":${p.amount}}"""

  private def txtLine(r: SplittableRandom, i: Long): String =
    f"2026-01-${1 + (i / 86400) % 28}%02dT${(i / 3600) % 24}%02d:${(i / 60) % 60}%02d:${i % 60}%02dZ " +
      s"${Levels(r.nextInt(Levels.size))} svc-${r.nextInt(16)} request ${r.nextLong() & 0xffffffL} " +
      s"took ${r.nextInt(5000)}ms"

  private def xlsx(p: Path, r: SplittableRandom, rows: Long): Long = {
    Files.createDirectories(p.getParent)
    val z = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(p.toFile)))
    def entry(name: String)(f: OutputStream => Unit): Unit = {
      z.putNextEntry(new ZipEntry(name)); f(z); z.closeEntry()
    }
    def cell(ref: String, v: String) = s"""<c r="$ref" t="inlineStr"><is><t>$v</t></is></c>"""
    try {
      entry("[Content_Types].xml")(_.write(("""<?xml version="1.0" encoding="UTF-8"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""").getBytes(UTF_8)))
      entry("xl/workbook.xml")(_.write(("""<workbook><sheets><sheet name="s1" sheetId="1"/>""" +
        "</sheets></workbook>").getBytes(UTF_8)))
      entry("xl/worksheets/sheet1.xml") { out =>
        val sb = new StringBuilder("<worksheet><sheetData>")
        sb ++= s"""<row r="1">${cell("A1", "name")}${cell("B1", "age")}${cell("C1", "city")}</row>"""
        var i = 0L
        while (i < rows) {
          val q = new Person(r, i)
          val n = i + 2
          sb ++= s"""<row r="$n">${cell(s"A$n", q.name)}<c r="B$n"><v>${q.age}</v></c>${cell(s"C$n", q.city)}</row>"""
          i += 1
        }
        sb ++= "</sheetData></worksheet>"
        out.write(sb.toString.getBytes(UTF_8))
      }
    } finally z.close()
    Files.size(p)
  }

  /** Writes one drop of format `fmt` with `rows` rows under `root/Bucket`. */
  def writeDrop(root: Path, name: String, fmt: String, rows: Long, r: SplittableRandom): Drop = {
    val base = root.resolve(Bucket)
    def at(key: String) = base.resolve(key)
    fmt match {
      case "csv" =>
        val k = s"drops/$name.csv"
        Drop(k, fmt, Lands("csv_data", rows), writeTo(at(k))(csvRows(_, r, rows, header = true)))
      case "csv_noheader" =>
        val k = s"drops/${name}_test_no_headers.csv"
        Drop(k, fmt, Lands("csv_no_headers_data", rows),
          writeTo(at(k))(csvRows(_, r, rows, header = false)))
      case "csv_gz" =>
        val k = s"drops/$name.csv.gz"
        Drop(k, fmt, Lands("gz_data", rows), gzipTo(at(k))(csvRows(_, r, rows, header = true)))
      case "json" =>
        val k = s"drops/$name.json"
        Drop(k, fmt, Lands("json_data", rows), writeTo(at(k)) { w =>
          w.write("[\n")
          var i = 0L
          while (i < rows) {
            if (i > 0) w.write(",\n")
            w.write(jsonObj(new Person(r, i))); i += 1
          }
          w.write("\n]\n")
        })
      case "jsonl" =>
        val k = s"drops/$name.jsonl"
        Drop(k, fmt, Lands("jsonl_data", rows), writeTo(at(k)) { w =>
          var i = 0L
          while (i < rows) { w.write(jsonObj(new Person(r, i))); w.write("\n"); i += 1 }
        })
      case "xml" =>
        val k = s"drops/$name.xml"
        Drop(k, fmt, Lands("xml_data", rows), writeTo(at(k)) { w =>
          w.write("<?xml version=\"1.0\"?>\n<records>\n")
          var i = 0L
          while (i < rows) {
            val p = new Person(r, i)
            w.write(s"""<record id="$i"><name>${p.name}</name><age>${p.age}</age>""" +
              s"<city>${p.city}</city></record>\n")
            i += 1
          }
          w.write("</records>\n")
        })
      case "txt" =>
        val k = s"logs/$name.txt"
        Drop(k, fmt, Lands("text_logs", rows), writeTo(at(k)) { w =>
          var i = 0L
          while (i < rows) { w.write(txtLine(r, i)); w.write("\n"); i += 1 }
        })
      case "xlsx" =>
        // half the workbooks route through the reports/ rule
        val k = if (r.nextBoolean()) s"reports/$name.xlsx" else s"drops/$name.xlsx"
        Drop(k, fmt, Lands(if (k.startsWith("reports/")) "excel_reports" else "excel_data", rows),
          xlsx(at(k), r, rows))
      case other => throw new IllegalArgumentException(s"unknown format $other")
    }
  }

  /** The planted bad drops: each must end Failed and stay unacked. */
  val BadKinds: Seq[String] = Seq("malformed_xml", "no_rule", "unsupported_ext")

  def writeBad(root: Path, name: String, kind: String, r: SplittableRandom): Drop = {
    val base = root.resolve(Bucket)
    val (key, body) = kind match {
      case "no_rule" => (s"drops/$name.bin", "\u0000\u0001binary")
      case "unsupported_ext" => (s"drops/$name.xml.gz", "<records/>")
      case "malformed_json" =>
        (s"drops/$name.json", s"""[{"id": 1, "name": "${Names(r.nextInt(Names.size))}"}, {"id": 2, "na""")
      case "malformed_xml" => (s"drops/$name.xml", "<records><record id=\"1\"><name>x</na")
    }
    val p = base.resolve(key)
    Files.createDirectories(p.getParent)
    Files.writeString(p, body)
    Drop(key, "bad", Refused(kind), Files.size(p))
  }

  /** One S3 ObjectCreated envelope naming `keys`. */
  def envelope(keys: Seq[String]): String =
    keys.map(k => s"""{"s3":{"bucket":{"name":"$Bucket"},"object":{"key":"$k"}}}""")
      .mkString("""{"Records":[""", ",", "]}")

  // ----------------------------------------------------------- the ports

  /** A pre-filled SQS-shaped queue: each message is delivered once, in
    * order (no visibility expiry inside a run), and deletes are recorded. */
  final class BenchQueue(val messages: IndexedSeq[Seq[Drop]]) extends QueueSource {
    private var next = 0
    val delivered = mutable.ArrayBuffer.empty[Int]
    val acked = mutable.Set.empty[Int]
    def remaining: Int = messages.size - next
    override def receive(maxMessages: Int, waitSeconds: Int): Seq[QueueMessage] = {
      val n = math.min(maxMessages, messages.size - next)
      val out = (next until next + n).map { i =>
        delivered += i
        QueueMessage(envelope(messages(i).map(_.key)), s"rh-$i")
      }
      next += n
      out
    }
    override def delete(receiptHandle: String): Unit =
      acked += receiptHandle.stripPrefix("rh-").toInt
  }

  /** Audit-log port decorator. `insertLog` is the first call
    * `processFile` makes, so it opens the file's op (and its root span);
    * the poller's result callback closes it. Both modes need it: it is
    * where the per-file wall starts. */
  final class OpLog(inner: ParquetLogRepository, rec: Recorder) extends LogRepository {
    var rootSpan = -1
    override def insertLog(log: IngestionLog): String = {
      rec.beginOp("file", log.fileName)
      if (rec.tracing) rootSpan = rec.openSpan("file")
      rec.span("sinks.audit")(inner.insertLog(log))
    }
    override def updateLog(logId: String, endTime: Timestamp, status: String,
        message: Option[String]): Unit =
      rec.span("sinks.audit")(inner.updateLog(logId, endTime, status, message))
  }

  final class TracedQueue(inner: QueueSource, rec: Recorder) extends QueueSource {
    override def receive(maxMessages: Int, waitSeconds: Int): Seq[QueueMessage] =
      rec.span("streaming.receive")(inner.receive(maxMessages, waitSeconds))
    override def delete(receiptHandle: String): Unit =
      rec.span("streaming.ack")(inner.delete(receiptHandle))
  }

  final class TracedRules(inner: ConfigRepository, rec: Recorder) extends ConfigRepository {
    override def allRules: Seq[IngestionConfigRule] = inner.allRules
    override def findBestMatch(key: String): Option[IngestionConfigRule] =
      rec.span("rules.match")(inner.findBestMatch(key))
  }

  final class TracedSource(inner: FileSource, rec: Recorder) extends FileSource {
    override def resolve(file: FileToProcess): String =
      rec.span("sources.resolve")(inner.resolve(file))
  }

  /** Sink decorator: times the write and, outside that span, counts the
    * parquet files and bytes the write added to its table. */
  final class TracedSink(inner: ParquetSink, rec: Recorder) extends DataSink {
    val added = mutable.Map.empty[Int, (Long, Long, Long)] // op -> (files, bytes, rows)
    override def write(df: DataFrame, targetTable: String): Long = {
      val dir = java.nio.file.Paths.get(inner.tablePath(targetTable))
      val before = parquetFiles(dir)
      val rows = rec.span("sinks.write")(inner.write(df, targetTable))
      val fresh = parquetFiles(dir) -- before.keySet
      added(rec.currentOp) = (fresh.size.toLong, fresh.values.sum, rows)
      rows
    }
  }

  def parquetFiles(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** A pipeline whose ports are wrapped as tracing asks. */
  final class Rig(root: Path, val rec: Recorder, fault: DataSink => DataSink = identity) {
    val sinkDir: Path = root.resolve("sink")
    val logs = new ParquetLogRepository(root.resolve("audit").toString)
    val rawSink = new ParquetSink(sinkDir.toString)
    val sink: Option[TracedSink] = if (rec.tracing) Some(new TracedSink(rawSink, rec)) else None
    val log = new OpLog(logs, rec)
    def pipeline(source: FileSource): IngestionPipeline = {
      val rules = new RuleMatcher(Rules)
      if (rec.tracing)
        new IngestionPipeline(new TracedSource(source, rec), new TracedRules(rules, rec),
          fault(sink.get), log)
      else new IngestionPipeline(source, rules, fault(rawSink), log)
    }
  }

  /** Outcome of one file as the poller reported it. */
  final case class FileRun(op: Op, drop: Drop, msg: Int,
      result: Either[Throwable, IngestionPipeline#Result])

  /** Drains `queue` through a rig until it is empty, one pollOnce at a
    * time. Returns the files run. */
  def drain(spark: SparkSession, rig: Rig, queue: BenchQueue, source: FileSource,
      polls: mutable.ArrayBuffer[(Double, Double)]): Seq[FileRun] = {
    val rec = rig.rec
    val byKey = queue.messages.zipWithIndex.flatMap { case (ds, i) => ds.map(d => d.key -> (d, i)) }.toMap
    val runs = mutable.ArrayBuffer.empty[FileRun]
    def done(r: Either[Throwable, IngestionPipeline#Result], f: FileToProcess): Unit = {
      if (rig.log.rootSpan >= 0) { rec.closeSpan(rig.log.rootSpan); rig.log.rootSpan = -1 }
      val op = rec.endOp(ok = r.isRight)
      rec.setPoll()
      val (d, m) = byKey(f.key)
      runs += FileRun(op, d, m, r)
    }
    val poller = new QueuePoller(
      if (rec.tracing) new TracedQueue(queue, rec) else queue,
      rig.pipeline(source), maxMessages = 10, waitSeconds = 0,
      onResult = {
        case Right(res) => done(Right(res), res.file)
        case Left((f, e)) => done(Left(e), f)
      })
    while (queue.remaining > 0) {
      val p0 = Clock.now
      rec.nextPoll()
      rec.span("streaming.poll")(poller.pollOnce(spark))
      polls += ((p0, Clock.now))
    }
    rec.clearPoll()
    runs.toSeq
  }
}

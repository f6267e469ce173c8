package graft.pipeline

import java.nio.file.{Files, Path}
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.domain._
import graft.rules.RuleMatcher
import graft.sinks.{ParquetLogRepository, ParquetSink}
import graft.sources.LocalFileSource

/** A drop that fits in one scan split costs one Spark job, its sink
  * write, with no shuffle: parsers read headers, schemas and line counts
  * on the driver. */
class IngestJobsSpec extends SparkSpec {

  private val Bucket = "b"

  private final class Rig {
    val base: Path = Files.createTempDirectory("ingest_jobs")
    val logs = new ParquetLogRepository(base.resolve("logs").toString)
    val sink = new ParquetSink(base.resolve("sink").toString)
    val pipeline = new IngestionPipeline(new LocalFileSource(base.toString),
      new RuleMatcher(RuleMatcher.seedRules ++ Seq(
        IngestionConfigRule(".*\\.jsonl$", "jsonl_data"), IngestionConfigRule(".*\\.gz$", "gz_data"))),
      sink, logs)

    def put(key: String, bytes: Array[Byte]): FileToProcess = {
      val p = base.resolve(Bucket).resolve(key)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      FileToProcess(Bucket, key)
    }

    def parquetFiles(table: String): Int = {
      val dir = java.nio.file.Paths.get(sink.tablePath(table))
      if (!Files.exists(dir)) 0
      else Files.walk(dir).filter(_.toString.endsWith(".parquet")).count().toInt
    }
  }

  private val rows = 40
  private def utf8(s: String) = s.getBytes("UTF-8")
  private def csv = ("id,name\n" + (1 to rows).map(i => s"$i,n$i\n").mkString)
  private def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(b); gz.close()
    out.toByteArray
  }
  private def xlsx: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(out)
    def cell(ref: String, v: String) = s"""<c r="$ref" t="inlineStr"><is><t>$v</t></is></c>"""
    z.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    z.write(utf8("<worksheet><sheetData>" + s"""<row r="1">${cell("A1", "name")}</row>""" +
      (2 to rows + 1).map(r => s"""<row r="$r">${cell(s"A$r", s"n$r")}</row>""").mkString +
      "</sheetData></worksheet>"))
    z.closeEntry(); z.close()
    out.toByteArray
  }

  private val drops: Seq[(String, String, () => Array[Byte])] = Seq(
    ("csv", "drops/t.csv", () => utf8(csv)),
    ("csv with rule headers", "drops/x_test_no_headers.csv",
      () => utf8((1 to rows).map(i => s"n$i,$i,e$i,c$i\n").mkString)),
    ("csv.gz", "drops/t.csv.gz", () => gzip(utf8(csv))),
    ("json", "drops/t.json", () => utf8((1 to rows).map(i => s"""{"id":$i,"name":"n$i"}""").mkString("[", ",", "]"))),
    ("jsonl", "drops/t.jsonl", () => utf8((1 to rows).map(i => s"""{"id":$i,"name":"n$i"}\n""").mkString)),
    ("xml", "drops/t.xml", () => utf8((1 to rows).map(i => s"""<record id="$i"><name>n$i</name></record>""")
      .mkString("<records>", "\n", "</records>"))),
    ("txt", "logs/t.txt", () => utf8((1 to rows).map(i => s"line $i\n").mkString)),
    ("xlsx", "drops/t.xlsx", () => xlsx))

  for ((name, key, bytes) <- drops)
    test(s"$name drop: processFile runs one job, with no shuffle stage") {
      val rig = new Rig
      val file = rig.put(key, bytes())
      var result: IngestionPipeline#Result = null
      val jobs = jobStartsDuring { result = rig.pipeline.processFile(spark, file) }
      assert(result.rowsWritten == rows)
      assert(jobs.map(_.stageInfos.size) == Seq(1), "one job, one stage")
    }

  test("xlsx drop: ParquetSink adds one parquet file") {
    val rig = new Rig
    rig.pipeline.processFile(spark, rig.put("drops/t.xlsx", xlsx))
    assert(rig.parquetFiles("excel_data") == 1)
  }

  test("txt over 3 splits: one count job, then the write; the window's numbering") {
    val rig = new Rig
    val text = (1 to 300).map(i => s"line ${"x" * (i % 17)} $i\n").mkString
    val file = rig.put("logs/t.txt", utf8(text))
    val path = rig.base.resolve(Bucket).resolve("logs/t.txt").toString
    val splitBytes = (text.length + 2) / 3
    spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes.toString)
    try {
      assert(spark.read.text(path).rdd.getNumPartitions == 3)
      val jobs = jobStartsDuring(rig.pipeline.processFile(spark, file))
      assert(jobs.map(_.stageInfos.size) == Seq(1, 1))
      val window = Window.partitionBy(input_file_name()).orderBy(monotonically_increasing_id())
      val expected = spark.read.text(path)
        .select(row_number().over(window).as("line_number"), col("value").as("content"))
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
      val stored = spark.read.parquet(rig.sink.tablePath("text_logs")).select("line_number", "content")
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
      assert(stored.map(_._1) == (1 to 300))
      assert(stored == expected)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("a malformed xml drop still ends Failed") {
    val rig = new Rig
    val file = rig.put("drops/bad.xml", utf8("<records><record id=\"1\"><name>x</na"))
    intercept[Exception](rig.pipeline.processFile(spark, file))
    assert(rig.logs.all.map(_.status) == Seq(IngestionStatus.Failed))
  }
}

package graft.parsers

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.zip.GZIPOutputStream

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.domain.ParserConfig

/** CsvParser reads the header line on the driver instead of running
  * Spark's header-inference job. Spark's own reader is the reference:
  * the same schema (de-duplicated and `_c{i}` names included) and the
  * same rows, with no Spark job before the scan. */
class CsvHeaderSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. Sentinel jobs before and after
    * it mark the window: the listener bus delivers events in order. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def sentinel(): String = {
      val tag = s"sentinel-${UUID.randomUUID()}"
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      tag
    }
    def jobsUntil(tag: String): Int = {
      var n = 0
      var d = started.poll(60, TimeUnit.SECONDS)
      while (d != tag) {
        assert(d != null, s"no job-start event for $tag")
        n += 1
        d = started.poll(60, TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      jobsUntil(sentinel())
      body
      jobsUntil(sentinel())
    } finally sc.removeSparkListener(listener)
  }

  private def file(name: String, body: String): String = {
    val p = Files.createTempDirectory("csv_header").resolve(name)
    val out = Files.newOutputStream(p)
    val sink = if (name.endsWith(".gz")) new GZIPOutputStream(out) else out
    try sink.write(body.getBytes("UTF-8")) finally sink.close()
    p.toString
  }

  private val cases = Seq(
    ("duplicate names", "t.csv", "id,name,id\n1,a,2\n3,b,4\n", ","),
    ("case-duplicate names", "t.csv", "ID,name,id\n1,a,2\n", ","),
    ("empty header fields", "t.csv", "a,,c,\n1,2,3,4\n", ","),
    ("quoted delimiter", "t.csv", "\"a,b\",c\n\"1,2\",3\n", ","),
    ("leading blank lines", "t.csv", "\n  \n\na,b\n1,2\n", ","),
    ("CRLF line ends", "t.csv", "a,b\r\n1,2\r\n3,4\r\n", ","),
    ("gzip", "t.csv.gz", "a,b\n1,2\n3,4\n", ","),
    ("empty file", "t.csv", "", ","),
    ("semicolon delimiter", "t.csv", "a;b\n1;2\n", ";"))

  for ((name, fileName, body, delimiter) <- cases; header <- Seq(true, false))
    test(s"csv header parity with Spark's reader: $name, header=$header") {
      val path = file(fileName, body)
      val cfg = Some(ParserConfig(delimiter = Some(delimiter), hasHeaders = Some(header)))
      var df: DataFrame = null
      assert(jobsDuring { df = CsvParser.parse(spark, path, cfg) } == 0)
      val ref = spark.read.option("header", header.toString).option("delimiter", delimiter).csv(path)
      assert(df.schema == ref.schema)
      assert(df.collect().toSeq == ref.collect().toSeq)
    }

  test("rule headers: the width probe reads the first physical line without a job") {
    val cfg = Some(ParserConfig(headers = Some(Seq("name"))))
    val path = file("t.csv.gz", "John,25,x\nJane,30,y\n")
    var df: DataFrame = null
    assert(jobsDuring { df = CsvParser.parse(spark, path, cfg) } == 0)
    assert(df.schema.fieldNames.toSeq == Seq("name", "column_1", "column_2"))
    assert(df.count() == 2)
  }
}

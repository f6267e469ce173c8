package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileContext
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.graft.HadoopConfShims

import graft.ops.TxLog
import graft.parsers._

/** The session's base Hadoop configurations carry no per-key provenance
  * (`GraftSession.local`), so neither does a write job's copy, which every
  * write task deserializes. Every value stays as Hadoop loads it. */
class HadoopConfSpec extends SparkSpec {

  /** Keys whose source list a serialized copy of `conf` would carry. */
  private def withSources(conf: Configuration): Seq[String] =
    conf.iterator().asScala.map(_.getKey).filter(conf.getPropertySources(_) != null).toSeq

  private def values(conf: Configuration): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def writeJobConf(): Configuration =
    Job.getInstance(spark.asInstanceOf[ClassicSparkSession].sessionState.newHadoopConf())
      .getConfiguration

  private def file(dir: Path, name: String, content: String): String =
    Files.writeString(dir.resolve(name), content).toString

  private def xlsx(dir: Path): String = {
    val p = dir.resolve("t.xlsx")
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    def entry(name: String, content: String): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(content.getBytes("UTF-8")); zout.closeEntry()
    }
    def c(ref: String, v: String) = s"""<c r="$ref" t="inlineStr"><is><t>$v</t></is></c>"""
    entry("xl/workbook.xml", """<?xml version="1.0"?><workbook/>""")
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        s"""<row r="1">${c("A1", "k")}${c("B1", "v")}</row><row r="2">${c("A2", "1")}${c("B2", "x")}</row>""" +
        "</sheetData></worksheet>")
    zout.close()
    p.toString
  }

  /** One parse per ingest format, a parquet write, and a TxLog append and
    * read: the paths that load Hadoop classes registering default resources. */
  private lazy val mixedWorkload: Unit = {
    val dir = Files.createTempDirectory("graft_hconf")
    Seq(
      CsvParser.parse(spark, file(dir, "t.csv", "k,v\n1,x\n"), None),
      JsonParser.parse(spark, file(dir, "t.json", """[{"k":1,"v":"x"}]"""), None),
      JsonlParser.parse(spark, file(dir, "t.jsonl", "{\"k\":1,\"v\":\"x\"}\n"), None),
      XmlParser.parse(spark, file(dir, "t.xml", "<data><record><k>1</k><v>x</v></record></data>"), None),
      ExcelParser.parse(spark, xlsx(dir), None),
      TxtParser.parse(spark, file(dir, "t.txt", "one\ntwo\n"), None)
    ).foreach(df => assert(df.collect().nonEmpty))
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    df.write.parquet(dir.resolve("pq").toString)
    TxLog.append(spark, df, dir.resolve("tx"), "k"): Unit
    assert(TxLog.readAt(spark, dir.resolve("tx")).count() == 2)
  }

  test("stripping keeps every value of both base configurations") {
    HadoopConfShims.baseConfs(spark).foreach { base =>
      // the same resources and overlay, loaded again: sources included
      val loaded = new Configuration(base)
      loaded.reloadConfiguration()
      val before = values(loaded)
      assert(withSources(loaded).size > 1000)
      assert(values(base) == before)
      HadoopConfShims.stripProvenance(loaded)
      assert(values(loaded) == before)
      assert(withSources(loaded).isEmpty)
    }
  }

  test("a write job's configuration carries at most 64 sourced entries after a mixed workload") {
    mixedWorkload
    val conf = writeJobConf()
    assert(conf.size() > 1000)
    val sourced = withSources(conf)
    assert(sourced.size <= 64, s"${sourced.size} entries carry sources, e.g. " +
      sourced.take(5).map(k => s"$k <- ${conf.getPropertySources(k).mkString(",")}").mkString("; "))
  }

  test("a reused session (getOrCreate) keeps the strip") {
    mixedWorkload
    val again = GraftSession.local(cores = 8, shufflePartitions = 8)
    assert(again eq spark)
    HadoopConfShims.baseConfs(again).foreach(c => assert(withSources(c).size <= 64))
    assert(withSources(writeJobConf()).size <= 64)
  }

  test("FileContext still resolves file: from a write job's configuration") {
    val fc = FileContext.getFileContext(writeJobConf())
    val dir = Files.createTempDirectory("graft_hconf_fc")
    assert(fc.util().exists(new org.apache.hadoop.fs.Path(dir.toUri)))
  }
}

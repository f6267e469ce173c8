package graft.parsers

import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import scala.util.Try

import org.apache.spark.sql.{DataFrame, DataFrameReader, Row}
import org.apache.spark.sql.catalyst.json.GraftJsonSchema
import org.apache.spark.sql.catalyst.xml.GraftXmlSchema
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.ports.RecordParser

/** The JSON, JSONL and XML parsers infer a file's schema on the driver
  * with Spark's own inferrers, then scan with that schema. Below the split
  * bound, `parse` runs no Spark job, and the driver's schema and scanned
  * rows equal those of Spark's reader with its own inference. Above the
  * bound (a lowered `spark.sql.files.maxPartitionBytes`), a JSONL file
  * goes through Spark's inference job and `parse` returns the same schema,
  * rows or error. JSON and XML are read whole by a reader that never
  * splits a file, so they run no job above the bound either. */
class ParserPlanSpec extends SparkSpec {

  private val LoweredBound = "16"

  private def file(name: String, body: String, gzip: Boolean): String = {
    val p = Files.createTempDirectory("parser_plan").resolve(if (gzip) s"$name.gz" else name)
    val out = Files.newOutputStream(p)
    val sink = if (gzip) new GZIPOutputStream(out) else out
    try sink.write(body.getBytes("UTF-8")) finally sink.close()
    p.toString
  }

  private def withMaxPartitionBytes[T](v: String)(body: => T): T = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", v)
    try body finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  /** Jobs run by `parse`, and its schema and rows, or its error's class. */
  private def run(parser: RecordParser, path: String): (Int, Either[String, (StructType, Seq[Row])]) = {
    var df: Try[DataFrame] = null
    val jobs = jobsDuring { df = Try(parser.parse(spark, path, None)) }
    (jobs, df.map(d => (d.schema, d.collect().toSeq)).toEither.left.map(_.getClass.getName))
  }

  private val jsonl = Seq(
    "blank lines" -> "{\"a\":1}\n\n  \n{\"a\":2,\"b\":\"x\"}\n",
    "malformed lines" -> "{\"a\":1}\n{\"a\":\n{bad}\n{\"a\":3}\n",
    "mixed types" -> "{\"a\":1}\n{\"a\":\"s\"}\n{\"a\":1.5,\"b\":true}\n{\"a\":[1],\"b\":false}\n",
    "nulls" -> "{\"a\":null}\n{\"a\":null,\"b\":null}\nnull\n{\"c\":\"\"}\n",
    "empty file" -> "",
    "scalars" -> "1\n\"x\"\ntrue\n{\"a\":1}\n",
    "root array" -> "[{\"a\":1},{\"a\":2}]\n[{\"b\":3}]\n",
    "numbers overflowing to double" -> "{\"n\":1}\n{\"n\":123456789012345678901234567890}\n")

  private val json = Seq(
    "object" -> """{"a":1,"b":{"c":[1,2]},"d":"x"}""",
    "array" -> """[{"a":1},{"a":2,"b":"x"}]""",
    "scalar" -> "42",
    "array of scalars" -> """[1, "a", null]""",
    "malformed" -> """[{"id": 1, "name": "x"}, {"id": 2, "na""",
    "empty" -> "",
    "nested arrays" -> """[{"m":[[1,2],[3]]},{"m":[[4.5]]}]""",
    "mixed root" -> """[{"a":1}, 2, "x"]""")

  private val xml = Seq(
    "heterogeneous records" ->
      """<data><record id="1"><name>A</name></record>
        |<record><age>3</age><tags><t>x</t><t>y</t></tags></record></data>""".stripMargin,
    "malformed" -> "<records><record id=\"1\"><name>x</na",
    "no records" -> "<data><other/></data>",
    "empty" -> "",
    "value tag with mixed types" ->
      """<data><record id="1">text<b>1</b></record><record id="2">5<b>x</b></record></data>""")

  /** Spark's reader with its own inference, and with the driver's schema:
    * the schema of each, and its rows, for one file (None where it fails). */
  private def readers(fmt: String, path: String): Seq[(Option[StructType], Option[Seq[Row]])] = {
    def read(r: DataFrameReader => DataFrame, driverSchema: => StructType) =
      Seq(Try(r(spark.read)), Try(driverSchema).flatMap(s => Try(r(spark.read.schema(s)))))
        .map(df => (df.map(_.schema).toOption, df.flatMap(d => Try(d.collect().toSeq)).toOption))
    fmt match {
      case "jsonl" =>
        read(_.json(path), DriverFile.withLines(spark, path)(GraftJsonSchema.inferLines(Map.empty, _)))
      case "json" =>
        val multiLine = Map("multiLine" -> "true")
        read(_.options(multiLine).json(path), GraftJsonSchema.inferDocument(multiLine, () => DriverFile.open(spark, path)))
      case "xml" =>
        read(_.format("xml").options(XmlParser.Options).load(path),
          GraftXmlSchema.infer(XmlParser.Options, () => DriverFile.open(spark, path)))
    }
  }

  private val corpus =
    jsonl.map(c => ("jsonl", JsonlParser, c)) ++ json.map(c => ("json", JsonParser, c)) ++
      xml.map(c => ("xml", XmlParser, c))

  for ((fmt, parser, (name, body)) <- corpus; gzip <- Seq(false, true))
    test(s"$fmt ${if (gzip) "gzip " else ""}$name: no job below the split bound, Spark's result") {
      val path = file(s"t.$fmt", body, gzip)
      val (driverJobs, driver) = run(parser, path)
      val (aboveJobs, above) = withMaxPartitionBytes(LoweredBound)(run(parser, path))
      assert(driverJobs == 0)
      if (fmt != "jsonl") assert(aboveJobs == 0, "a whole-file reader has no split bound")
      else if (Files.size(java.nio.file.Paths.get(path)) > LoweredBound.toLong)
        assert(aboveJobs >= 1, "above the bound, Spark's inference job runs")
      assert(driver == above)
      val Seq(inferred, onDriver) = readers(fmt, path)
      assert(inferred == onDriver)
    }

  test("the split bound is Spark's one-file maxSplitBytes") {
    val path = file("t.jsonl", "{\"a\":1}\n" * 10, gzip = false) // 80 bytes
    assert(DriverFile.fitsOneSplit(spark, path))
    assert(withMaxPartitionBytes("80")(DriverFile.fitsOneSplit(spark, path)))
    assert(!withMaxPartitionBytes("79")(DriverFile.fitsOneSplit(spark, path)))
  }
}

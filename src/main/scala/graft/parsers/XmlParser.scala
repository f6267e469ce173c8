package graft.parsers

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.xml.GraftXmlSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.domain.ParserConfig
import graft.domain.IngestionError.ParseError
import graft.ports.RecordParser

/** XML scan (reference: src/infrastructure/parsers/xml_parser.rs:7-73):
  *   - row tag is hardcoded `record` (xml_parser.rs:22);
  *   - record *attributes* merge into the row as string fields
  *     (xml_parser.rs:24-33);
  *   - child-element text becomes string fields; nesting is flattened,
  *     last-write-wins (xml_parser.rs:34-45);
  *   - zero <record> elements is an error (xml_parser.rs:66-69).
  *
  * Uses Spark 4's native XML source with attributePrefix="" to merge
  * attributes, then casts every leaf to string (the reference emitted
  * strings only) and flattens one struct level for nested children.
  *
  * Jobs: the reader is multiLine (the XML source's default), whose input
  * format never splits a file, so Spark infers each file whole, in one
  * task, at any size. The same record inferrer runs on the driver over
  * the decompressed stream instead (`GraftXmlSchema.infer`), and the scan
  * runs with that schema, so the sink's write is the only job. The
  * options pin the current XML parser, the one that inference follows.
  */
object XmlParser extends RecordParser {

  val RowTag = "record"

  private[parsers] val Options = Map("rowTag" -> RowTag, "attributePrefix" -> "", "valueTag" -> "_value",
    "useLegacyXMLParser" -> "false")

  override def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame = {
    val raw = spark.read.format("xml").options(Options)
      .schema(GraftXmlSchema.infer(Options, () => DriverFile.open(spark, path)))
      .load(path)

    if (raw.schema.isEmpty)
      throw ParseError(s"no <$RowTag> elements found in $path")

    // Flatten nested structs (child elements with their own children) into
    // leaf string columns; on name collision the later field wins, matching
    // the reference's last-write-wins map insert (xml_parser.rs:42).
    val seen = scala.collection.mutable.LinkedHashMap[String, org.apache.spark.sql.Column]()
    raw.schema.fields.foreach { f =>
      f.dataType match {
        case st: StructType =>
          st.fields.foreach(sf => seen(sf.name) = col(s"`${f.name}`.`${sf.name}`").cast(StringType).as(sf.name))
        case _ => seen(f.name) = col(s"`${f.name}`").cast(StringType).as(f.name)
      }
    }
    raw.select(seen.values.toSeq: _*)
  }
}

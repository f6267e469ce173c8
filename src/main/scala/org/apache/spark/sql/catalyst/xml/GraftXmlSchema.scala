package org.apache.spark.sql.catalyst.xml

import java.io.InputStream

import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** Spark's XML schema inference for one file, run on the calling thread
  * instead of in a Spark job. The multiLine reader's inference
  * (`XmlInferSchema.inferFromReaders`) runs `infer(StaxXMLRecordReader)`
  * per `rowTag` record while the reader has records, reduces the task's
  * types with `XmlInferSchema.compatibleType`, folds the task results on
  * the driver and canonicalizes the root. For a file Spark reads in one
  * task, this runs those same steps over the same records, so the schema
  * is the one `spark.read.format("xml")` would infer. The multiLine
  * reader never splits a file, so that holds at any file size. The
  * options are built as `XmlFileFormat` builds them, and must select the
  * multiLine reader and the current parser. Package-placed to reach the
  * `private[xml]` `compatibleType` and `canonicalizeType`. */
object GraftXmlSchema {

  def infer(parameters: Map[String, String], open: () => InputStream): StructType = {
    val conf = SQLConf.get
    val options = new XmlOptions(parameters, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord, true)
    require(options.multiLine && !options.useLegacyXMLParser,
      "driver inference follows the multiLine reader's current XML parser")
    val inferSchema = new XmlInferSchema(options, conf.caseSensitiveAnalysis)
    val merge = XmlInferSchema.compatibleType(conf.caseSensitiveAnalysis, options.valueTag) _
    val reader = StaxXMLRecordReader(open, options)
    try {
      val types = Iterator.continually(reader).takeWhile(_.hasMoreRecord).flatMap(r => inferSchema.infer(r))
      // the one task's reduce and fold, then the driver's merge of its result
      val task = types.reduceOption(merge).iterator.fold[DataType](StructType(Nil))(merge)
      inferSchema.canonicalizeType(merge(StructType(Nil), task)) match {
        case Some(s: StructType) => s
        case _ => StructType(Nil)
      }
    } finally reader.close()
  }
}

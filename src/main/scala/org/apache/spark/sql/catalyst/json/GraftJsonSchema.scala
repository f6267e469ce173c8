package org.apache.spark.sql.catalyst.json

import java.io.{CharConversionException, FileNotFoundException, IOException, InputStream}
import java.nio.charset.MalformedInputException

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException}
import org.apache.hadoop.io.Text
import org.apache.spark.sql.catalyst.util.{DropMalformedMode, FailFastMode, PermissiveMode}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Spark's JSON schema inference for one file, run on the calling thread
  * instead of in a Spark job. `JsonInferSchema.infer` maps each record to
  * a type with `inferField`, reduces a partition's types with
  * `compatibleRootType`, folds the partition results on the driver and
  * canonicalizes the root. For a file Spark reads in one task (a
  * multiLine file at any size, since that reader never splits a file; a
  * line-split file no longer than one split), this runs those same steps
  * in the same order over the same records, so the
  * schema is the one `spark.read.json` would infer. The options are built
  * as `JsonFileFormat.inferSchema` builds them; records are read as UTF-8
  * (no `encoding` option). Package-placed to reach the `private[json]`
  * `canonicalizeType`. */
object GraftJsonSchema {

  /** One record per line, as the line-split (non-multiLine) reader infers. */
  def inferLines(parameters: Map[String, String], lines: Iterator[Text]): StructType =
    infer(jsonOptions(parameters), lines, CreateJacksonParser.text(_: JsonFactory, _: Text), isReadFile = false)

  /** The whole stream as one record, as the multiLine reader infers. */
  def inferDocument(parameters: Map[String, String], open: () => InputStream): StructType =
    infer(jsonOptions(parameters), Iterator.single(open),
      (f: JsonFactory, o: () => InputStream) => CreateJacksonParser.inputStream(f, o()), isReadFile = true)

  private def jsonOptions(parameters: Map[String, String]): JSONOptions = {
    val conf = SQLConf.get
    new JSONOptionsInRead(parameters, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
  }

  private def infer[T](options: JSONOptions, records: Iterator[T],
      createParser: (JsonFactory, T) => JsonParser, isReadFile: Boolean): StructType = {
    val inferSchema = new JsonInferSchema(options)
    val merge = JsonInferSchema.compatibleRootType(options.columnNameOfCorruptRecord, options.parseMode)
    val factory = options.buildJsonFactory()
    // the catch clauses, in order, are those of JsonInferSchema.infer
    val types = records.flatMap { record =>
      try {
        val parser = createParser(factory, record)
        try { parser.nextToken(); Some(inferSchema.inferField(parser)) } finally parser.close()
      } catch {
        case e: RuntimeException if !isReadFile => malformed(options, e)
        case e @ (_: JsonProcessingException | _: MalformedInputException) => malformed(options, e)
        case e: CharConversionException if options.encoding.isEmpty =>
          val wrapped = new CharConversionException(
            "JSON parser cannot handle a character in its input.\n" +
              "Specifying encoding as an input option explicitly might help to resolve the issue.\n" +
              e.getMessage)
          wrapped.initCause(e)
          malformed(options, wrapped)
        case e: FileNotFoundException if !options.ignoreMissingFiles => throw e
        case _: FileNotFoundException => Some(StructType(Nil))
        case _: IOException | _: RuntimeException if options.ignoreCorruptFiles && isReadFile =>
          Some(StructType(Nil))
      }
    }
    // the one task's reduce and fold, then the driver's merge of its result
    val task = types.reduceOption(merge).iterator.fold[DataType](StructType(Nil))(merge)
    inferSchema.canonicalizeType(merge(StructType(Nil), task), options)
      .collect { case s: StructType => s }
      .getOrElse(StructType(Nil)) // canonicalizeType erases every empty struct, the root's too
  }

  /** `JsonInferSchema.handleJsonErrorsByParseMode`. */
  private def malformed(options: JSONOptions, e: Throwable): Option[DataType] =
    options.parseMode match {
      case PermissiveMode => Some(StructType(Array(StructField(options.columnNameOfCorruptRecord, StringType))))
      case DropMalformedMode => None
      case FailFastMode =>
        throw QueryExecutionErrors.malformedRecordsDetectedInSchemaInferenceError(e, options.columnNameOfCorruptRecord)
    }
}

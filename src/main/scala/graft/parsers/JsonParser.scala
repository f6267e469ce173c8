package graft.parsers

import com.fasterxml.jackson.core.{JsonFactory, JsonProcessingException, JsonToken}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.json.GraftJsonSchema
import graft.domain.ParserConfig
import graft.domain.IngestionError.ParseError
import graft.ports.RecordParser

/** JSON scan (reference: src/infrastructure/parsers/json_parser.rs:4-27):
  * whole-file JSON; a top-level array explodes into one row per element; a
  * single top-level object becomes a 1-row batch; native JSON types are
  * preserved (the one parser in the reference that is not all-strings).
  *
  * Spark's multiLine JSON reader already implements exactly these
  * semantics for objects/arrays-of-objects. A top-level *scalar* (e.g.
  * `42`) — which the reference wrapped as a bare document — has no natural
  * DataFrame shape; it is surfaced as a single `value` column (documented
  * deviation). Spark's reader also lands a malformed file there (all
  * `_corrupt_record`), so the fallback checks the text first: only one
  * well-formed top-level scalar or array of scalars is wrapped; anything
  * else fails with a ParseError.
  *
  * Jobs: the multiLine reader never splits a file (its input format is
  * not splittable), so Spark infers each file whole, in one task, at any
  * size. The same inferrer runs on the driver over the decompressed
  * stream instead (`GraftJsonSchema.inferDocument`), the scan runs with
  * that schema, and the scalar fallback reads the text on the driver too,
  * so the sink's write is the only job.
  */
object JsonParser extends RecordParser {

  /** The scalar fallback buffers the file on the driver (a top-level
    * scalar IS one value, so that's inherent) — but a mis-routed large
    * file must error, not OOM the driver. 16 MB is far above any real
    * top-level-scalar document. */
  val MaxScalarBytes: Long = 16L * 1024 * 1024

  private val MultiLine = Map("multiLine" -> "true")

  override def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame = {
    val schema = GraftJsonSchema.inferDocument(MultiLine, () => DriverFile.open(spark, path))
    if (schema.fieldNames.sameElements(Array("_corrupt_record")) || schema.isEmpty) {
      // Top-level scalar or scalar array: the text itself, wrapped as `value`.
      val size = DriverFile.status(spark, path).getLen
      if (size > MaxScalarBytes)
        throw new IllegalArgumentException(
          s"json scalar fallback refuses $path: $size bytes > $MaxScalarBytes " +
            "(not a top-level-scalar document; would buffer on the driver)")
      val raw = DriverFile.withLines(spark, path)(_.map(_.toString).mkString("\n")).trim
      if (!isScalarDocument(raw))
        throw ParseError(s"$path is malformed JSON, or JSON that is neither objects " +
          "nor a top-level scalar or array of scalars")
      import spark.implicits._
      Seq(raw).toDF("value")
    } else spark.read.options(MultiLine).schema(schema).json(path)
  }

  private val jsonFactory = new JsonFactory()

  /** True when `text` is exactly one JSON scalar, or one array whose
    * elements are all scalars, with nothing after it. */
  private def isScalarDocument(text: String): Boolean = {
    val p = jsonFactory.createParser(text)
    try {
      val ok = p.nextToken() match {
        case JsonToken.START_ARRAY =>
          Iterator.continually(p.nextToken()).takeWhile(_ != JsonToken.END_ARRAY)
            .forall(t => t != null && t.isScalarValue)
        case t => t != null && t.isScalarValue
      }
      ok && p.nextToken() == null
    } catch { case _: JsonProcessingException => false }
    finally p.close()
  }
}

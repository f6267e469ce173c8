package graft.parsers

import com.fasterxml.jackson.core.{JsonFactory, JsonProcessingException, JsonToken}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  */
object JsonParser extends RecordParser {

  /** The scalar fallback buffers the file on the driver (a top-level
    * scalar IS one value, so that's inherent) — but a mis-routed large
    * file must error, not OOM the driver. 16 MB is far above any real
    * top-level-scalar document. */
  val MaxScalarBytes: Long = 16L * 1024 * 1024

  override def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame = {
    val df = spark.read.option("multiLine", "true").json(path)
    val cols = df.schema.fieldNames
    if (cols.sameElements(Array("_corrupt_record")) || cols.isEmpty) {
      // Top-level scalar or scalar array: re-read as json with a value wrap.
      // globStatus (not getContentSummary) so glob paths — which the
      // textFile read below accepts — size correctly instead of throwing.
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val matched = Option(fs.globStatus(hPath)).map(_.toSeq).getOrElse(Seq.empty)
      val size =
        if (matched.isEmpty) fs.getContentSummary(hPath).getLength // preserve FileNotFound semantics
        else matched.map(st =>
          if (st.isDirectory) fs.getContentSummary(st.getPath).getLength else st.getLen).sum
      if (size > MaxScalarBytes)
        throw new IllegalArgumentException(
          s"json scalar fallback refuses $path: $size bytes > $MaxScalarBytes " +
            "(not a top-level-scalar document; would buffer on the driver)")
      import spark.implicits._
      val raw = spark.read.textFile(path).collect().mkString("\n").trim
      if (!isScalarDocument(raw))
        throw ParseError(s"$path is malformed JSON, or JSON that is neither objects " +
          "nor a top-level scalar or array of scalars")
      Seq(raw).toDF("value")
    } else df
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

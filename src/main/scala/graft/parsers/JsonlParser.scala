package graft.parsers

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.json.GraftJsonSchema
import graft.domain.ParserConfig
import graft.ports.RecordParser

/** JSON-Lines (ndjson) scan — the lake-scale JSON shape the reference
  * never routed (its json path was whole-file, json_parser.rs:4-27):
  * one JSON object per line, newline-delimited. This is THE format
  * crawl dumps and API exports arrive in, because it is line-splittable:
  * Spark's default (non-multiLine) JSON reader carves a 10 GB .jsonl
  * into ~80 parallel scan ranges at newline boundaries — impossible for
  * whole-file JSON, which must parse as one task. Native types are
  * preserved; blank lines are skipped; a malformed line lands in
  * Spark's corrupt-record column rather than failing the file (the
  * PERMISSIVE lake discipline, same rationale as ing14).
  *
  * A file that fits in one scan split (`DriverFile.fitsOneSplit`) is the
  * case Spark infers in one task: its lines are read on the driver and
  * typed by Spark's own inferrer (`GraftJsonSchema.inferLines`), and the
  * scan runs with that schema, so the sink's write is the only job. A
  * larger file keeps Spark's inference job, whose tasks split the file.
  */
object JsonlParser extends RecordParser {

  override def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame =
    if (DriverFile.fitsOneSplit(spark, path))
      spark.read.schema(DriverFile.withLines(spark, path)(GraftJsonSchema.inferLines(Map.empty, _))).json(path)
    else spark.read.json(path)
}

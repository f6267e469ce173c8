package graft.pipeline

import java.sql.Timestamp
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain._
import graft.domain.IngestionError.NoMatchingRule
import graft.parsers.ParserDispatch
import graft.ports._

/** The 5-step pipeline orchestrator, mirroring the reference's
  * IngestionService::process_file (reference:
  * src/application/ingestion_service.rs:36-127):
  *
  *   1. find matching config rule (P1 regex + P2 longest-wins)
  *   2. resolve the file (the reference buffered whole bytes; Spark reads
  *      the path with a partitioned scan instead)
  *   3. extract file type (lowercased extension)
  *   4. parse -> DataFrame (the reference's Vec<serde_json::Value> IR)
  *   5. enrich (file_name, log_id) + audit log + sink write
  *
  * Deviations, on purpose (SURVEY §7 risk register #5):
  *   - failures in steps 1-4 are ALSO recorded in the audit log (the
  *     reference only logged after a successful parse,
  *     ingestion_service.rs:93-104);
  *   - the result is returned, not swallowed, so callers (event loop)
  *     can implement at-least-once instead of the reference's accidental
  *     delete-on-failure at-most-once (ecs_service.rs:152-165).
  */
final class IngestionPipeline(
    source: FileSource,
    config: ConfigRepository,
    sink: DataSink,
    logRepo: LogRepository,
    clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis())) {

  final case class Result(
      file: FileToProcess,
      targetTable: String,
      rowsWritten: Long,
      logId: String)

  def processFile(spark: SparkSession, file: FileToProcess): Result = {
    val start = clock()
    val logId = logRepo.insertLog(
      IngestionLog("", file.fileName, start, None, IngestionStatus.Success, None))
    try {
      // Step 1 — routing rule (reference: ingestion_service.rs:50,129-147)
      val rule = config
        .findBestMatch(file.key)
        .getOrElse(throw NoMatchingRule(file.key))
      // Step 2 — resolve (reference fetched bytes: ingestion_service.rs:59)
      val path = source.resolve(file)
      // Step 3+4 — file type + parse (reference: ingestion_service.rs:67,
      // 72,149-158; S4-S8). Full-key dispatch also resolves compound
      // compressed extensions (x.csv.gz) — see ParserDispatch.parserForKey.
      val parsed = ParserDispatch.parserForKey(file.key).parse(spark, path, rule.parserConfig)
      // Step 5 — enrich + store (reference: ingestion_service.rs:79-116; T3+T4)
      val enriched = enrich(parsed, file, logId)
      val rows = sink.write(enriched, rule.targetTable)
      logRepo.updateLog(logId, clock(), IngestionStatus.Success, None)
      Result(file, rule.targetTable, rows, logId)
    } catch {
      case NonFatal(e) =>
        logRepo.updateLog(logId, clock(), IngestionStatus.Failed, Some(e.getMessage))
        throw e
    }
  }

  /** T3 + T4: stamp file_name ("bucket/key", ingestion_service.rs:85-87)
    * and log_id (mongodb/data_repo.rs:37-39) on every row, in that order;
    * a parsed column of either name is replaced in place. Literal columns
    * are free at scale (constant-folded, no shuffle), and one
    * `withColumns` builds and analyzes one plan, not one per column. */
  def enrich(df: DataFrame, file: FileToProcess, logId: String): DataFrame =
    df.withColumns(ListMap("file_name" -> lit(file.fileName), "log_id" -> lit(logId)))
}

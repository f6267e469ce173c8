package graft.ports

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.domain._

/** Hexagonal ports, mirroring the reference's five traits
  * (reference: src/domain/ports.rs:5-30) re-shaped for Spark: parsers
  * return a DataFrame read *from a path* rather than a parsed byte
  * buffer — at 100 TB the engine must never buffer whole objects on one
  * node (the reference buffered whole files: s3_adapter.rs:39-49, which
  * capped file size at task RAM; Spark's splittable partitioned scans
  * remove that cap).
  */

/** Resolves a FileToProcess to a URI Spark can read (s3a://... in prod,
  * file:// in tests). reference port: ports.rs:6-8 (fetch_file). */
trait FileSource {
  def resolve(file: FileToProcess): String
}

/** Parses one file into a DataFrame. reference port: ports.rs:11-14.
  * `path` names one file, never a directory or a glob: parsers read its
  * header, schema or size on the driver before the scan. */
trait RecordParser {
  def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame
}

/** Rule lookup. reference port: ports.rs:16-19 + config_repo.rs. */
trait ConfigRepository {
  def allRules: Seq[IngestionConfigRule]
  def findBestMatch(key: String): Option[IngestionConfigRule]
}

/** Bulk sink for parsed documents. reference port: ports.rs:21-24. */
trait DataSink {
  /** Writes df into targetTable; returns number of rows written. */
  def write(df: DataFrame, targetTable: String): Long
}

/** One message received from a notification queue. `receiptHandle` is
  * the token a later delete must present (SQS semantics: deleting
  * acknowledges; an un-deleted message reappears after its visibility
  * timeout). */
final case class QueueMessage(body: String, receiptHandle: String)

/** SQS-shaped notification queue: long-poll receive + delete-by-receipt.
  * The reference polled SQS directly inside its service loop
  * (reference: src/ecs_service.rs:120-127 receive, :152-165 delete);
  * here the queue is a port so the poll loop is testable against an
  * in-memory stub and swappable for a real SQS client. */
trait QueueSource {
  /** Up to `maxMessages` (SQS caps at 10), blocking up to `waitSeconds`
    * when the queue is empty (long poll). */
  def receive(maxMessages: Int, waitSeconds: Int): Seq[QueueMessage]

  /** Acknowledges (removes) a delivered message. */
  def delete(receiptHandle: String): Unit
}

/** Audit log. reference port: ports.rs:26-30. */
trait LogRepository {
  def insertLog(log: IngestionLog): String
  def updateLog(logId: String, endTime: java.sql.Timestamp, status: String, message: Option[String]): Unit
}

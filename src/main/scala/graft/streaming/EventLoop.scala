package graft.streaming

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonProcessingException}
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.domain.FileToProcess
import graft.pipeline.IngestionPipeline

/** The event loop (reference S1: ecs_service.rs:113-224) as Structured
  * Streaming. The reference long-polled SQS for S3 `ObjectCreated` event
  * envelopes; here the envelopes are a streaming file source (a
  * cloud-notification drop directory — the pattern SQS-backed file
  * listing uses), parsed with the exact S3 event schema
  * (`Records[].s3.{bucket.name,object.key}`, ecs_service.rs:186-196), and
  * each discovered file runs through the batch pipeline in foreachBatch.
  *
  * Semantics upgrade over the reference, on purpose: the reference
  * deleted the SQS message even when processing FAILED (delete outside
  * the Ok/Err match, ecs_service.rs:152-165 — accidental at-most-once).
  * Here a batch that throws BEFORE the per-file loop is retried from the
  * checkpoint (standard Structured Streaming at-least-once), and a file
  * that fails INSIDE the loop is isolated — audit-logged via onResult and
  * its envelope re-written to `deadLetterDir` for redrive (point the DLQ
  * at a directory a second EventLoop watches, or back at eventDir for
  * in-place retry of transient failures). Without a deadLetterDir the
  * per-file failure path is deliver-once: the envelope is consumed, the
  * failure is only reported — the reference's behavior, minus the silent
  * message delete.
  *
  * Scale: the control plane (event envelopes) is tiny by construction —
  * thousands of notifications, not data rows — so collecting a batch of
  * envelopes to the driver is correct; the DATA plane each envelope
  * triggers is a fully distributed Spark job per file.
  */
final class EventLoop(pipeline: IngestionPipeline) {

  /** Distinguishes this loop's dead-letter files from a peer's when
    * several EventLoops share one dlqDir. */
  private val loopTag: String = java.util.UUID.randomUUID().toString.take(8)

  /** JSON string escape: backslash, quote, and ALL control chars (an S3
    * key may legally contain newlines; an unescaped one would corrupt the
    * dead-letter line and lose the envelope without a trace). */
  private[streaming] def esc(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** S3 event-notification envelope schema (ecs_service.rs:186-196). */
  val envelopeSchema: StructType = EventLoop.envelopeSchema

  /** Parses envelope JSON lines into FileToProcess rows. */
  def parseEnvelopes(envelopes: DataFrame): DataFrame = EventLoop.parseEnvelopes(envelopes)

  /** Starts the loop: watch `eventDir` for envelope JSON files, process
    * every referenced object. `Trigger.AvailableNow` drains-and-stops
    * (test/batch-catchup mode); `ProcessingTime` runs forever (prod). */
  def start(
      spark: SparkSession,
      eventDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      onResult: Either[(FileToProcess, Throwable), IngestionPipeline#Result] => Unit = _ => (),
      deadLetterDir: Option[String] = None)
      : StreamingQuery = {
    val envelopes = spark.readStream
      .schema(envelopeSchema)
      .option("maxFilesPerTrigger", 64) // bounded batches under burst
      .json(eventDir)
    parseEnvelopes(envelopes).writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // control-plane collect: envelopes only (see class doc)
        val files = batch.collect().map(r => FileToProcess(r.getString(0), r.getString(1)))
        val failed = files.flatMap { f =>
          try { onResult(Right(pipeline.processFile(spark, f))); None }
          catch { case scala.util.control.NonFatal(e) => onResult(Left((f, e))); Some(f) }
        }
        if (failed.nonEmpty) deadLetterDir.foreach(writeDeadLetters(spark, _, batchId, failed))
        ()
      }
      .start()
  }

  /** Re-writes failed files' envelopes (original S3-event JSON shape, so
    * the DLQ is directly re-consumable by another EventLoop) into
    * `dlqDir`. Control-plane-sized: a handful of one-line JSON strings
    * per batch, written from the driver. */
  private def writeDeadLetters(
      spark: SparkSession, dlqDir: String, batchId: Long, failed: Seq[FileToProcess]): Unit = {
    val lines = failed.map(f =>
      s"""{"Records":[{"s3":{"bucket":{"name":"${esc(f.bucket)}"},"object":{"key":"${esc(f.key)}"}}}]}""")
    val dir = new org.apache.hadoop.fs.Path(dlqDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    // loopTag in the name: two EventLoops sharing one dlqDir (the chained
    // redrive topology) have overlapping batchIds and must not clobber
    // each other's dead letters.
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, s"dead-letter-$loopTag-batch-$batchId.json"), true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }
}

object EventLoop {

  /** S3 event-notification envelope schema (ecs_service.rs:186-196). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("Records", ArrayType(StructType(Seq(
      StructField("s3", StructType(Seq(
        StructField("bucket", StructType(Seq(StructField("name", StringType)))),
        StructField("object", StructType(Seq(StructField("key", StringType)))))))))))))

  /** Parses envelope JSON lines into FileToProcess rows. */
  def parseEnvelopes(envelopes: DataFrame): DataFrame =
    envelopes
      .select(explode(col("Records")).as("r"))
      .select(
        col("r.s3.bucket.name").as("bucket"),
        col("r.s3.object.key").as("key"))
      .filter(col("bucket").isNotNull && col("key").isNotNull)

  /** Parses a batch of raw envelope bodies (one per queue message) into
    * per-message file lists, preserving which message each file came from
    * (the poller acks per message). A poll brings at most 10 small bodies,
    * so they are parsed on the driver, with no Spark job. Same result as
    * `from_json` with [[envelopeSchema]]: a body that is malformed, is not
    * a JSON object, or has a Records entry that is neither an object nor
    * null yields no files; a record yields a file when it has both a
    * bucket name and an object key, and a non-string value is taken as its
    * JSON text. */
  def parseBodies(bodies: Seq[String]): Map[Int, Seq[FileToProcess]] =
    bodies.zipWithIndex.flatMap { case (body, i) =>
      Some(envelopeFiles(body)).filter(_.nonEmpty).map(i -> _)
    }.toMap

  /** Spark's JSON reader dialect: single quotes and NaN/Infinity allowed. */
  private val envelopeJson = new ObjectMapper(new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build())

  private def envelopeFiles(body: String): Seq[FileToProcess] = {
    val root = try envelopeJson.readTree(body) catch { case _: JsonProcessingException => null }
    val records = Option(root).filter(_.isObject).flatMap(r => Option(r.get("Records")))
      .filter(_.isArray).map(_.elements().asScala.toSeq).getOrElse(Nil)
    // As in from_json, a record that is neither an object nor null voids
    // the whole Records array.
    if (!records.forall(r => r.isObject || r.isNull)) Nil
    else records.flatMap { r =>
      for (bucket <- text(r.at("/s3/bucket/name")); key <- text(r.at("/s3/object/key")))
        yield FileToProcess(bucket, key)
    }
  }

  private def text(n: JsonNode): Option[String] =
    if (n.isMissingNode || n.isNull) None
    else if (n.isTextual) Some(n.textValue)
    else Some(n.toString)
}

/** Streaming analytics twins of the batch event queries: the same
  * aggregations running incrementally with event-time watermarks.
  * StreamingSpec drives them with the file source and asserts parity
  * with the batch results. */
object StreamingAggregations {

  /** e01's streaming twin: tumbling 1-hour event-time windows with a
    * 2-hour watermark (late data beyond that is dropped; state for
    * closed windows is evicted — bounded state at 100 TB/day rates). */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** dd01's streaming twin: exact content dedup as documents ARRIVE —
    * fingerprint (md5, same family the batch dedup uses) + state-store
    * dedup bounded by the event-time watermark
    * (dropDuplicatesWithinWatermark): a duplicate arriving within the
    * window is dropped, state older than the watermark is evicted, so
    * state is O(docs per window), never O(corpus). The batch pass (dd01)
    * remains the backstop for duplicates farther apart than the window —
    * the standard streaming/batch dedup split at ingest scale. */
  def streamingExactDedup(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** dd12's streaming twin: gate ARRIVING documents against an existing
    * corpus's dedup index (DISTINCT content fingerprints + LSH band
    * keys — the persisted artifacts a 100 TB pipeline maintains), via
    * foreachBatch: each micro-batch runs the same pure relational
    * decision as the batch path (Dedup.incrementalDedupFlagsFromIndex),
    * and surviving docs land in one parquet dir per epoch with
    * mode=overwrite — an epoch replayed after a mid-write crash
    * overwrites its own directory, so the sink is idempotent and the
    * checkpoint gives effectively-once output. The index relations are
    * localCheckpoint'd ONCE here, not re-derived per batch.
    * Caller starts the returned writer with trigger + checkpoint set. */
  def incrementalNearDupGate(stream: DataFrame, corpusFp: DataFrame,
      corpusBands: DataFrame, idCol: String, textCol: String,
      outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val fpIdx = corpusFp.localCheckpoint(true)
    val bandIdx = corpusBands.localCheckpoint(true)
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        val keepIds = graft.ops.Dedup
          .incrementalDedupFlagsFromIndex(fpIdx, bandIdx, batch, idCol, textCol)
          .filter(col("keep")).select(idCol)
        batch.join(keepIds, Seq(idCol), "left_semi")
          .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
        ()
    }
  }
}

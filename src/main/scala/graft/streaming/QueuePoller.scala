package graft.streaming

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.domain.FileToProcess
import graft.pipeline.IngestionPipeline
import graft.ports.QueueSource

/** The reference's SQS poll loop (reference: src/ecs_service.rs:113-174)
  * behind the QueueSource port: receive up to 10 messages with a 20 s
  * long-poll wait, run every referenced file through the batch pipeline,
  * then acknowledge.
  *
  * Semantics fix kept from the EventLoop (SURVEY §7 risk register): the
  * reference deleted the SQS message even when processing FAILED (the
  * delete sits outside the Ok/Err match, ecs_service.rs:152-165 —
  * accidental at-most-once). Here a message is deleted ONLY when every
  * file in its envelope processed successfully; a failed message stays on
  * the queue and reappears after its visibility timeout (at-least-once).
  * Per-file failures within a message are still isolated and reported via
  * `onResult` — one bad file doesn't abort its batch-mates, it only
  * blocks the ack.
  *
  * Scale: the poll loop is control-plane (≤10 tiny JSON envelopes per
  * round-trip, parsed on the driver); each file it dispatches
  * becomes a fully distributed pipeline job, exactly like the streaming
  * EventLoop. Run many pollers against one queue for higher notification
  * throughput — SQS visibility timeouts make concurrent consumers safe.
  */
final class QueuePoller(
    queue: QueueSource,
    pipeline: IngestionPipeline,
    maxMessages: Int = 10,
    waitSeconds: Int = 20,
    onResult: Either[(FileToProcess, Throwable), IngestionPipeline#Result] => Unit = _ => ()) {

  require(maxMessages >= 1 && maxMessages <= 10,
    s"SQS caps receive batches at 10 messages, got $maxMessages") // ecs_service.rs:123

  /** One receive -> process -> ack cycle. Returns the number of messages
    * received (0 = the long poll expired empty). */
  def pollOnce(spark: SparkSession): Int = {
    val msgs = queue.receive(maxMessages, waitSeconds)
    if (msgs.nonEmpty) {
      val filesByMsg = EventLoop.parseBodies(msgs.map(_.body))
      msgs.zipWithIndex.foreach { case (m, i) =>
        val files = filesByMsg.getOrElse(i, Seq.empty)
        val anyFailed = files.map { f =>
          try { onResult(Right(pipeline.processFile(spark, f))); false }
          catch { case NonFatal(e) => onResult(Left((f, e))); true }
        }.exists(identity)
        // An unparseable body (no files) acks like the reference did —
        // retrying it can never succeed. A failed FILE blocks the ack.
        if (!anyFailed) queue.delete(m.receiptHandle)
      }
    }
    msgs.size
  }

  /** Polls until `maxPolls` cycles have run, or (with `stopWhenEmpty`)
    * until a receive comes back empty — the drain-and-stop mode tests and
    * batch catch-up use. The reference looped forever (ecs_service.rs:117);
    * pass maxPolls = Int.MaxValue for that. */
  def run(spark: SparkSession, maxPolls: Int, stopWhenEmpty: Boolean = false): Unit = {
    var polls = 0
    var drained = false
    while (polls < maxPolls && !drained) {
      val n = pollOnce(spark)
      polls += 1
      drained = stopWhenEmpty && n == 0
    }
  }
}

package graft.sinks

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ports.DataSink

/** Primary offline-friendly sink: one parquet directory per target table
  * (stand-in for the reference's NoSQL bulk inserts, K1-K3:
  * mongodb/data_repo.rs:20-70, couchdb/data_repo.rs:23-59,
  * documentdb/data_repo.rs:18-44). The reference created collections
  * implicitly on first insert (mongodb/data_repo.rs:28) — append mode with
  * mergeSchema-on-read reproduces that, including accumulating files with
  * different headers into one table.
  *
  * Scale: writes are partition-parallel; the writer never funnels rows
  * through the driver (the reference pushed one whole-file Vec per
  * insert_many). The inserted-row count (the reference's contract:
  * insert_many returns inserted counts) comes from an observed metric on
  * the SAME write job — the plan executes exactly once, never a separate
  * count() pass (at 100 TB a pre-count would be a second full scan).
  *
  * Fixed cost: a write to a local directory makes about 8 permission sets
  * (the job, task and table directories, each part file and its `.crc`).
  * Hadoop's local FS forks a `chmod` for each when libhadoop is absent,
  * which cost more than writing a small file's rows; sessions from
  * [[graft.GraftSession]] set them in-process instead
  * ([[graft.ForkFreeLocalFileSystem]]), with the same modes and `.crc`s.
  */
final class ParquetSink(baseDir: String, metricWaitSeconds: Long = 120) extends DataSink {

  private val obsSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def tablePath(targetTable: String): String = s"$baseDir/$targetTable"

  override def write(df: DataFrame, targetTable: String): Long = {
    val spark = df.sparkSession
    val target = tablePath(targetTable)
    // Unique per-call observation name: the listener fires for every
    // action on the session, so it keys off this name to find its write.
    val obsName = s"graft_sink_${targetTable}_${obsSeq.incrementAndGet()}"
    val rows = new AtomicLong(-1L)
    val done = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(obsName).foreach { row =>
          rows.set(row.getLong(0)); done.countDown()
        }
      // A failed write throws synchronously from .parquet() below; the
      // listener only exists to deliver the success metric.
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // Snapshot existing files so the fallback can count only THIS write's
    // output (append mode accumulates files from prior writes).
    val before = listParquetFiles(spark, target).toSet
    spark.listenerManager.register(listener)
    try {
      df.observe(obsName, count(lit(1)).as("rows_written"))
        .write.mode("append").parquet(target)
      // The listener bus is async; the write itself has already committed,
      // we only wait for the metric row to be delivered. A dropped event
      // must NOT fail a committed write: fall back to the new files'
      // parquet footer row counts (driver-side metadata reads, bounded by
      // this write's partition count — no data re-scan).
      if (done.await(metricWaitSeconds, TimeUnit.SECONDS)) rows.get()
      else {
        org.slf4j.LoggerFactory.getLogger(classOf[ParquetSink]).warn(
          s"observed metric $obsName not delivered within ${metricWaitSeconds}s; " +
            "counting committed parquet footers instead")
        footerRowCount(spark, listParquetFiles(spark, target).filterNot(before))
      }
    } finally spark.listenerManager.unregister(listener)
  }

  private def listParquetFiles(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).map(_.getPath)
  }

  /** Sum of row counts from parquet footers — metadata-only reads, all
    * opened with the context's one Hadoop configuration. */
  private[sinks] def footerRowCount(spark: org.apache.spark.sql.SparkSession, files: Seq[org.apache.hadoop.fs.Path]): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val reader = graft.ops.ParquetOpen.footer(conf, f)
      try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally reader.close()
    }.sum
  }
}

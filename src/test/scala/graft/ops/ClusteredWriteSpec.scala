package graft.ops

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The clustered writers (`appendClustered`, `overwriteClustered`,
  * `compactClustered`): one file per non-empty cluster with disjoint
  * footer ranges of the range-derived key, every row kept, and a write
  * stage sized by the data — a small frame is written by one task under
  * adaptive execution, and by at most `nClusters` tasks without it. */
class ClusteredWriteSpec extends SparkSpec {
  import spark.implicits._

  private val nClusters = 16

  /** The text index's range bucket of `term_hash` into `n` clusters. */
  private def bucketOf(n: Int) =
    expr(s"int(((shiftright(term_hash, 32) + 2147483648L) * ${n}L) div 4294967296L)")

  private val bucket = bucketOf(nClusters)

  private def frame(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(rnd.nextLong()).zipWithIndex.map { case (h, i) => (h, s"r$seed-$i") }
      .toDF("term_hash", "payload")
  }

  /** Result tasks (the write stage's tasks) run under the job label
    * `label` while `body` runs; `jobsDuring`'s closing sentinel job
    * means every event of `body` has reached this listener too. */
  private def writeTasks(label: String)(body: => Unit): Int = {
    val stageLabel = new ConcurrentHashMap[Int, String]()
    val tasks = new AtomicInteger()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageLabel.put(e.stageInfo.stageId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && stageLabel.get(e.stageId) == label)
          tasks.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try jobsDuring(body) finally spark.sparkContext.removeSparkListener(listener)
    tasks.get
  }

  /** One file per non-empty cluster, disjoint `term_hash` ranges, and
    * exactly `want`'s rows. */
  private def assertLayout(table: Path, want: DataFrame, n: Int = nClusters): Unit = {
    val files = TxLog.snapshotAt(table).files
    val clusters = want.select(bucketOf(n)).distinct().count()
    assert(files.size == clusters, s"${files.size} files for $clusters clusters")
    files.sortBy(_.minKey).sliding(2).foreach {
      case Seq(a, b) => assert(a.maxKey < b.minKey, s"overlapping ranges: $a, $b")
      case _ => ()
    }
    def sorted(df: DataFrame): Seq[Row] =
      df.select("term_hash", "payload").collect().toSeq.sortBy(_.getString(1))
    assert(sorted(TxLog.readAt(spark, table)) == sorted(want))
  }

  test("appendClustered: one task for a small frame, one file per cluster, same rows") {
    val t = Files.createTempDirectory("graft_cw").resolve("ac")
    val df = frame(1, 400)
    val n = writeTasks("txlog appendClustered ac") {
      TxLog.appendClustered(spark, df, t, "term_hash", bucket, nClusters): Unit
    }
    assert(n == 1, s"write tasks: $n")
    assertLayout(t, df)
  }

  test("overwriteClustered: one task for a small frame, one file per cluster, same rows") {
    val t = Files.createTempDirectory("graft_cw").resolve("oc")
    TxLog.appendClustered(spark, frame(2, 300), t, "term_hash", bucket, nClusters): Unit
    val df = frame(3, 250)
    val n = writeTasks("txlog overwriteClustered oc") {
      TxLog.overwriteClustered(spark, df, t, "term_hash", bucket, nClusters): Unit
    }
    assert(n == 1, s"write tasks: $n")
    assertLayout(t, df)
  }

  test("compactClustered: one task for a small table, one file per cluster, same rows") {
    val t = Files.createTempDirectory("graft_cw").resolve("cc")
    val (a, b) = (frame(4, 300), frame(5, 300))
    TxLog.appendClustered(spark, a, t, "term_hash", bucket, nClusters): Unit
    TxLog.appendClustered(spark, b, t, "term_hash", bucket, nClusters): Unit
    assert(TxLog.snapshotAt(t).files.size > nClusters, "two appends: two files for most clusters")
    val n = writeTasks("txlog compactClustered cc") {
      TxLog.compactClustered(spark, t, "term_hash", bucket, nClusters): Unit
    }
    assert(n == 1, s"write tasks: $n")
    assertLayout(t, a.union(b))
  }

  test("without adaptive execution the writers run at most nClusters write tasks") {
    // fewer clusters than the session's shuffle partitions: a shuffle
    // sized by the session default would run more tasks than clusters
    val few = 4
    assert(spark.sessionState.conf.numShufflePartitions > few)
    val t = Files.createTempDirectory("graft_cw").resolve("na")
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val df = frame(6, 400)
      val counts = Seq(
        writeTasks("txlog appendClustered na") {
          TxLog.appendClustered(spark, df, t, "term_hash", bucketOf(few), few): Unit
        },
        writeTasks("txlog overwriteClustered na") {
          TxLog.overwriteClustered(spark, df, t, "term_hash", bucketOf(few), few): Unit
        },
        writeTasks("txlog compactClustered na") {
          TxLog.compactClustered(spark, t, "term_hash", bucketOf(few), few): Unit
        })
      counts.foreach(n => assert(n >= 1 && n <= few, s"write tasks: $counts"))
      assertLayout(t, df, few)
    } finally spark.conf.set(key, prev)
  }
}

package graft.ops

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Block-max top-k served on the driver against the same plan run
  * through Spark (a driver byte limit of -1 forces it) and against
  * `searchBm25`, the exact full-scoring reference: equal rows, equal
  * schema, equal `BlockMaxReport` between the two block-max paths, and
  * zero Spark jobs for a driver-served call plus its collect.
  * Random corpora of 1–4 increments are walked through every index state
  * the serving path distinguishes: fresh, stale after `pruneDeleted`,
  * deletion vectors from a direct `deleteMor` on the index, maintained,
  * and a compacted index whose dictionary slices all name files
  * rewritten since. A stale call through Spark reads each query term's
  * postings files once. */
class BlockMaxServeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Vocab = 40
  private val Ghost = "zz_ghost"

  /** Docs `from until from + n` of 2–14 words, skewed toward low ranks. */
  private def docs(r: Random, from: Long, n: Int): DataFrame = {
    import spark.implicits._
    (from until from + n).map { id =>
      val words = Seq.fill(2 + r.nextInt(13)) {
        val u = r.nextDouble(); s"w${(Vocab * u * u).toInt}"
      }
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private final case class Served(rows: Seq[Row], schema: StructType,
      report: TextIndex.BlockMaxReport)

  /** The public call, or (`viaSpark`) the same plan with no file set
    * small enough to serve on the driver. */
  private def blockMax(index: Path, terms: Seq[String], k: Int,
      viaSpark: Boolean = false): Served = {
    val (df, rep) =
      if (viaSpark) TextIndex.searchBm25BlockMax(spark, index, terms, k, driverMaxBytes = -1L)
      else TextIndex.searchBm25BlockMax(spark, index, terms, k)
    Served(df.collect().toSeq, df.schema, rep)
  }

  /** Every query set × k agrees across the three ways to rank it. */
  private def check(state: String, index: Path, r: Random): Unit = {
    val queries = Seq(
      Seq(s"w${r.nextInt(4)}"),
      Seq(s"w${r.nextInt(Vocab)}", s"w${r.nextInt(Vocab)}", Ghost),
      Seq(s"w${r.nextInt(8)}", s"w${8 + r.nextInt(Vocab - 8)}"),
      Seq(Ghost))
    for (terms <- queries; k <- Seq(1, 5, 10)) {
      val what = s"$state, terms ${terms.mkString(" ")}, k=$k"
      var driver: Served = null
      val jobs = jobsDuring { driver = blockMax(index, terms, k) }
      assert(jobs == 0, s"$what: a driver-served call ran $jobs Spark jobs")
      val viaSpark = blockMax(index, terms, k, viaSpark = true)
      val exact = TextIndex.searchBm25(spark, index, terms, k)
      val exactRows = exact.collect().toSeq
      assert(driver.rows == exactRows, s"$what: driver ranking differs from searchBm25")
      assert(viaSpark.rows == exactRows, s"$what: Spark ranking differs from searchBm25")
      assert(driver.schema == exact.schema && viaSpark.schema == exact.schema,
        s"$what: schemas ${driver.schema} / ${viaSpark.schema} / ${exact.schema}")
      assert(driver.report == viaSpark.report, s"$what: reports differ")
      assert(!driver.report.fellBack, s"$what: fell back")
    }
  }

  for (seed <- 1 to 4) test(s"driver path = Spark path = searchBm25 across index states (seed $seed)") {
    import spark.implicits._
    val r = new Random(seed)
    val base = Files.createTempDirectory(s"graft_bms$seed")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    var next = 0L
    def increment(): Unit = {
      val n = 20 + r.nextInt(60)
      TxLog.append(spark, docs(r, next, n), corpus, "doc_id", nParts = 1 + r.nextInt(2))
      TextIndex.ensureIndexed(spark, corpus, index): Unit
      next += n
    }
    (1 to seed).foreach(_ => increment()) // 1–4 increments
    check("fresh", index, r)

    val gone = Seq.fill(6)(r.nextLong().abs % next).distinct.toDF("doc_id")
    TxLog.deleteMor(spark, corpus, gone, "doc_id"): Unit
    TextIndex.pruneDeleted(spark, index, gone): Unit
    check("stale after pruneDeleted", index, r)

    TextIndex.maintain(spark, corpus, index): Unit
    check("maintained", index, r)

    TxLog.deleteMor(spark, index,
      Seq.fill(4)(r.nextLong().abs % next).distinct.toDF("doc_id"), "doc_id"): Unit
    assert(TxLog.snapshotAt(index).files.exists(_.dv.isDefined))
    check("DVs from a direct deleteMor", index, r)

    // slices whose files were rewritten since: two increments after
    // maintain, then a compaction of the index with no dictionary
    // rebuild. Every slice of a common term falls back to the same
    // hash-range files, which its essential units must read once
    TextIndex.maintain(spark, corpus, index): Unit
    increment()
    increment()
    TxLog.compact(spark, index, "term_hash"): Unit
    check("slices rewritten since", index, r)
  }

  /** Scans of each postings file of `index` (by file name) by the Spark
    * queries `body` runs: every file-source scan of every executed plan,
    * adaptive stages and subqueries included. */
  private def postingsScans(index: Path)(body: => Unit): Map[String, Int] = {
    val scanned = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
          .flatMap(_.relation.location.inputFiles).foreach(scanned.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    jobsDuring(()): Unit // delivers the events of earlier queries first
    spark.listenerManager.register(listener)
    try jobsDuring(body): Unit finally spark.listenerManager.unregister(listener)
    scanned.asScala.toSeq.filter(_.contains(s"/${index.getFileName}/"))
      .map(f => f.substring(f.lastIndexOf('/') + 1)).groupBy(identity)
      .view.mapValues(_.size).toMap
  }

  test("a stale call through Spark reads each query term's postings files once") {
    import spark.implicits._
    val r = new Random(7)
    val base = Files.createTempDirectory("graft_bms_scans")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    (0 until 3).foreach { i =>
      TxLog.append(spark, docs(r, i * 60L, 60), corpus, "doc_id", nParts = 2)
      TextIndex.ensureIndexed(spark, corpus, index): Unit
    }
    val gone = Seq(5L, 61L, 130L).toDF("doc_id")
    TxLog.deleteMor(spark, corpus, gone, "doc_id"): Unit
    TextIndex.pruneDeleted(spark, index, gone): Unit
    val snap = TxLog.snapshotAt(index)
    for (terms <- Seq(Seq("w0"), Seq("w1", "w7", Ghost), Seq("w2", "w15", "w30")); k <- Seq(1, 10)) {
      var served: Served = null
      val scans = postingsScans(index) { served = blockMax(index, terms, k, viaSpark = true) }
      assert(served.report.dfRecounted, s"$terms: the index is not stale")
      // one scan of a file per query term whose hash range it holds
      val lists = terms.distinct.flatMap { t =>
        val h = TextIndex.termHash(t)
        TxLog.pruneFiles(snap, h, h).map(f => f.path.substring(f.path.lastIndexOf('/') + 1))
      }.groupBy(identity).view.mapValues(_.size).toMap
      assert(scans == lists, s"$terms, k=$k: postings scans $scans, lists $lists")
      assert(served.rows == TextIndex.searchBm25(spark, index, terms, k).collect().toSeq,
        s"$terms, k=$k: ranking differs from searchBm25")
    }
  }
}

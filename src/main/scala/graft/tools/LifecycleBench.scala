package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{BloomIndex, TextIndex, TxLog}
import graft.queries.{DedupQueries, SimilarityQueries}

/** The SERVE-ONLY bench lane (round 14): the slowest driver gates are
  * in-gate BUILDS by design (knn06/07 train and commit four artifacts,
  * tix01-04 tokenize the corpus, er05/06 run three scoring passes for
  * their equivalence proofs), so the per-round bench artifact mixes
  * amortized build cost into numbers whose production meaning is
  * serving latency. Here every persisted-index lifecycle family builds
  * ONCE, then its serving plan alone is timed over decorrelated
  * repetitions (min wins — co-tenant bursts only ever inflate); the
  * ivfadc and text_search lanes also check their row counts. Output is
  * one row per lane plus a
  * markdown table and one JSON line for BENCH.md's round-over-round
  * regression scan: compare the `serve` column, not the gate totals.
  *
  * Lanes (gate family → what serves):
  *  - ivfadc    (knn06/knn07): probe 2 coarse lists, ADC, rerank — all
  *                from lake tables;
  *  - text_search (tix01-03, sql24): BM25 from pruned postings + the
  *                index's statistics properties;
  *  - text_fetch  (tix04, c08): BM25 + the winners' stats-pruned
  *                corpus point-fetch;
  *  - pq        (sim10/sim11): ADC + rerank from the persisted
  *                codebook/codes;
  *  - bloom     (blix01-03, sql18): per-file bit test + pruned scan;
  *  - links     (er05/er06): the persisted entity-links table read a
  *                downstream consumer pays (scan + aggregate).
  *
  * Usage: runMain graft.tools.LifecycleBench [sfDir] [reps]
  */
object LifecycleBench {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local()
    val work = Files.createTempDirectory("graft_lifecycle")

    final case class Lane(name: String, build: Double, serve: Double, rows: Long)
    val lanes = scala.collection.mutable.ArrayBuffer[Lane]()
    def lane(name: String)(build: => Unit)(serve: => Long): Unit = {
      val t0 = System.nanoTime()
      build
      val buildSec = (System.nanoTime() - t0) / 1e9
      var best = Double.MaxValue
      var rows = 0L
      (1 to reps).foreach { _ =>
        val t1 = System.nanoTime()
        rows = serve
        best = math.min(best, (System.nanoTime() - t1) / 1e9)
      }
      lanes += Lane(name, buildSec, best, rows)
      println(f"LIFECYCLE $name%-12s build=${buildSec}%7.2f s  serve_min=${best}%6.2f s  rows=$rows")
    }

    // ---- ivfadc (knn06/knn07 serving)
    var ivf: (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path, java.nio.file.Path) = null
    lane("ivfadc") { ivf = SimilarityQueries.buildLakeIvfPq(spark, dir) } {
      val n = SimilarityQueries.serveLakeIvfAdc(spark, dir, ivf._1, ivf._2, ivf._3, ivf._4).count()
      require(n == 40, s"ivfadc: expected 4 queries x top-10, got $n")
      n
    }

    // ---- text index (tix01-04 serving)
    val corpus = work.resolve("corpus")
    val tix = work.resolve("ix")
    lane("text_search") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("bigint").as("doc_id"), col("text"),
          col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      TxLog.append(spark, docs, corpus, "doc_id", nParts = 8)
      TextIndex.ensureIndexed(spark, corpus, tix): Unit
    } {
      val n = TextIndex.searchBm25(spark, tix, Seq("spark", "join", "filter"), 20).count()
      require(n == 20, s"text_search: expected top-20, got $n")
      n
    }
    lane("text_fetch") { () } {
      TextIndex.fetchTopDocs(spark, corpus, tix, Seq("spark", "join", "filter"), 5).count()
    }

    // ---- ann (sim07/sim08/sim13 serving): 2-probe IVF from lake tables
    var annState: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
    lane("ann") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cent = SimilarityQueries.refinedIvfCentroids(emb)
      val centT = work.resolve("cent"); val assignT = work.resolve("assign")
      TxLog.append(spark, cent, centT, "cent_id", nParts = 1)
      TxLog.appendClustered(spark, graft.ops.Ann.assignToCentroids(emb, cent),
        assignT, "cent_id", clusterCol = col("cent_id"), nClusters = 8)
      annState = (TxLog.readAt(spark, centT), TxLog.readAt(spark, assignT))
    } {
      SimilarityQueries.serveLakeAnn(spark, dir, annState._1, annState._2).count()
    }

    // ---- ann through LIFECYCLE MAINTENANCE (sim14): the same serving
    // plan after 3 incremental builds + GDPR deletes + AnnIndex.maintain
    // — the round-15 criterion is that maintenance RESTORES the fresh
    // index's serving latency (compare to the `ann` lane's serve min)
    val mCorpus = work.resolve("m_corpus"); val mIx = work.resolve("m_ix")
    lane("ann_maint") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("bigint").as("vec_id"),
          col("embedding"), col("label"))
      Seq(col("vec_id") % 10 =!= 9,
          col("vec_id") % 10 === 9 && col("vec_id") % 2 === 0,
          col("vec_id") % 10 === 9 && col("vec_id") % 2 === 1)
        .foreach { p =>
          TxLog.append(spark, emb.filter(p), mCorpus, "vec_id", nParts = 2)
          graft.ops.AnnIndex.ensureIndexed(spark, mCorpus, mIx): Unit
        }
      val dels = emb.filter(col("vec_id") % 9 === 8).select("vec_id")
      TxLog.deleteMor(spark, mCorpus, dels, "vec_id"): Unit
      TxLog.deleteMor(spark, mIx, dels, "vec_id"): Unit
      graft.ops.AnnIndex.maintain(spark, mCorpus, mIx): Unit
    } {
      SimilarityQueries.serveLakeAnn(spark, dir,
        TxLog.readAt(spark, work.resolve("m_ix_cent")),
        TxLog.readAt(spark, mIx)).count()
    }

    // ---- bounded text top-k (tix10/tix11 serving): block-max
    // disjunctive top-k — θ̂ from the dictionary's stored pairs (no
    // postings job), unit-granular essential selection, candidate-span
    // file pruning (the lane keeps its name: LIFECYCLE.json keys on
    // it). When the query terms' dictionary and postings files total at
    // most TextIndex.DriverServeBytes (1 MiB) the whole call reads and ranks
    // on the driver (zero Spark jobs; the count below runs on a local
    // relation), so this lane measures that path whenever the index is
    // that small. Must stay at-or-under the full-scoring text_search
    // lane.
    lane("text_maxscore") { () } {
      TextIndex.searchBm25BlockMax(spark, tix, Seq("dup", "join", "filter"), 10)
        ._1.count()
    }

    // ---- phrase (tix08/tix09 serving): positional alignment join
    lane("phrase") {
      TextIndex.ensurePositional(spark, corpus, tix): Unit
    } {
      TextIndex.searchPhrase(spark, tix, "stream table hash").count()
    }

    // ---- pq (sim10/sim11 serving)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    var pqState: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
    lane("pq") {
      val c0 = emb.filter(col("vec_id") % 10 =!= 9)
      val n = c0.count()
      val (codes0, codebook) = graft.ops.Pq.model(
        c0, "vec_id", "embedding", dims = 64, m = 8,
        k = SimilarityQueries.pqK(n), iters = 2)
      val cbT = work.resolve("cb"); val codeT = work.resolve("codes")
      TxLog.append(spark, codebook, cbT, "cid", nParts = 1)
      TxLog.appendClustered(spark, codes0, codeT, "vec_id",
        clusterCol = col("sub"), nClusters = 4)
      val cbLake = TxLog.readAt(spark, cbT)
      TxLog.appendClustered(spark,
        graft.ops.Pq.encode(emb.filter(col("vec_id") % 10 === 9), cbLake,
          "vec_id", "embedding", dims = 64, m = 8),
        codeT, "vec_id", clusterCol = col("sub"), nClusters = 2)
      pqState = (TxLog.readAt(spark, codeT), cbLake)
    } {
      val n = emb.filter(col("vec_id") % 10 =!= 9).count()
      graft.ops.Pq.adcRerankTopK(emb, pqState._1, pqState._2,
        emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        dims = 64, m = 8,
        shortlistK = SimilarityQueries.pqShortlist(n), topK = 10).count()
    }

    // ---- bloom (blix01/sql18 serving)
    val btab = work.resolve("btab"); val bix = work.resolve("bix")
    var probe = ""
    lane("bloom") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("bigint").as("doc_id"), md5(col("text")).as("text_key"))
      (0 until 4).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 4 === i), btab, "doc_id", nParts = 2)
      }
      BloomIndex.ensureIndexed(spark, btab, bix, "text_key"): Unit
      probe = d.filter(col("doc_id") === 42).select("text_key").head.getString(0)
    } {
      BloomIndex.lookup(spark, btab, bix, "text_key", probe)._1.count()
    }

    // ---- links (er05/er06 serving: the consumer's read of the
    // persisted table, not the build's scoring passes)
    val links = work.resolve("links")
    lane("links") {
      TxLog.append(spark, DedupQueries.erPairsDerive(spark, dir)
        .select(col("dirty_id").cast("bigint").as("dirty_id"),
          col("clean_id").cast("bigint").as("clean_id")),
        links, "dirty_id", nParts = 4)
    } {
      TxLog.readAt(spark, links).groupBy("clean_id")
        .agg(count(lit(1))).count()
    }

    // ---- artifacts: markdown table + one JSON line
    println()
    println("| lane | build (s) | serve min (s) | rows |")
    println("|---|---|---|---|")
    lanes.foreach(l => println(f"| ${l.name} | ${l.build}%.2f | ${l.serve}%.2f | ${l.rows} |"))
    val json = lanes.map(l =>
      s""""${l.name}":{"build":${f"${l.build}%.3f"},"serve":${f"${l.serve}%.3f"}}""")
      .mkString(",")
    println(s"""{"metric":"lifecycle_serve","dir":"$dir","reps":$reps,"lanes":{$json}}""")
    spark.stop()
  }
}

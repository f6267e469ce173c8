package graft.ops

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The merge-on-read delete path: `TxLog.deleteMor` and
  * `TextIndex.pruneDeleted` run one Spark job per table they touch, and
  * `fetchTopDocs` one job; seeded random deletes leave the same deletion
  * vectors, stats and rankings as a naive model written here; redelivery
  * commits nothing; the positional sibling converges after a crash
  * between the two index commits; `mergeMor` and `streamingApply` stay
  * exact on key sets past the `isin`→InSet threshold, with duplicate
  * keys and an int-typed key column; `fetchTopDocs` returns the rows and
  * schema of the join-based fetch it replaced. */
class MorDeleteSpec extends SparkSpec {

  private val Vocab = 30
  private val Ghost = "zz_ghost"

  /** Docs `from until from + n` of 3–12 words, skewed toward low ranks. */
  private def docs(r: Random, from: Long, n: Int): Seq[(Long, String)] =
    (from until from + n).map { id =>
      val words = Seq.fill(3 + r.nextInt(10)) {
        val u = r.nextDouble(); s"w${(Vocab * u * u).toInt}"
      }
      (id, words.mkString(" "))
    }

  private def frame(d: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    d.toDF("doc_id", "text")
  }

  private def keyFrame(ks: Seq[Long]): DataFrame = {
    import spark.implicits._
    ks.toDF("doc_id")
  }

  private def sib(index: Path, suffix: String): Path =
    index.resolveSibling(index.getFileName.toString + suffix)

  /** A corpus of `incs` increments of `perInc` docs (two files each) with
    * its text index and, if asked, the positional sibling. */
  private final class Lake(name: String, r: Random, incs: Int, perInc: Int,
      positional: Boolean) {
    val base: Path = Files.createTempDirectory(name)
    val corpus: Path = base.resolve("corpus")
    val index: Path = base.resolve("ix")
    val live: mutable.LinkedHashMap[Long, String] = mutable.LinkedHashMap.empty
    var next = 0L
    def increment(): Unit = {
      val d = docs(r, next, perInc)
      TxLog.append(spark, frame(d), corpus, "doc_id", nParts = 2)
      TextIndex.ensureIndexed(spark, corpus, index): Unit
      if (positional) TextIndex.ensurePositional(spark, corpus, index): Unit
      live ++= d
      next += perInc
    }
    (1 to incs).foreach(_ => increment())
    def delete(ks: Seq[Long]): Long = {
      TxLog.deleteMor(spark, corpus, keyFrame(ks), "doc_id"): Unit
      val v = TextIndex.pruneDeleted(spark, index, keyFrame(ks))
      ks.foreach(live.remove)
      v
    }
  }

  // ------------------------------------------------------------ job counts

  test("deleteMor of a local key frame runs one Spark job, on files that already carry DVs") {
    val lake = new Lake("graft_mor_jobs1", new Random(1), 2, 40, positional = false)
    lake.delete(Seq(3L, 44L))
    assert(TxLog.snapshotAt(lake.corpus).files.exists(_.dv.isDefined))
    val ks = keyFrame((5L to 60L by 4).toSeq)
    assert(jobsDuring { TxLog.deleteMor(spark, lake.corpus, ks, "doc_id"): Unit } == 1)
  }

  test("pruneDeleted runs one Spark job per table: 1 without the positional sibling, 2 with it") {
    for (positional <- Seq(false, true)) {
      val lake = new Lake(s"graft_mor_jobs2$positional", new Random(2), 2, 40, positional)
      lake.delete(Seq(3L, 44L)) // the index files carry DVs from here on
      val ks = keyFrame((5L to 60L by 4).toSeq)
      TxLog.deleteMor(spark, lake.corpus, ks, "doc_id"): Unit
      var v = 0L
      val jobs = jobsDuring { v = TextIndex.pruneDeleted(spark, lake.index, ks) }
      assert(v > 0L)
      assert(jobs == (if (positional) 2 else 1), s"positional=$positional: $jobs jobs")
    }
  }

  test("fetchTopDocs(...).collect() runs one Spark job on a corpus with DVs") {
    val lake = new Lake("graft_mor_jobs3", new Random(3), 2, 40, positional = false)
    lake.delete(Seq(1L, 2L, 3L, 50L))
    TextIndex.searchBm25BlockMax(spark, lake.index, Seq("w0", "w3"), 5)._1.collect(): Unit
    var rows = Array.empty[Row]
    val jobs = jobsDuring {
      rows = TextIndex.fetchTopDocs(spark, lake.corpus, lake.index, Seq("w0", "w3"), 5).collect()
    }
    assert(rows.length == 5)
    assert(jobs == 1)
  }

  // ------------------------------------------------- equivalence to a model

  /** Rows of each live file of `table` read raw (no DVs): file -> keys. */
  private def rawKeys(table: Path): Map[String, Set[Long]] =
    TxLog.snapshotAt(table).files.map { f =>
      f.path -> spark.read.parquet(table.resolve(f.path).toString)
        .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    }.toMap

  private def dvSets(table: Path): Map[String, Set[Long]] =
    TxLog.snapshotAt(table).files.map { f =>
      f.path -> TxLog.dvKeysFor(table, f).map(_._2.toSet).getOrElse(Set.empty[Long])
    }.toMap

  /** Naive BM25 over the live documents, rounded and ordered like
    * `searchBm25` (score desc, doc_id asc). */
  private def naiveBm25(live: collection.Map[Long, String], terms: Seq[String],
      k: Int): Seq[(Long, Double)] = {
    val words = live.map { case (id, t) => id -> t.split(" ").toSeq }
    val n = words.size.toDouble
    val avgdl = words.values.map(_.size.toLong).sum.toDouble / n
    val qs = terms.distinct
    val df = qs.map(t => t -> words.values.count(_.contains(t))).toMap
    words.toSeq.flatMap { case (id, ws) =>
      val parts = qs.filter(ws.contains).map { t =>
        val tf = ws.count(_ == t).toDouble
        math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * tf /
          (tf + 1.2 * (1.0 - 0.75 + 0.75 * ws.size / avgdl))
      }
      if (parts.isEmpty) None
      else Some(id -> BigDecimal(parts.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  for (seed <- 1 to 3) test(s"seeded random deletes match a naive model: DVs, stats, rankings (seed $seed)") {
    val r = new Random(100 + seed)
    val lake = new Lake(s"graft_mor_eq$seed", r, 2, 30 + r.nextInt(30), positional = true)
    val tables = Seq(lake.corpus, lake.index, sib(lake.index, "_pos"))
    val model = mutable.Map(tables.map(t => t -> mutable.Map.empty[String, Set[Long]]): _*)
    for (round <- 1 to 3) {
      val what = s"seed $seed round $round"
      // live, dead and never-written keys, with duplicates
      val ks = Seq.fill(3 + r.nextInt(15))(r.nextLong().abs % (lake.next + 5)) ++
        lake.live.keys.take(2)
      val raw = tables.map(t => t -> rawKeys(t)).toMap
      val wasLive = ks.exists(lake.live.contains)
      val v = lake.delete(ks)
      assert((v > 0L) == wasLive, s"$what: pruneDeleted returned $v")
      for (t <- tables) {
        raw(t).foreach { case (path, keys) =>
          val hit = keys.intersect(ks.toSet)
          if (hit.nonEmpty) model(t)(path) = model(t).getOrElse(path, Set.empty[Long]) ++ hit
        }
        val want = dvSets(t).keys.map(p => p -> model(t).getOrElse(p, Set.empty[Long])).toMap
        assert(dvSets(t) == want, s"$what: DV key sets of ${t.getFileName}")
      }
      // the index's statistics against the live postings and the model
      val st = TextIndex.corpusStats(lake.index)
      val fromPostings = TxLog.readAt(spark, lake.index)
        .groupBy("doc_id").agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)), sum(col("dl"))).head
      assert(st == ((fromPostings.getLong(0), fromPostings.getLong(1))),
        s"$what: statistics vs live postings")
      assert(st == ((lake.live.size.toLong, lake.live.values.map(_.split(" ").length.toLong).sum)),
        s"$what: statistics vs model")
      for (terms <- Seq(Seq("w0"), Seq("w1", "w7"), Seq("w2", "w13", Ghost), Seq(s"w${r.nextInt(Vocab)}"))) {
        val got = TextIndex.searchBm25(spark, lake.index, terms, 8).collect()
          .map(x => (x.getLong(0), x.getDouble(1))).toSeq
        val want = naiveBm25(lake.live, terms, 8)
        assert(got.map(_._1) == want.map(_._1), s"$what, ${terms.mkString(" ")}: ids")
        got.zip(want).foreach { case (g, w) =>
          assert(math.abs(g._2 - w._2) <= 2e-6, s"$what, ${terms.mkString(" ")}: $g vs $w")
        }
      }
      lake.increment() // new files enter the next round with empty DVs
    }
  }

  // ------------------------------------------------------------ redelivery

  test("a redelivered delete commits nothing and returns 0") {
    val lake = new Lake("graft_mor_redeliver", new Random(4), 2, 30, positional = true)
    val ks = Seq(2L, 9L, 31L, 9L)
    assert(lake.delete(ks) > 0L)
    val tabs = Seq(lake.corpus, lake.index) ++
      Seq("_pos", "_tstats").map(sib(lake.index, _))
    val before = tabs.map(TxLog.latestVersion)
    val (v, _, dvFiles, _) = TxLog.deleteMor(spark, lake.corpus, keyFrame(ks), "doc_id")
    assert(v == before.head && dvFiles == 0)
    assert(TextIndex.pruneDeleted(spark, lake.index, keyFrame(ks)) == 0L)
    assert(tabs.map(TxLog.latestVersion) == before)
  }

  // ------------------------------------------------------ commit counts

  /** Latest version of every table under `base`, by directory name. */
  private def heads(base: Path): Map[String, Long] = {
    val s = Files.list(base)
    try s.iterator().asScala.filter(p => Files.isDirectory(p.resolve("_graft_log")))
      .map(p => p.getFileName.toString -> TxLog.latestVersion(p)).toMap
    finally s.close()
  }

  /** The tables whose head moved between two [[heads]], with the count. */
  private def moved(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.collect { case (t, v) if v != before.getOrElse(t, -1L) => t -> (v - before.getOrElse(t, -1L)) }

  private def headTxn(p: Path): String = {
    val s = new String(Files.readAllBytes(p.resolve("_graft_log")
      .resolve(f"v${TxLog.latestVersion(p)}%020d").resolve("commit.json")))
    """"txn"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
  }

  test("index writes publish one version per table they change and none anywhere else") {
    val lake = new Lake("graft_mor_commits", new Random(5), 2, 30, positional = true)
    // pruneDeleted: one version on the index (statistics included) and
    // one on the positional sibling
    val h0 = heads(lake.base)
    TxLog.deleteMor(spark, lake.corpus, keyFrame(Seq(3L, 4L, 40L)), "doc_id"): Unit
    val h1 = heads(lake.base)
    assert(TextIndex.pruneDeleted(spark, lake.index, keyFrame(Seq(3L, 4L, 40L))) > 0L)
    assert(moved(h0, h1) == Map("corpus" -> 1L))
    assert(moved(h1, heads(lake.base)) == Map("ix" -> 1L, "ix_pos" -> 1L))
    // an ensureIndexed increment: the index (its watermark included)
    // and its dictionary
    TxLog.append(spark, frame(docs(new Random(6), lake.next, 20)), lake.corpus, "doc_id",
      nParts = 2): Unit
    val h2 = heads(lake.base)
    assert(TextIndex.ensureIndexed(spark, lake.corpus, lake.index) == 20L)
    assert(moved(h2, heads(lake.base)) == Map("ix" -> 1L, "ix_tstats" -> 1L))
    assert(TxLog.snapshotAt(lake.corpus).files.map(_.path).toSet.subsetOf(TxLog.sourcesAt(lake.index)))
    // Forget: one version per participant, every head under one marker
    val base = Files.createTempDirectory("graft_mor_forget")
    TxLog.cloneTable(spark, lake.corpus, base.resolve("tbl")): Unit
    Seq("", "_pos", "_tstats").foreach { s =>
      TxLog.cloneTable(spark, sib(lake.index, s), base.resolve("tbl_text_ix" + s)): Unit
    }
    val h3 = heads(base)
    val n0 = TextIndex.corpusStats(base.resolve("tbl_text_ix"))._1
    val rep = Forget.forget(spark, base, "tbl", keyFrame(Seq(5L, 6L, 7L)), "doc_id")
    assert(rep.postingsDeleted == 3L)
    val parts = Seq("tbl", "tbl_text_ix", "tbl_text_ix_pos")
    assert(moved(h3, heads(base)) == parts.map(_ -> 1L).toMap)
    val marker = headTxn(base.resolve("tbl"))
    assert(marker.nonEmpty && parts.forall(p => headTxn(base.resolve(p)) == marker))
    assert(TextIndex.corpusStats(base.resolve("tbl_text_ix"))._1 == n0 - 3L)
  }

  // ------------------------------------------------- positional crash window

  private def phrase(index: Path, p: String): Set[Long] =
    TextIndex.searchPhrase(spark, index, p).collect().map(_.getLong(0)).toSet

  test("the positional sibling catches up on redelivery after a crash between the two index commits") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_mor_crash")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, Seq((1L, "a b c"), (2L, "a b c d"), (3L, "x a b c"), (4L, "a b"))
      .toDF("doc_id", "text"), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    TextIndex.ensurePositional(spark, corpus, index): Unit
    assert(phrase(index, "a b c") == Set(1L, 2L, 3L))
    def st(): (Long, Long) = TextIndex.corpusStats(index)

    // index committed (its statistics shrunk in the same commit),
    // positional delete lost
    assert(st() == ((4L, 13L)))
    assert(TxLog.deleteMor(spark, index, Array(1L), "doc_id", carry = Seq("dl"),
      props = TextIndex.deletedProps(index)).dvFiles > 0)
    assert(st() == ((3L, 10L)))
    assert(phrase(index, "a b c") == Set(1L, 2L, 3L)) // the crash window
    assert(TextIndex.pruneDeleted(spark, index, Seq(1L).toDF("doc_id")) == 0L)
    assert(phrase(index, "a b c") == Set(2L, 3L))
    assert(st() == (3L, 10L))

    // positional committed, index delete lost
    TxLog.deleteMor(spark, sib(index, "_pos"), Seq(3L).toDF("doc_id"), "doc_id"): Unit
    assert(phrase(index, "a b c") == Set(2L))
    assert(TextIndex.pruneDeleted(spark, index, Seq(3L).toDF("doc_id")) > 0L)
    assert(st() == (2L, 6L))
    assert(TextIndex.searchBm25(spark, index, Seq("x"), 5).collect().isEmpty)
    assert(phrase(index, "a b c") == Set(2L))
  }

  // ------------------------------------------------- mergeMor, streamingApply

  private def intTable(name: String, ids: Seq[Int]): Path = {
    import spark.implicits._
    val t = Files.createTempDirectory(name).resolve("t")
    ids.grouped(math.max(1, ids.size / 3)).foreach { g =>
      TxLog.append(spark, g.map(i => (i, s"v$i")).toDF("k", "v"), t, "k", nParts = 1): Unit
    }
    t
  }

  private def rows(t: Path): Seq[(Int, String)] =
    TxLog.readAt(spark, t).collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted

  test("mergeMor on an int key column with more than 10 keys, some duplicated") {
    import spark.implicits._
    val t = intTable("graft_mor_merge", 0 until 60)
    val upd = ((5 until 60 by 3) ++ Seq(8, 8, 100, 101)).map(i => (i, s"u$i"))
    assert(upd.map(_._1).distinct.size > 10)
    val (_, rewritten, dvFiles, _) = TxLog.mergeMor(spark, t, upd.toDF("k", "v"), "k", "k")
    assert(rewritten == 0 && dvFiles == 3)
    val keys = upd.map(_._1).toSet
    assert(rows(t) == ((0 until 60).filterNot(keys).map(i => (i, s"v$i")) ++ upd).sorted)
    val dvKeys = TxLog.snapshotAt(t).files.flatMap(f => TxLog.dvKeysFor(t, f).toSeq.flatMap(_._2))
    assert(dvKeys.sorted == keys.filter(_ < 60).toSeq.map(_.toLong).sorted)
  }

  test("deleteMor and streamingApply on an int key column with more than 10 keys, some duplicated") {
    import spark.implicits._
    val t = intTable("graft_mor_stream", 0 until 60)
    val gone = (1 until 60 by 4) ++ Seq(1, 1, 5, 200)
    val (_, _, dvFiles, _) = TxLog.deleteMor(spark, t, gone.toDF("k"), "k")
    assert(dvFiles == 3)
    val batch = ((2 until 60 by 5).map(i => (i, s"s$i", if (i % 2 == 0) "update" else "delete")) ++
      Seq((300, "s300", "insert"), (1, "s1", "insert")))
    assert(TxLog.streamingApply(spark, batch.toDF("k", "v", "op"), 0L, t, "op", "k", "k").isDefined)
    assert(TxLog.streamingApply(spark, batch.toDF("k", "v", "op"), 0L, t, "op", "k", "k").isEmpty)
    val changed = batch.map(_._1).toSet
    val want = (0 until 60).filterNot(gone.toSet).filterNot(changed).map(i => (i, s"v$i")) ++
      batch.filter(_._3 != "delete").map(b => (b._1, b._2))
    assert(rows(t) == want.sorted)
  }

  // ------------------------------------------------------------ fetchTopDocs

  /** The join-based fetch `fetchTopDocs` ran before: a broadcast scores
    * join and an `orderBy`. */
  private def joinFetch(corpus: Path, index: Path, terms: Seq[String], k: Int,
      idCol: String): DataFrame = {
    import spark.implicits._
    val top = TextIndex.searchBm25BlockMax(spark, index, terms, k)._1.collect()
    if (top.isEmpty)
      return TxLog.readAt(spark, corpus).filter(lit(false)).withColumn("score", lit(0.0))
    val ids = top.map(_.getLong(0))
    val scores = top.map(r => (r.getLong(0), r.getDouble(1))).toSeq.toDF(idCol, "score")
    TxLog.readAt(spark, corpus, range = Some((idCol, ids.min, ids.max)))
      .filter(col(idCol).isin(ids.map(Long.box).toSeq: _*))
      .join(broadcast(scores), idCol)
      .orderBy(col("score").desc, col(idCol).asc)
  }

  test("fetchTopDocs returns the join-based fetch's rows and schema, empty result included") {
    import spark.implicits._
    val r = new Random(7)
    val base = Files.createTempDirectory("graft_mor_fetch")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    // the id column is not first, and a nullable column rides along
    val d = docs(r, 0, 80)
    TxLog.append(spark, d.map { case (id, t) =>
      (t, id, if (id % 3 == 0) None else Some(id.toInt * 2)) }.toDF("text", "doc_id", "extra"),
      corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    TxLog.deleteMor(spark, corpus, Seq(0L, 4L, 9L).toDF("doc_id"), "doc_id"): Unit
    TextIndex.pruneDeleted(spark, index, Seq(0L, 4L, 9L).toDF("doc_id")): Unit
    for (terms <- Seq(Seq("w0"), Seq("w1", "w5", "w20"), Seq(Ghost)); k <- Seq(1, 5, 50)) {
      val got = TextIndex.fetchTopDocs(spark, corpus, index, terms, k)
      val want = joinFetch(corpus, index, terms, k, "doc_id")
      assert(got.schema == want.schema, s"${terms.mkString(" ")} k=$k")
      assert(got.collect().toSeq == want.collect().toSeq, s"${terms.mkString(" ")} k=$k")
    }
  }
}

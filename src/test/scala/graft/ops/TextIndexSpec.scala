package graft.ops

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Persisted inverted-text-index mechanics (tix01/tix02 gate the BM25
  * ranking against DuckDB): the serving plan never touches the corpus,
  * maintenance is idempotent and compaction-proof, deletes prune, and
  * the incremental build is indistinguishable from a rebuild. */
class TextIndexSpec extends SparkSpec {

  private def corpusDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("doc_id").withColumn("text",
      concat(lit("alpha beta"),
        when(col("doc_id") % 3 === 0, lit(" gamma gamma")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" rareword")).otherwise(lit(""))))
  }

  test("serving reads ONLY the index tables; the corpus never enters the plan") {
    val base = Files.createTempDirectory("graft_tix")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, corpusDf(0L to 99L), corpus, "doc_id", nParts = 2)
    assert(TextIndex.ensureIndexed(spark, corpus, index) == 100L)
    val res = TextIndex.searchBm25(spark, index, Seq("gamma", "rareword"), 10)
    val files = res.inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(f => !f.contains("/corpus/")),
      s"corpus leaked into the serving plan: $files")
    // and the ranking is sane: docs with both terms outrank gamma-only
    val top = res.collect().map(_.getLong(0))
    assert(top.nonEmpty && top.head % 7 == 0 && top.head % 3 == 0)
  }

  test("posting-list reads PRUNE: a term's search scans fewer index files than the index has") {
    val base = Files.createTempDirectory("graft_tix_prune")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    import spark.implicits._
    // a real-vocabulary shape (50 distinct terms), so the range-monotone
    // term_hash clustering has an axis to spread over
    val d = (0L to 499L).toDF("doc_id").withColumn("text",
      concat(lit("alpha w"), (col("doc_id") % 50).cast("string")))
    TxLog.append(spark, d, corpus, "doc_id", nParts = 4)
    TextIndex.ensureIndexed(spark, corpus, index, nClusters = 8): Unit
    val indexFiles = TxLog.snapshotAt(index).files.size
    assert(indexFiles >= 4, s"want a multi-file index, got $indexFiles")
    val scanned = TextIndex.searchBm25(spark, index, Seq("w7"), 5)
      .inputFiles.count(_.contains("/ix/"))
    assert(scanned < indexFiles,
      s"term_hash clustering should prune: scanned $scanned of $indexFiles")
  }

  /** Latest version of every table under `base`, by directory name. */
  private def heads(base: Path): Map[String, Long] = {
    val s = Files.list(base)
    try s.iterator().asScala.filter(p => Files.isDirectory(p.resolve("_graft_log")))
      .map(p => p.getFileName.toString -> TxLog.latestVersion(p)).toMap
    finally s.close()
  }

  private def liveFiles(corpus: Path): Set[String] = TxLog.snapshotAt(corpus).files.map(_.path).toSet

  test("ensureIndexed is idempotent and survives corpus compaction without doubling postings") {
    // every increment writer over one corpus (doc_id, text, embedding):
    // the derived table each one keeps, and the call
    val base = Files.createTempDirectory("graft_tix2")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    val ann = base.resolve("aix")
    val writers: Seq[(Path, () => Long)] = Seq(
      index -> (() => TextIndex.ensureIndexed(spark, corpus, index)),
      base.resolve("ix_pos") -> (() => TextIndex.ensurePositional(spark, corpus, index)),
      ann -> (() => AnnIndex.ensureIndexed(spark, corpus, ann, idCol = "doc_id")),
      base.resolve("aix_codes") -> (() => AnnIndex.ensurePq(spark, corpus, ann, idCol = "doc_id")))
    def name(t: Path) = t.getFileName.toString
    TxLog.append(spark, corpusDf(0L to 49L).withColumn("embedding",
        expr("transform(sequence(0, 63), d -> cast((doc_id * (d + 3)) % 17 as float))")),
      corpus, "doc_id", nParts = 2)
    writers.foreach { case (t, w) => assert(w() == 50L, name(t)) }
    writers.foreach { case (t, w) => assert(w() == 0L, name(t)) }
    val rows = writers.map { case (t, _) => t -> TxLog.readAt(spark, t).count() }.toMap
    // compaction rewrites every corpus file under new names — the
    // watermark sees "new" files, the id anti-join keeps rows single
    TxLog.compact(spark, corpus, "doc_id")
    val h0 = heads(base)
    writers.foreach { case (t, w) => assert(w() == 0L, name(t)) }
    // the names ride exactly one data-less commit per derived table, and
    // nothing else moves
    val h1 = heads(base)
    assert(h1 == h0 ++ writers.map { case (t, _) => name(t) -> (h0(name(t)) + 1L) })
    writers.foreach { case (t, _) =>
      val v = h1(name(t))
      assert(TxLog.addsAt(t, v).isEmpty, name(t))
      assert(TxLog.sourcesAt(t, Some(v)) -- TxLog.sourcesAt(t, Some(v - 1)) == liveFiles(corpus),
        name(t))
      assert(liveFiles(corpus).subsetOf(TxLog.sourcesAt(t)), name(t))
      assert(TxLog.readAt(spark, t).count() == rows(t), name(t))
    }
    writers.foreach { case (t, w) => assert(w() == 0L, name(t)) }
    assert(heads(base) == h1, "a second call committed")
    // a binding argument other than the recorded one is refused by name
    // (the positional sibling records no binding), and nothing commits
    def refused(key: String)(call: => Long): Unit = {
      val ex = intercept[IllegalArgumentException](call)
      assert(ex.getMessage.contains(key), ex.getMessage)
    }
    refused("text_col")(TextIndex.ensureIndexed(spark, corpus, index, textCol = "body"))
    refused("n_clusters")(AnnIndex.ensureIndexed(spark, corpus, ann, idCol = "doc_id",
      nClusters = 4))
    refused("id_col")(AnnIndex.ensurePq(spark, corpus, ann))
    assert(heads(base) == h1, "a refused call committed")
  }

  test("an index whose postings predate its watermark catches up in one call, postings single") {
    val base = Files.createTempDirectory("graft_tix_legacy")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, corpusDf(0L to 29L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    TxLog.append(spark, corpusDf(30L to 49L), corpus, "doc_id", nParts = 1)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    // the same postings and statistics in a log that records no source
    // files, as an index built with a separate watermark table has
    val legacy = base.resolve("lx")
    TxLog.append(spark, TxLog.readAt(spark, index), legacy, "term_hash"): Unit
    TxLog.setProps(legacy, TxLog.propsAt(index)): Unit
    assert(TxLog.sourcesAt(legacy).isEmpty)
    val postings = TxLog.readAt(spark, legacy).count()
    val h0 = heads(base)
    assert(TextIndex.ensureIndexed(spark, corpus, legacy) == 0L)
    // one watermark commit, and the missing dictionary built from the
    // postings the log has
    val h1 = h0 + ("lx" -> (h0("lx") + 1L)) + ("lx_tstats" -> 0L)
    assert(heads(base) == h1)
    assert(TxLog.readAt(spark, legacy).count() == postings)
    assert(TextIndex.corpusStats(legacy) == TextIndex.corpusStats(index))
    assert(TxLog.sourcesAt(legacy) == liveFiles(corpus))
    assert(TextIndex.ensureIndexed(spark, corpus, legacy) == 0L)
    assert(heads(base) == h1, "a second call committed")
  }

  test("incremental build equals rebuild, postings multiset and stats both") {
    val base = Files.createTempDirectory("graft_tix3")
    val c1 = base.resolve("c1"); val i1 = base.resolve("i1")
    val c2 = base.resolve("c2"); val i2 = base.resolve("i2")
    // incremental: two arrivals
    TxLog.append(spark, corpusDf(0L to 39L), c1, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, c1, i1): Unit
    TxLog.append(spark, corpusDf(40L to 79L), c1, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, c1, i1): Unit
    // rebuild: one arrival
    TxLog.append(spark, corpusDf(0L to 79L), c2, "doc_id", nParts = 4)
    TextIndex.ensureIndexed(spark, c2, i2): Unit
    val a = TxLog.readAt(spark, i1).select("term", "doc_id", "tf", "dl")
    val b = TxLog.readAt(spark, i2).select("term", "doc_id", "tf", "dl")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "incremental postings differ from rebuild")
    assert(TextIndex.corpusStats(i1) == TextIndex.corpusStats(i2))
  }

  test("maintain folds incremental file-sets back to the clustered per-term bound, serving unchanged") {
    val base = Files.createTempDirectory("graft_tix5")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    // 1 build + 4 increments: every commit holds alpha/beta docs, so a
    // term's postings land in one file PER COMMIT — 5 overlapping sets
    (0L until 5L).foreach { i =>
      TxLog.append(spark, corpusDf((i * 20L) until (i * 20L + 20L)), corpus,
        "doc_id", nParts = 1)
      TextIndex.ensureIndexed(spark, corpus, index): Unit
    }
    val before = TextIndex.filesForTerm(spark, index, "alpha")
    assert(before == 5, s"expected one file per increment, got $before")
    val servedBefore = TextIndex.searchBm25(spark, index, Seq("gamma", "rareword"), 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rep = TextIndex.maintain(spark, corpus, index)
    assert(rep.rowsIndexed == 0L)
    val after = TextIndex.filesForTerm(spark, index, "alpha")
    assert(after == 1, s"re-cluster should restore the one-file seek, got $after")
    val servedAfter = TextIndex.searchBm25(spark, index, Seq("gamma", "rareword"), 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(servedAfter == servedBefore, "maintenance changed the ranking")
    // every live corpus file is in the watermark, and no sibling table holds it
    assert(liveFiles(corpus).subsetOf(TxLog.sourcesAt(index)))
    assert(!Files.exists(base.resolve("ix_files")))
  }

  test("maintain folds pruneDeleted's DV sidecars and indexes corpus files that arrived since") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tix6")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, corpusDf(0L to 59L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    TxLog.deleteMor(spark, corpus, Seq(21L, 42L).toDF("doc_id"), "doc_id"): Unit
    TextIndex.pruneDeleted(spark, index, Seq(21L, 42L).toDF("doc_id")): Unit
    assert(TxLog.snapshotAt(index).files.exists(_.dv.isDefined))
    // new corpus files since the last ensureIndexed: maintain indexes them
    TxLog.append(spark, corpusDf(60L to 79L), corpus, "doc_id", nParts = 1)
    val rep = TextIndex.maintain(spark, corpus, index)
    assert(rep.rowsIndexed == 20L)
    assert(rep.dvsBefore >= 1L && rep.dvsAfter == 0L,
      s"DVs should fold: before=${rep.dvsBefore} after=${rep.dvsAfter}")
    val ids = TextIndex.searchBm25(spark, index, Seq("rareword"), 80)
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(21L) && !ids.contains(42L))
    assert(ids.contains(70L) && ids.contains(63L)) // 70 %7==0, 63 %7==0
    assert(TextIndex.corpusStats(index)._1 == 78L) // 60 - 2 deleted + 20 new
  }

  test("positional index: phrase alignment, incremental build, overlapping phrases, maintain re-clusters") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tix8")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    val mk = (id: Long, text: String) => Seq((id, text)).toDF("doc_id", "text")
    TxLog.append(spark, mk(1L, "a b c a b c x"), corpus, "doc_id", nParts = 1)
    TxLog.append(spark, mk(2L, "b c a b"), corpus, "doc_id", nParts = 1)
    assert(TextIndex.ensurePositional(spark, corpus, index) == 2L)
    // doc 1 holds "a b c" at starts 0 and 3; doc 2 holds none ("a b" only)
    val r1 = TextIndex.searchPhrase(spark, index, "a b c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(r1 == Seq((1L, 2L)))
    // cross-boundary phrase: "b c a b" spans the repeat in doc 1
    // (b1 c2 a3 b4) and is all of doc 2
    assert(TextIndex.searchPhrase(spark, index, "b c a b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L)))
    // incremental arrival + redelivery idempotence
    TxLog.append(spark, mk(3L, "z a b c"), corpus, "doc_id", nParts = 1)
    assert(TextIndex.ensurePositional(spark, corpus, index) == 1L)
    assert(TextIndex.ensurePositional(spark, corpus, index) == 0L)
    val r2 = TextIndex.searchPhrase(spark, index, "a b c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(r2 == Seq((1L, 2L), (3L, 1L)))
    // maintain folds the positional increments too; serving unchanged.
    // (the frequency index must exist for maintain's meta/read path)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    val filesBefore = TxLog.snapshotAt(base.resolve("ix_pos")).files.size
    TextIndex.maintain(spark, corpus, index): Unit
    val filesAfter = TxLog.snapshotAt(base.resolve("ix_pos")).files.size
    assert(filesAfter <= filesBefore)
    assert(TextIndex.searchPhrase(spark, index, "a b c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == r2)
  }

  test("pruneDeleted reaches the positional sibling: a phrase query cannot resurrect a deleted doc") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tix9p")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, Seq((1L, "a b c"), (2L, "a b c d")).toDF("doc_id", "text"),
      corpus, "doc_id", nParts = 1)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    TextIndex.ensurePositional(spark, corpus, index): Unit
    assert(TextIndex.searchPhrase(spark, index, "a b c")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    TxLog.deleteMor(spark, corpus, Seq(1L).toDF("doc_id"), "doc_id"): Unit
    TextIndex.pruneDeleted(spark, index, Seq(1L).toDF("doc_id")): Unit
    assert(TextIndex.searchPhrase(spark, index, "a b c")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // redelivery after a hypothetical crash between the two deletes:
    // the replay must keep both tables consistent and change nothing
    TextIndex.pruneDeleted(spark, index, Seq(1L).toDF("doc_id")): Unit
    assert(TextIndex.searchPhrase(spark, index, "a b c")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(TextIndex.searchBm25(spark, index, Seq("a"), 10)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("pruneDeleted is idempotent under redelivery: a replayed key set never double-shrinks the stats") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tix7")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, corpusDf(0L to 29L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    assert(TextIndex.pruneDeleted(spark, index, Seq(7L, 14L).toDF("doc_id")) > 0L)
    val st1 = TextIndex.corpusStats(index)
    // the crash-redelivery case a CDF-driven pruner hits: same batch again
    assert(TextIndex.pruneDeleted(spark, index, Seq(7L, 14L).toDF("doc_id")) == 0L)
    assert(TextIndex.corpusStats(index) == st1)
    assert(st1._1 == 28L)
  }

  test("pruneDeleted removes a document from the ranking and shrinks the stats") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tix4")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, corpusDf(0L to 29L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    val before = TextIndex.searchBm25(spark, index, Seq("rareword"), 30)
      .collect().map(_.getLong(0)).toSet
    assert(before.contains(21L)) // 21 % 7 == 0
    // the GDPR flow: MOR-delete in the corpus, prune the index with the keys
    TxLog.deleteMor(spark, corpus, Seq(21L).toDF("doc_id"), "doc_id"): Unit
    TextIndex.pruneDeleted(spark, index, Seq(21L).toDF("doc_id")): Unit
    val after = TextIndex.searchBm25(spark, index, Seq("rareword"), 30)
      .collect().map(_.getLong(0)).toSet
    assert(after == before - 21L)
    assert(TextIndex.corpusStats(index)._1 == 29L)
  }

  test("binding contracts: meta mismatch refused, legacy index refuses maintain, backfill restores it") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tix5")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark,
      corpusDf(0L to 9L).withColumnRenamed("doc_id", "id").withColumnRenamed("text", "body"),
      corpus, "id", nParts = 1)
    TextIndex.ensureIndexed(spark, corpus, index, idCol = "id", textCol = "body"): Unit
    // re-ingesting under a different binding must refuse, not corrupt
    intercept[IllegalArgumentException] {
      TextIndex.ensureIndexed(spark, corpus, index) // defaults != (id, body, 8)
    }
    // a legacy index (a log whose commits carry the statistics but no
    // binding property) must refuse maintenance outright
    val legacy = base.resolve("lx")
    TxLog.append(spark, TxLog.readAt(spark, index), legacy, "term_hash"): Unit
    val (n, len) = TextIndex.corpusStats(index)
    TxLog.setProps(legacy, Map("n_docs" -> n.toString, "total_len" -> len.toString)): Unit
    assert(!TextIndex.hasBinding(legacy))
    val ex = intercept[IllegalStateException] {
      TextIndex.maintain(spark, corpus, legacy)
    }
    assert(ex.getMessage.contains("id_col"))
    // backfill route: one explicit ensureIndexed with the original args
    assert(TextIndex.ensureIndexed(spark, corpus, legacy, idCol = "id", textCol = "body") == 0L)
    assert(TextIndex.hasBinding(legacy))
    TxLog.append(spark, corpusDf(10L to 14L)
      .withColumnRenamed("doc_id", "id").withColumnRenamed("text", "body"),
      corpus, "id", nParts = 1)
    val rep = TextIndex.maintain(spark, corpus, legacy)
    assert(rep.rowsIndexed == 5L)
    assert(TextIndex.searchBm25(spark, legacy, Seq("rareword"), 30)
      .collect().map(_.getLong(0)).toSet == Set(0L, 7L, 14L))
  }

  test("block-max: skips the common list, ranking EXACTLY equals full scoring") {
    val base = Files.createTempDirectory("graft_tix7")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    // two increments so the dictionary is multi-slice (sum-at-read path)
    TxLog.append(spark, corpusDf(0L to 49L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    TxLog.append(spark, corpusDf(50L to 99L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    val terms = Seq("rareword", "alpha") // rare high-impact vs universal low-impact
    val full = TextIndex.searchBm25(spark, index, terms, 5).collect().toSeq
    val (pruned, rep) = TextIndex.searchBm25BlockMax(spark, index, terms, 5)
    assert(!rep.fellBack && rep.thetaFromDict)
    assert(rep.termsSkipped == 1, s"expected alpha non-essential, got $rep")
    assert(rep.postingsEssential < rep.postingsTotal, s"no postings pruned: $rep")
    // df summed over both slices of each term: 15 rareword + 100 alpha
    assert(rep.postingsTotal == 115L && rep.postingsEssential == 15L, s"$rep")
    assert(pruned.collect().toSeq == full)
    // a term the corpus never saw: both modes agree (and no crash)
    val (ghost, grep) = TextIndex.searchBm25BlockMax(spark, index, Seq("zzz_unseen"), 5)
    assert(ghost.collect().isEmpty && !grep.fellBack)
  }

  test("maintain rebuilds the _tstats dictionary EXACTLY from the live postings") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tix9")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    // increments + deletes leave log-structured slices + stale-high df
    TxLog.append(spark, corpusDf(0L to 59L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    TxLog.append(spark, corpusDf(60L to 99L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    TxLog.deleteMor(spark, corpus, Seq(21L, 63L).toDF("doc_id"), "doc_id"): Unit
    TextIndex.pruneDeleted(spark, index, Seq(21L, 63L).toDF("doc_id")): Unit
    TextIndex.maintain(spark, corpus, index): Unit
    // the dictionary must equal an independent recompute over the live
    // postings — df exact (deletes folded), bound exact, one row per term
    val recomputed = TxLog.readAt(spark, index)
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        max(col("tf").cast("double") / (col("tf").cast("double") + 0.3)).as("b"))
      .orderBy("term").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val stored = TxLog.readAt(spark, base.resolve("ix_tstats"))
      .groupBy("term")
      .agg(sum(col("df")).as("df"), max(col("tf_bound")).as("b"))
      .orderBy("term").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(stored.toSeq == recomputed.toSeq)
    // ...and post-maintain the table IS one row per term (folded exact)
    val nRows = TxLog.readAt(spark, base.resolve("ix_tstats")).count()
    assert(nRows == recomputed.length.toLong)
  }

  test("a pre-dictionary index upgraded mid-life gets a COMPLETE dictionary") {
    val base = Files.createTempDirectory("graft_tix10")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, corpusDf(0L to 49L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    // an index without its dictionary
    TxLog.deleteTree(base.resolve("ix_tstats"))
    val terms = Seq("rareword", "alpha")
    val (legacy, legacyRep) = TextIndex.searchBm25BlockMax(spark, index, terms, 5)
    assert(legacyRep.fellBack) // no dictionary at all: exact full scoring
    assert(legacy.collect().toSeq == TextIndex.searchBm25(spark, index, terms, 5).collect().toSeq)
    // the upgrading increment must cover the OLD postings too — a
    // delta-only dictionary would misrank every query touching them.
    // The old postings' slice spans many commits, so it is unbound
    // (hash-range reads) beside the increment's bound slice
    TxLog.append(spark, corpusDf(50L to 79L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    val (pruned, rep) = TextIndex.searchBm25BlockMax(spark, index, terms, 5)
    assert(!rep.fellBack && rep.termsSkipped > 0, s"$rep")
    assert(pruned.collect().toSeq == TextIndex.searchBm25(spark, index, terms, 5).collect().toSeq)
  }

  test("a crash between an increment's postings and its dictionary slice is repaired") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tix13")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, corpusDf(0L to 39L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    // the next increment's postings commit, written alone: its rows,
    // statistics, increment count and source files, and no slice
    val docs = Seq((40L, "alpha crashonly"), (41L, "crashonly crashonly beta"))
      .toDF("doc_id", "text")
    TxLog.append(spark, docs, corpus, "doc_id", nParts = 1)
    val newFiles = TxLog.snapshotAt(corpus).files.map(_.path)
      .filterNot(TxLog.sourcesAt(index))
    val posts = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "term").agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
      .select(xxhash64(col("term")).as("term_hash"), col("term"), col("doc_id"),
        col("tf"), col("dl"))
    val p = TxLog.propsAt(index)
    TxLog.appendClustered(spark, posts, index, "term_hash", lit(0), 1,
      props = Map("n_docs" -> (p("n_docs").toLong + 2).toString,
        "total_len" -> (p("total_len").toLong + 5).toString,
        "increments" -> (p.get("increments").fold(0L)(_.toLong) + 1).toString),
      sources = newFiles): Unit
    // the redelivery finds no new corpus file, and repairs the dictionary
    assert(TextIndex.ensureIndexed(spark, corpus, index) == 0L)
    val dict = TxLog.readAt(spark, base.resolve("ix_tstats"))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val live = TxLog.readAt(spark, index).groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dict == live && live("crashonly") == 2L, s"dictionary $dict vs live $live")
    for (terms <- Seq(Seq("crashonly"), Seq("crashonly", "alpha"))) {
      val (r, rep) = TextIndex.searchBm25BlockMax(spark, index, terms, 5)
      assert(!rep.fellBack)
      assert(r.collect().toSeq == TextIndex.searchBm25(spark, index, terms, 5).collect().toSeq,
        s"block-max differs from searchBm25 for $terms")
    }
    // once repaired, a redelivery commits nothing
    val head = TxLog.latestVersion(base.resolve("ix_tstats"))
    assert(TextIndex.ensureIndexed(spark, corpus, index) == 0L)
    assert(TxLog.latestVersion(base.resolve("ix_tstats")) == head)
  }

  test("empty query-term lists refuse with a clear message in both search modes") {
    val base = Files.createTempDirectory("graft_tix6")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, corpusDf(0L to 4L), corpus, "doc_id", nParts = 1)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    intercept[IllegalArgumentException](TextIndex.searchBm25(spark, index, Nil, 5))
    intercept[IllegalArgumentException](TextIndex.searchBm25All(spark, index, Nil, 5))
  }

  test("block-max: multi-increment index, unit-level pruning, file reads bounded, ranking exact") {
    val base = Files.createTempDirectory("graft_tix10")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    // three id-RANGE increments: each slice's files carry disjoint
    // doc_id footer ranges, the layout the candidate-span prune needs
    Seq(0L to 39L, 40L to 79L, 80L to 119L).foreach { r =>
      TxLog.append(spark, corpusDf(r), corpus, "doc_id", nParts = 1)
      TextIndex.ensureIndexed(spark, corpus, index): Unit
    }
    val terms = Seq("rareword", "alpha")
    val full = TextIndex.searchBm25(spark, index, terms, 5).collect().toSeq
    val (pruned, rep) = TextIndex.searchBm25BlockMax(spark, index, terms, 5)
    assert(!rep.fellBack && rep.thetaFromDict && !rep.dfRecounted)
    assert(rep.unitsEssential < rep.unitsTotal, s"no unit pruned: $rep")
    assert(rep.filesRead <= rep.filesFull && rep.filesRead > 0, s"file accounting off: $rep")
    assert(pruned.collect().toSeq == full)
    // ghost term: agreement and no crash
    val (ghost, grep2) = TextIndex.searchBm25BlockMax(spark, index, Seq("zzz_unseen"), 5)
    assert(ghost.collect().isEmpty && !grep2.fellBack)
  }

  test("block-max: deletes force the safe path (live recount + θ̂ from live postings), still exact") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tix11")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, corpusDf(0L to 99L), corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    TxLog.deleteMor(spark, corpus, Seq(7L, 14L).toDF("doc_id"), "doc_id"): Unit
    TextIndex.pruneDeleted(spark, index, Seq(7L, 14L).toDF("doc_id")): Unit
    val terms = Seq("rareword", "alpha")
    val (r1, rep1) = TextIndex.searchBm25BlockMax(spark, index, terms, 5)
    assert(!rep1.fellBack && rep1.dfRecounted && !rep1.thetaFromDict,
      "stored pairs may name deleted docs; θ̂ must come from live postings")
    assert(rep1.unitsEssential < rep1.unitsTotal, s"pruning survives staleness: $rep1")
    assert(rep1.filesRead == rep1.filesFull, s"the recount reads every full list: $rep1")
    assert(r1.collect().toSeq == TextIndex.searchBm25(spark, index, terms, 5).collect().toSeq)
    // maintain folds DVs + rebuilds the dictionary: fast path reopens,
    // every unit binds to the one compacted commit
    TextIndex.maintain(spark, corpus, index): Unit
    val (r2, rep2) = TextIndex.searchBm25BlockMax(spark, index, terms, 5)
    assert(!rep2.fellBack && !rep2.dfRecounted && rep2.thetaFromDict)
    assert(rep2.filesRead <= rep2.filesFull)
    assert(r2.collect().toSeq == TextIndex.searchBm25(spark, index, terms, 5).collect().toSeq)
  }

  test("driver-side termHash is bit-identical to the SQL xxhash64 the postings carry") {
    import spark.implicits._
    val terms = Seq("spark", "rareword", "日本語", "", "a b", " x")
    val sql = terms.toDF("t").selectExpr("t", "xxhash64(t) AS h")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach(t => assert(TextIndex.termHash(t) == sql(t), s"hash mismatch for '$t'"))
  }
}

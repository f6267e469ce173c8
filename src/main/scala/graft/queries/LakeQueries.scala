package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

import graft.ops.{BloomIndex, TextIndex, TxLog}

/** Transaction-log (lakehouse) operators as gated queries — ACID commits,
  * snapshot isolation, time travel, compaction, stats-based file
  * skipping, and copy-on-write merge/delete over parquet, per the
  * published Delta Lake protocol pattern (Armbrust et al., VLDB 2020).
  * The mechanism lives in [[graft.ops.TxLog]] (log replay, optimistic
  * commit, footer stats) with TxLogSpec covering the filesystem-level
  * contracts (commit races, partial-commit invisibility, checkpoint
  * replay equivalence); these queries gate the DATA semantics
  * cross-engine: every table is built inside the query from the
  * `documents` parquet, so DuckDB can state the expected contents of any
  * snapshot closed-form.
  *
  * Layout determinism: tx04/tx05 build the table as 8 equal-WIDTH
  * doc_id range files (file b = ids with  id*8 div (max_id+1) = b  —
  * one append each), the same equal-width trick zorder01 uses: a real
  * write clusters by repartitionByRange (sample-based, engine-private),
  * while equal-width needs only max(doc_id) and lets the oracle compute
  * exactly which files a key set or range predicate touches. The
  * rewritten/scanned file COUNTS are therefore first-class gated
  * columns, not just spec assertions.
  *
  * Scale notes (100 TB):
  *  - every append/compact/merge writes files executor-parallel and
  *    commits them in one atomic metadata operation; the log stays
  *    O(files), replayed from checkpoints (<= 10 commits read).
  *  - tx05's files_scanned IS the 100 TB story: a narrow range predicate
  *    on a range-clustered table touches ceil(width/file_width) files
  *    regardless of table size — the scan cost tracks the ANSWER size,
  *    not the data size.
  *  - tx04's files_rewritten shows the merge analog: an upsert delta
  *    rewrites only the files whose footer range can contain an
  *    affected key (stats prune, then an exact broadcast probe).
  */
object LakeQueries {

  /** documents with a bigint doc_id — the tx tables' content. */
  private def docs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id").cast("bigint").as("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars").cast("bigint").as("n_chars"))

  // every query builds its table in a fresh temp dir, deleted at JVM exit
  private def freshTable(): Path = SharedBases.tempDir("graft_tx").resolve("tbl")

  /** max(doc_id)+1 — the equal-width denominator (1-row control-plane
    * agg, same role as zorder01's zmax). */
  private def idSpan(d: DataFrame): Long =
    d.agg(max(col("doc_id"))).head.getLong(0) + 1L

  // ---- SHARED text-index build families (SharedBases, optimization
  // r16): the identical deterministic builds several gates open with,
  // built once per JVM and cloned (zero-copy) for mutating consumers.
  // Family layout is the catalog-sibling convention (`tbl`,
  // `tbl_text_ix`, + files/tstats[/pos] siblings), so both CALL-driven
  // and direct-ops gates resolve the same names.

  /** text1: two-append corpus + ONE-SHOT frequency index — the opening
    * build of tix01, tix04, tix06 and sql24. */
  private def textFam1(spark: SparkSession, dir: String): Path =
    SharedBases.base(spark, s"text1:$dir") { b =>
      val d = docs(spark, dir)
      val corpus = b.resolve("tbl")
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), corpus, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), corpus, "doc_id", nParts = 2)
      TextIndex.ensureIndexed(spark, corpus, b.resolve("tbl_text_ix")): Unit
    }

  /** text0: first-half corpus + frequency index — the starting state of
    * the incremental (tix02) and streaming (tix03) maintenance gates. */
  private def textFam0(spark: SparkSession, dir: String): Path =
    SharedBases.base(spark, s"text0:$dir") { b =>
      val d = docs(spark, dir)
      val corpus = b.resolve("tbl")
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), corpus, "doc_id", nParts = 2)
      TextIndex.ensureIndexed(spark, corpus, b.resolve("tbl_text_ix")): Unit
    }

  /** pos0: first-half corpus + POSITIONAL index — the starting state of
    * the positional maintenance gates (tix08, tix09). */
  private def posFam0(spark: SparkSession, dir: String): Path =
    SharedBases.base(spark, s"pos0:$dir") { b =>
      val d = docs(spark, dir)
      val corpus = b.resolve("tbl")
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), corpus, "doc_id", nParts = 2)
      TextIndex.ensurePositional(spark, corpus, b.resolve("tbl_text_ix")): Unit
    }

  /** text2: FULL corpus + frequency AND positional index — the opening
    * build of tix07, tix10 and dq07. */
  private def textFam2(spark: SparkSession, dir: String): Path =
    SharedBases.base(spark, s"text2:$dir") { b =>
      val d = docs(spark, dir)
      val corpus = b.resolve("tbl")
      TxLog.append(spark, d, corpus, "doc_id", nParts = 4)
      TextIndex.ensureIndexed(spark, corpus, b.resolve("tbl_text_ix")): Unit
      TextIndex.ensurePositional(spark, corpus, b.resolve("tbl_text_ix")): Unit
    }

  /** Driver-side Morton interleave — the Scala twin of
    * [[graft.ops.Layout.zkeySql]], used only to turn the query box's
    * corner CONSTANTS into the covering z-interval for the metadata
    * pruning decision. Inputs are clamped to the 16-bit interleave
    * domain exactly like the column expressions (see zClampedExpr) so
    * the covering-interval property survives any future value range. */
  private def zkey(a: Long, b: Long, bits: Int = 16): Long = {
    val top = (1L << bits) - 1
    val (ac, bc) = (math.min(a, top), math.min(b, top))
    (0 until bits).map(j =>
      (((ac >> j) & 1L) << (2 * j)) | (((bc >> j) & 1L) << (2 * j + 1))).sum
  }

  /** zkeySql over CLAMPED dims: zkeySql interleaves bits 0-15 only, so
    * raw values >= 2^16 would silently truncate and break the covering
    * monotonicity pruning relies on. least(x, 65535) keeps z
    * componentwise monotone at ANY value range (out-of-range points
    * collapse onto the domain edge — the covering interval stays a
    * superset, and the residual filter on the RAW columns stays exact).
    * The identical string feeds Spark, DuckDB, and (via zkey) the
    * driver twin. */
  private def zClampedExpr: String =
    graft.ops.Layout.zkeySql("least(doc_id, 65535)", "least(n_chars, 65535)")

  /** Build the 8-file equal-width range layout in ONE clustered append:
    * file b holds the ids with (id*8) div span = b, so each file's
    * footer [min,max] is exactly its id range. One distributed write,
    * one atomic commit of 8 adds. */
  private def rangeLayout(spark: SparkSession, d: DataFrame, table: Path, span: Long): Unit =
    TxLog.appendClustered(spark, d, table, "doc_id",
      expr(s"(doc_id * 8) div ${span}L"), nClusters = 8): Unit

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- tx01: atomic multi-file append + snapshot read. Two commits
    // (even ids, odd ids, 2 files each), then one snapshot read of the
    // latest version aggregated per source — any lost/duplicated row or
    // type drift through the parquet+log round trip breaks the hash.
    "tx01_snapshot_read" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2)
      TxLog.readAt(spark, table)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("source")
    }),

    // ---- tx02: time travel across append/append/delete. Version 0 has
    // the even ids, version 1 everything, version 2 everything minus the
    // multiples of 10 (a copy-on-write delete). One read per pinned
    // version; old versions stay byte-stable because no commit mutates
    // a data file in place.
    "tx02_time_travel" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2)
      TxLog.deleteKeys(spark, table,
        d.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id", "doc_id", nParts = 1)
      def at(v: Long): DataFrame =
        TxLog.readAt(spark, table, version = Some(v))
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"),
            sum(col("n_chars")).as("sum_chars"))
          .select(lit(v).as("version"), col("n_docs"), col("sum_ids"), col("sum_chars"))
      at(0).unionByName(at(1)).unionByName(at(2)).orderBy("version")
    }),

    // ---- tx03: compaction preserves contents and collapses the file
    // count. Six single-file appends (the small-file problem), one
    // compact commit; files_before/files_after come from the LOG
    // snapshots, the aggregate proves bit-level content preservation.
    "tx03_compaction" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      (0 until 6).foreach { b =>
        TxLog.append(spark, d.filter(col("doc_id") % 6 === b), table, "doc_id", nParts = 1)
      }
      val before = TxLog.snapshotAt(table).files.size
      TxLog.compact(spark, table, "doc_id", nParts = 1)
      val after = TxLog.snapshotAt(table).files.size
      TxLog.readAt(spark, table)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .select(lit(before).cast("bigint").as("files_before"),
          lit(after).cast("bigint").as("files_after"),
          col("n_docs"), col("sum_chars"), col("n_sources"))
    }),

    // ---- tx04: copy-on-write MERGE with file-pruned rewrites. The
    // delta redacts every doc_id % 100 = 7 (update) and inserts three
    // brand-new ids above the id span. files_rewritten is gated: it must
    // equal the number of DISTINCT equal-width buckets containing a
    // matched key — the oracle computes that from the bucket arithmetic,
    // proving the merge touched nothing it didn't have to.
    "tx04_cow_merge" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val table = freshTable()
      rangeLayout(spark, d, table, span)
      val updates = d.filter(col("doc_id") % 100 === 7)
        .withColumn("text", lit("REDACTED")).withColumn("n_chars", lit(8L))
        .unionByName(
          d.filter(col("doc_id") < 3).select(
            (col("doc_id") + lit(span)).as("doc_id"), lit("INSERTED").as("text"),
            col("lang"), lit("merge").as("source"), lit(8L).as("n_chars")))
      val (_, rewritten, total) = TxLog.mergeCow(spark, table, updates, "doc_id", "doc_id")
      TxLog.readAt(spark, table)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(when(col("text") === "REDACTED", 1L).otherwise(0L)).as("n_redacted"),
          sum(when(col("source") === "merge", 1L).otherwise(0L)).as("n_inserted"))
        .select(lit(total).cast("bigint").as("files_total"),
          lit(rewritten).cast("bigint").as("files_rewritten"),
          col("n_docs"), col("sum_chars"), col("n_redacted"), col("n_inserted"))
    }),

    // ---- tx06: schema enforcement + additive evolution. The second
    // append carries a new `quality` column (allowed only via
    // allowEvolution); the snapshot read resolves against the LOG's
    // evolved schema — old files null-fill the new column with no
    // footer-merge pass. Type conflicts and un-flagged new columns are
    // refused at append time (TxLogSpec).
    "tx06_schema_evolution" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      TxLog.append(spark,
        d.filter(col("doc_id") % 2 === 1)
          .withColumn("quality", (col("n_chars") % 5).cast("bigint")),
        table, "doc_id", nParts = 2, allowEvolution = true)
      TxLog.readAt(spark, table)
        .agg(count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_with_quality"),
          sum(coalesce(col("quality"), lit(0L))).as("sum_quality"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- tx07: row-level change feed from the file diff. Between v1
    // (all docs) and v2 (copy-on-write delete of the % 10 = 0 ids) the
    // feed must contain EXACTLY the deleted rows — the rows the rewrite
    // carried over unchanged cancel out of the added/removed file sets.
    // This is the CDC output an incremental downstream (ivm01's delta
    // input) reads off a lakehouse table.
    "tx07_change_feed" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2)
      TxLog.deleteKeys(spark, table,
        d.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id", "doc_id", nParts = 1)
      TxLog.changeFeed(spark, table, 1L, 2L)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("_change_type")
    }),

    // ---- tx08: Z-ORDER-clustered ACID table + 2-dim box pruning — the
    // full cluster-then-skip loop inside the transaction log. The table
    // stores a materialized Morton key z = interleave(doc_id, n_chars)
    // and is written as ONE clustered append on equal-width z-buckets,
    // so each file's footer [min,max] over z is a compact z-range = a
    // small box in BOTH dimensions. A 2-dim box query then prunes on
    // the COVERING z-interval [z(xlo,ylo), z(xhi,yhi)] (valid because
    // bit-spreading is order-preserving per coordinate, so z is
    // componentwise monotone) and applies the exact box predicate as
    // the residual filter. files_scanned/files_total are gated — the
    // oracle recomputes the bucket boxes and the same interval test
    // from the verbatim zkeySql expression.
    "tx08_zorder_pruning" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val yb = d.agg(min(col("n_chars")), max(col("n_chars"))).head
      val (ylo, ymid) = (yb.getLong(0), (yb.getLong(0) + yb.getLong(1)) / 2)
      val zed = d.select(col("doc_id"), col("n_chars"))
        .withColumn("z", expr(zClampedExpr))
      val zmax = zed.agg(max(col("z"))).head.getLong(0)
      val table = freshTable()
      TxLog.appendClustered(spark, zed, table, "z",
        expr(s"(z * 16) div ${zmax + 1}L"), nClusters = 16)
      val (xlo, xhi) = (span / 4, span / 2 - 1)
      val (zlo, zhi) = (zkey(xlo, ylo), zkey(xhi, ymid))
      val snap = TxLog.snapshotAt(table)
      val scanned = TxLog.pruneFiles(snap, zlo, zhi).size
      TxLog.readAt(spark, table, range = Some(("z", zlo, zhi)))
        .filter(col("doc_id").between(xlo, xhi) && col("n_chars").between(ylo, ymid))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
        .select(lit(snap.files.size).cast("bigint").as("files_total"),
          lit(scanned).cast("bigint").as("files_scanned"),
          col("n_rows"), col("sum_chars"))
    }),

    // ---- tx09: the change feed DRIVING incremental view maintenance —
    // the full lakehouse-incremental pipeline in one gated query (tx07
    // produces the feed, ivm01's algebra consumes it). A per-source
    // (count, sum) view is materialized as of v1, then kept current
    // under v2's copy-on-write delete by merging the SIGNED feed delta —
    // never rescanning the base table. Gated cross-method: Spark merges
    // the delta, the oracle recomputes v2's state from scratch.
    // 100 TB shape: the view update reads the feed (churn-sized) plus
    // the source-grain view — the base table is never touched.
    "tx09_feed_ivm" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2)
      TxLog.deleteKeys(spark, table,
        d.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id", "doc_id", nParts = 1)
      val view1 = TxLog.readAt(spark, table, version = Some(1L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      val delta = TxLog.changeFeed(spark, table, 1L, 2L)
        .withColumn("sign", when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .groupBy(col("source"))
        .agg(sum(col("sign")).as("dn"), sum(col("sign") * col("n_chars")).as("ds"))
      view1.join(delta, Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
          (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("sum_chars"))
        .filter(col("n_docs") > 0)
        .orderBy("source")
    }),

    // ---- c05: the composed curation-to-lake pipeline — what a
    // production run ends with: quality-gate the corpus, exact-dedup
    // the survivors (keep-first per content fingerprint), write them
    // to an ACID TxLog table as ONE clustered atomic commit, and serve
    // the result from a snapshot read. The gate covers the whole
    // composition: any row lost/duplicated in the gate, dedup, write
    // or read breaks the hash, and files_total is gated against the
    // oracle's bucket arithmetic over the SURVIVOR set.
    // 100 TB shape: gate + fingerprint are scan-local, dedup is one
    // fp-keyed shuffle, the lake write is one clustered shuffle, the
    // serve is a footer-pruned snapshot scan.
    // ---- c06: the round-11 features composed into one curation
    // pipeline — quality-gate the corpus, ATOMICALLY quarantine the
    // rejects into a second table (CALL move_where: the multi-table
    // transaction, no observable in-between), bloom-index the keepers,
    // and resolve a point probe through the transparently pruned SQL
    // read. Every aggregate, the moved counts, and the probe's dup set
    // are replayed by the oracle.
    "c06_transfer_pipeline" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).withColumn("text_key", md5(col("text")))
      val hot = freshTable()
      val base = hot.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d, hot, "doc_id", nParts = 4)
      TxLog.create(base.resolve("rejects"), d.schema): Unit
      val mv = spark.sql(s"CALL $cat.move_where('tbl', 'rejects', 'doc_id', " +
        s"'n_chars < 120 OR n_chars > 500')").head
      // move_where leaves merge-on-read deletion vectors on the hot
      // table, and DV snapshots serve through GraftDvTable — which the
      // bloom-pruned scan path does not cover. Compact FIRST (folds the
      // DVs into plain files) so the probe below genuinely resolves
      // through GraftDelegatingScanBuilder.bloomPruned, then index the
      // compacted files.
      TxLog.compact(spark, hot, "doc_id", nParts = 4): Unit
      spark.sql(s"CALL $cat.bloom_index('tbl', 'text_key')").collect(): Unit
      // probe: the smallest-id KEPT doc; its text dups are all kept too
      // (same text => same n_chars => same side of the quality gate)
      val probe = spark.sql(s"SELECT text_key FROM $cat.tbl " +
        "ORDER BY doc_id LIMIT 1").head.getString(0)
      val f = spark.sql(s"SELECT COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS s " +
        s"FROM $cat.tbl WHERE text_key = '$probe'").head
      val h = spark.sql(s"SELECT COUNT(*) AS n, " +
        s"CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS s FROM $cat.tbl").head
      val r = spark.sql(s"SELECT COUNT(*) AS n, " +
        s"CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS s FROM $cat.rejects").head
      spark.range(1).select(
        lit(h.getLong(0)).as("kept_docs"), lit(h.getLong(1)).as("kept_chars"),
        lit(r.getLong(0)).as("rejected_docs"), lit(r.getLong(1)).as("rejected_chars"),
        lit(mv.getLong(2)).as("rows_moved"),
        lit(f.getLong(0)).as("n_found"), lit(f.getLong(1)).as("sum_found_ids"))
    }),

    "c05_lake_pipeline" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val gated = d.filter(col("n_chars") >= 30 && size(split(col("text"), " ")) >= 5)
      val kept = gated
        .withColumn("fp", md5(lower(trim(col("text")))))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("rk") === 1)
        .drop("fp", "rk")
      val table = freshTable()
      TxLog.appendClustered(spark, kept, table, "doc_id",
        expr(s"(doc_id * 4) div ${span}L"), nClusters = 4)
      val snap = TxLog.snapshotAt(table)
      TxLog.readAt(spark, table)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("files_total", lit(snap.files.size).cast("bigint"))
        .orderBy("source")
    }),

    // ---- tx10: commit-history audit (DESCRIBE HISTORY) — the log
    // itself as a relation: one row per committed version with its
    // operation and file-action counts. Single-file appends make every
    // count closed-form: append(1 add), append(1 add), COW delete
    // (1 add, 1 remove — only v0's file contains the even keys),
    // compact(1 add, 2 removes). Metadata-only: no data file is read.
    "tx10_history" -> ((spark: SparkSession, dir: String) => {
      import spark.implicits._
      val d = docs(spark, dir)
      val table = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 1)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 1)
      TxLog.deleteKeys(spark, table,
        d.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id", "doc_id", nParts = 1)
      TxLog.compact(spark, table, "doc_id", nParts = 1)
      TxLog.history(table).toDF("version", "op", "n_adds", "n_removes")
        .orderBy("version")
    }),

    // ---- tx11: merge-on-read MERGE via deletion vectors — the same
    // delta as tx04 (redact doc_id % 100 = 7, insert three above-span
    // ids) but applied with ZERO files rewritten: each affected file
    // gets a churn-sized DV sidecar and the updates land as one fresh
    // file. files_rewritten = 0 is gated, dv_files is gated against the
    // same bucket arithmetic tx04 gates its rewrites with, and the
    // aggregate must equal tx04's — the cross-method proof that MOR and
    // COW produce the same table.
    "tx11_mor_merge" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val table = freshTable()
      rangeLayout(spark, d, table, span)
      val updates = d.filter(col("doc_id") % 100 === 7)
        .withColumn("text", lit("REDACTED")).withColumn("n_chars", lit(8L))
        .unionByName(
          d.filter(col("doc_id") < 3).select(
            (col("doc_id") + lit(span)).as("doc_id"), lit("INSERTED").as("text"),
            col("lang"), lit("merge").as("source"), lit(8L).as("n_chars")))
      val (_, rewritten, dvFiles, total) = TxLog.mergeMor(spark, table, updates, "doc_id", "doc_id")
      TxLog.readAt(spark, table)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(when(col("text") === "REDACTED", 1L).otherwise(0L)).as("n_redacted"),
          sum(when(col("source") === "merge", 1L).otherwise(0L)).as("n_inserted"))
        .select(lit(total).cast("bigint").as("files_total"),
          lit(rewritten).cast("bigint").as("files_rewritten"),
          lit(dvFiles).cast("bigint").as("dv_files"),
          col("n_docs"), col("sum_chars"), col("n_redacted"), col("n_inserted"))
    }),

    // ---- tx12: hive-partitioned append + partition pruning COMPOSED
    // with footer range pruning. One distributed write lays the table
    // out as one file per (lang, equal-width doc_id bucket), with each
    // file's partitionValues in the log; a (lang = 'en' AND doc_id
    // range) read then prunes FIRST on the partition map, THEN on the
    // surviving files' footer [min,max] — both counts gated against the
    // oracle's replay of the same rules. The 100 TB shape: partition
    // columns are the coarse pruning axis (day/tenant), clustering is
    // the fine axis; a two-predicate read touches only the files in the
    // intersection, never the table.
    "tx12_partition_pruning" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val table = freshTable()
      TxLog.appendPartitioned(spark, d, table, Seq("lang"), "doc_id",
        clusterCol = Some(expr(s"(doc_id * 4) div ${span}L")), nParts = 8)
      val (lo, hi) = (span / 4, span / 2 - 1)
      val snap = TxLog.snapshotAt(table)
      val partKept = TxLog.pruneFilesPart(snap.files, Map("lang" -> "en"))
      val scanned = partKept.count(f => f.maxKey >= lo && f.minKey <= hi)
      TxLog.readAt(spark, table, range = Some(("doc_id", lo, hi)),
          partitions = Map("lang" -> "en"))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
        .select(lit(snap.files.size).cast("bigint").as("files_total"),
          lit(partKept.size).cast("bigint").as("files_part"),
          lit(scanned).cast("bigint").as("files_scanned"),
          col("n_rows"), col("sum_chars"))
    }),

    // ---- tx14: merge-on-read DELETE, then compaction folds the
    // vectors in. The %10=0 keys are deleted with zero files rewritten
    // (every affected file just gains a sidecar); the snapshot read
    // applies the vectors; compact then rewrites the live rows into one
    // vector-free file with identical contents. dv_files is gated
    // against the bucket arithmetic, dv_after_compact must be 0.
    "tx14_mor_delete_compact" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val table = freshTable()
      rangeLayout(spark, d, table, span)
      val (_, rewritten, dvFiles, _) = TxLog.deleteMor(spark, table,
        d.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id")
      TxLog.compact(spark, table, "doc_id", nParts = 1)
      val snap = TxLog.snapshotAt(table)
      TxLog.readAt(spark, table)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(rewritten).cast("bigint").as("files_rewritten"),
          lit(dvFiles).cast("bigint").as("dv_files"),
          lit(snap.files.size).cast("bigint").as("files_after_compact"),
          lit(snap.files.count(_.dv.isDefined)).cast("bigint").as("dv_after_compact"),
          col("n_docs"), col("sum_chars"))
    }),

    // ---- tx13: streaming CDC APPLY into the lake — the two finished
    // pillars composed: a REAL bounded stream (AvailableNow, one
    // micro-batch per change file) of insert/update/delete rows lands
    // in the ACID table via exactly-once merge-on-read commits
    // (streamingApply: batch id under the claim fence, DVs for matched
    // keys, fresh files for upserts). The final table must equal the
    // oracle's batch recompute of the whole change stream; dv_files is
    // gated against the bucket arithmetic (TxLogSpec proves the
    // restart/redelivery half). 100 TB shape: each batch's cost is
    // O(delta + probed candidate files) — the table is never rescanned.
    "tx13_streaming_cdc" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val table = freshTable()
      val base = table.getParent
      // v0: seed the table with the EVEN ids in the 8-file range layout
      rangeLayout(spark, d.filter(col("doc_id") % 2 === 0), table, span)
      // three CDC files, mtime-ordered: insert the odds, redact the
      // %100=7 ids (all odd), delete the %10=0 ids (all even)
      val nullS = lit(null).cast("string")
      val nullL = lit(null).cast("bigint")
      val b0 = d.filter(col("doc_id") % 2 === 1).withColumn("op", lit("insert"))
      val b1 = d.filter(col("doc_id") % 100 === 7)
        .withColumn("text", lit("REDACTED")).withColumn("n_chars", lit(8L))
        .withColumn("op", lit("update"))
      val b2 = d.filter(col("doc_id") % 10 === 0).select(col("doc_id"),
        nullS.as("text"), nullS.as("lang"), nullS.as("source"),
        nullL.as("n_chars"), lit("delete").as("op"))
      val inDir = base.resolve("in")
      val t0 = System.currentTimeMillis() - 60000
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
        val fdir = inDir.resolve(s"b$i")
        b.coalesce(1).write.parquet(fdir.toString)
        // stamp strictly-increasing mtimes so the file source delivers
        // the change files in CDC order
        val s = Files.list(fdir)
        try s.forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet"))
            Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L)): Unit
        } finally s.close()
      }
      val stream = spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString + "/*")
      val q = stream.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          TxLog.streamingApply(spark, batch, id, table, "op", "doc_id", "doc_id"): Unit
        }
        .start()
      q.awaitTermination(180000): Unit
      val snap = TxLog.snapshotAt(table)
      val nBatches = TxLog.history(table)
        .count { case (_, op, nAdds, _) => op == "streaming-merge" && nAdds > 0 }
      TxLog.readAt(spark, table)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(when(col("text") === "REDACTED", 1L).otherwise(0L)).as("n_redacted"))
        .select(lit(nBatches).cast("bigint").as("n_batches"),
          lit(snap.files.count(_.dv.isDefined)).cast("bigint").as("dv_files"),
          col("n_docs"), col("sum_chars"), col("n_redacted"))
    }),

    // ---- sql01: the TxLog table served PURELY through SQL — the
    // DSv2 catalog resolves each version's live file set and schema
    // from the log and delegates the scan to Spark's parquet V2 table,
    // so `VERSION AS OF` time travel is a first-class statement and
    // pushdown/pruning apply unchanged. Same version history as tx02;
    // the aggregate per pinned version must match the oracle recompute.
    "sql01_catalog_time_travel" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2)
      TxLog.deleteKeys(spark, table,
        d.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id", "doc_id", nParts = 1)
      // catalog names are session-cached by Spark, so derive a fresh one
      // from the table dir — each invocation mounts its own base
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      spark.sql(
        s"""SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_docs,
           |  SUM(doc_id) AS sum_ids, SUM(n_chars) AS sum_chars
           |FROM $cat.tbl VERSION AS OF 0
           |UNION ALL
           |SELECT CAST(1 AS BIGINT), COUNT(*), SUM(doc_id), SUM(n_chars)
           |FROM $cat.tbl VERSION AS OF 1
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), COUNT(*), SUM(doc_id), SUM(n_chars)
           |FROM $cat.tbl
           |ORDER BY version""".stripMargin)
    }),

    // ---- sql02: DV-carrying snapshots served through SQL — the
    // ResolveDvSnapshots analyzer rule (GraftExtensions) swaps the
    // catalog relation for TxLog.readAt's merge-on-read plan at
    // analysis time, so an uncompacted table with live deletion
    // vectors is transparent `SELECT`/`VERSION AS OF` SQL: v1 sees one
    // DV commit applied, the latest sees the unioned sidecars. This
    // closes sql01's documented refusal boundary.
    "sql02_catalog_dv_read" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      TxLog.append(spark, d, table, "doc_id", nParts = 4)               // v0
      TxLog.deleteMor(spark, table,                                      // v1: DV
        d.filter(col("doc_id") % 10 === 3).select("doc_id"), "doc_id")
      TxLog.deleteMor(spark, table,                                      // v2: DV union
        d.filter(col("doc_id") % 10 === 7).select("doc_id"), "doc_id")
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      spark.sql(
        s"""SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_docs,
           |  SUM(n_chars) AS sum_chars
           |FROM $cat.tbl VERSION AS OF 1 WHERE doc_id % 2 = 0
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), COUNT(*), SUM(n_chars)
           |FROM $cat.tbl WHERE doc_id % 2 = 0
           |ORDER BY version""".stripMargin)
    }),

    // ---- tx16: streaming TAIL of the lake table — the read-side twin
    // of tx13's CDC writer: readStream.format("graft-lake") follows the
    // COMMIT LOG (offsets are versions, batches are the files commits
    // added — O(1) metadata per batch, no directory diffing). The
    // mid-sequence compaction is a data-unchanged rewrite; with
    // skipChangeCommits the tail skips it and still delivers every
    // appended row exactly once (the pre-compaction files remain until
    // vacuum). The drained sink must equal the oracle's full recompute.
    "tx16_stream_tail" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 3 === 0), table, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 3 === 1), table, "doc_id", nParts = 2)
      TxLog.compact(spark, table, "doc_id", nParts = 1)
      TxLog.append(spark, d.filter(col("doc_id") % 3 === 2), table, "doc_id", nParts = 2)
      val ckpt = SharedBases.tempDir("graft_tx16_ckpt")
      val sink = s"tx16_sink_${math.abs(table.hashCode().toLong)}"
      val q = spark.readStream.format("graft-lake")
        .option("skipChangeCommits", "true")
        .load(table.toString)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- tx17: the MEDALLION composition — bronze -> silver entirely
    // inside the engine's own machinery: three raw appends land in a
    // bronze TxLog table; a graft-lake STREAMING TAIL (tx16's source)
    // filters/projects each micro-batch and lands it in a silver TxLog
    // table via the exactly-once streaming writer (tx13's batch-id
    // commits). Offsets are commit versions on the read side and batch
    // ids in commits on the write side, so BOTH hops replay safely
    // through restarts. The silver table must equal the oracle's batch
    // recompute of the same filter.
    "tx17_medallion" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val bronze = freshTable()
      val silver = freshTable()
      (0 until 3).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 3 === i), bronze, "doc_id", nParts = 2)
      }
      val ckpt = SharedBases.tempDir("graft_tx17_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", "1") // one bronze commit per micro-batch
        .load(bronze.toString)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          TxLog.streamingAppend(spark, batch, bid, silver, "doc_id", nParts = 1): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      TxLog.readAt(spark, silver)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // ---- tx18: lake-to-lake REPLICATION over the streaming change
    // feed — readChangeFeed streams row-level changes (inserts from
    // appends; delete+insert pairs and pure deletes from merge-on-read
    // commits, recovered scan-shaped from the sidecar diffs), one
    // commit per micro-batch so the <=1-change-per-key contract holds,
    // and streamingApply lands each batch exactly-once in the replica.
    // The replica's full state must equal the oracle's recompute of
    // the same append/update/delete history.
    "tx18_cdf_replication" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val src = freshTable()
      val replica = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), src, "doc_id", nParts = 2)
      TxLog.deleteMor(spark, src,
        d.filter(col("doc_id") % 10 === 4).select("doc_id"), "doc_id")
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), src, "doc_id", nParts = 2)
      TxLog.mergeMor(spark, src,
        d.filter(col("doc_id") % 10 === 8).withColumn("n_chars", col("n_chars") + 1000L),
        "doc_id", "doc_id")
      val ckpt = SharedBases.tempDir("graft_tx18_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", "1")
        .load(src.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          val ins = b.filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          val delOnly = b.filter(col("_change_type") === "delete")
            .drop("_change_type", "_commit_version")
            .join(ins, Seq("doc_id"), "left_anti")
          val changes = ins.withColumn("op", lit("upsert"))
            .unionByName(delOnly.withColumn("op", lit("delete")))
          TxLog.streamingApply(spark, changes, bid, replica, "op", "doc_id", "doc_id"): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      TxLog.readAt(spark, replica)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- sql03: Iceberg-style METADATA TABLES — the log's own state
    // served as SQL relations: lake.`t$history` (one row per commit:
    // version/op/adds/removes) and lake.`t$files` (the live snapshot's
    // file inventory with footer stats and dv flags). Resolution is the
    // same analyzer-rule mechanism as sql02 — metadata-sized
    // LocalRelations, never a data scan. The audit aggregate must
    // replay the known append/append/delete-mor/compact history.
    "sql03_metadata_tables" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2)
      TxLog.deleteMor(spark, table,
        d.filter(col("doc_id") % 10 === 7).select("doc_id"), "doc_id")
      TxLog.compact(spark, table, "doc_id", nParts = 1)
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      spark.sql(
        s"""SELECT 'commits_' || op AS metric, COUNT(*) AS value
           |FROM $cat.`tbl$$history` GROUP BY op
           |UNION ALL SELECT 'files_live', COUNT(*) FROM $cat.`tbl$$files`
           |UNION ALL SELECT 'dv_files', COUNT(CASE WHEN has_dv THEN 1 END)
           |  FROM $cat.`tbl$$files`
           |UNION ALL SELECT 'rows_live', SUM(rows) FROM $cat.`tbl$$files`
           |ORDER BY metric""".stripMargin)
    }),

    // ---- sql04: the WRITE half of the SQL catalog — CREATE TABLE,
    // INSERT INTO, and INSERT OVERWRITE are ACID commits through the
    // same claim-fenced protocol as the API surface (V1Write bridge,
    // the route Spark's own JDBC catalog writes through): the create is
    // a schema-carrying v0, each insert stages + footer-stats + commits,
    // the overwrite replaces the live set in ONE commit, and time
    // travel still reads the pre-overwrite state. history_ok pins the
    // exact op sequence.
    "sql04_sql_writes" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val view = s"docs_$cat"
      d.createOrReplaceTempView(view)
      spark.sql(s"CREATE TABLE $cat.tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)")
      spark.sql(s"INSERT INTO $cat.tbl SELECT doc_id, lang, n_chars FROM $view " +
        "WHERE doc_id % 3 = 0")
      spark.sql(s"INSERT INTO $cat.tbl SELECT doc_id, lang, n_chars FROM $view " +
        "WHERE doc_id % 3 = 1")
      val vPre = TxLog.latestVersion(table)
      spark.sql(s"INSERT OVERWRITE $cat.tbl SELECT doc_id, lang, n_chars FROM $view " +
        "WHERE doc_id % 5 = 0")
      spark.sql(s"INSERT INTO $cat.tbl SELECT doc_id, lang, n_chars FROM $view " +
        "WHERE doc_id % 5 = 2")
      val ops = TxLog.history(table).map(_._2)
      spark.sql(
        s"""SELECT
           |  (SELECT COUNT(*) FROM $cat.tbl) AS rows_live,
           |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM $cat.tbl)
           |    AS sum_chars_live,
           |  (SELECT COUNT(*) FROM $cat.tbl VERSION AS OF $vPre) AS rows_pre_overwrite
           |""".stripMargin)
        .select(col("rows_live"), col("sum_chars_live"), col("rows_pre_overwrite"),
          lit(if (ops == Seq("create", "append", "append", "overwrite", "append")) 1L
              else 0L).as("history_ok"))
    }),

    // ---- sql05: SQL DELETE — the predicate copy-on-write delete
    // (TxLog.deleteWhere behind SupportsDelete): only files containing
    // a match are rewritten, each delete records a CDC sidecar (the
    // change feed replays it), and a predicate matching nothing commits
    // nothing. CTAS creates + fills the table in SQL too.
    "sql05_sql_delete" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val view = s"docs5_$cat"
      d.createOrReplaceTempView(view)
      spark.sql(s"CREATE TABLE $cat.tbl AS SELECT doc_id, lang, n_chars FROM $view")
      spark.sql(s"DELETE FROM $cat.tbl WHERE lang = 'en'")
      // filter-translatable predicates only — the documented boundary of
      // filter-based SupportsDelete (arbitrary predicates go through
      // TxLog.deleteWhere, which takes any Column)
      spark.sql(s"DELETE FROM $cat.tbl WHERE n_chars >= 200 AND n_chars <= 800")
      val dels = TxLog.history(table).count(_._2 == "delete").toLong
      val cdcs = TxLog.versions(table)
        .flatMap(v => TxLog.commitCdcFile(table, v)).size.toLong
      spark.sql(
        s"""SELECT COUNT(*) AS rows_live,
           |  CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS sum_chars_live,
           |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_ids_live
           |FROM $cat.tbl""".stripMargin)
        .select(col("rows_live"), col("sum_chars_live"), col("sum_ids_live"),
          lit(dels).as("n_deletes"), lit(cdcs).as("n_cdc_sidecars"))
    }),

    // ---- sql06: `CREATE TABLE ... PARTITIONED BY` routes SQL inserts
    // through the hive-partitioned append — one file per partition
    // value (the log records partitionValues), and an equality read
    // touches exactly one file's worth of metadata before the residual
    // filter. files_total is the oracle's COUNT(DISTINCT lang).
    "sql06_sql_partitioned" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val view = s"docs6_$cat"
      d.createOrReplaceTempView(view)
      spark.sql(s"CREATE TABLE $cat.tbl (doc_id BIGINT, n_chars BIGINT, lang STRING) " +
        "PARTITIONED BY (lang)")
      spark.sql(s"INSERT INTO $cat.tbl SELECT doc_id, n_chars, lang FROM $view")
      val snap = TxLog.snapshotAt(table)
      val partKept = TxLog.pruneFilesPart(snap.files, Map("lang" -> "en"))
      spark.sql(s"SELECT COUNT(*) AS n_rows, CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) " +
          s"AS sum_chars FROM $cat.tbl WHERE lang = 'en'")
        .select(lit(snap.files.size.toLong).as("files_total"),
          lit(partKept.size.toLong).as("files_scanned"),
          col("n_rows"), col("sum_chars"))
    }),

    // ---- sql07: MAINTENANCE as SQL stored procedures (the Spark 4
    // ProcedureCatalog API, the shape Iceberg ships its maintenance
    // under): CALL lake.compact folds the deletion vectors into one
    // file, CALL lake.set_constraint commits a CHECK constraint, CALL
    // lake.restore rolls back to the DV-carrying version, and CALL
    // lake.vacuum reclaims exactly the dropped rewrite — the whole
    // lifecycle scriptable from SQL with each step an audited commit.
    "sql07_procedures" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d, table, "doc_id", nParts = 4)                  // v0
      TxLog.deleteMor(spark, table,                                        // v1: DVs
        d.filter(col("doc_id") % 10 === 5).select("doc_id"), "doc_id")
      spark.sql(s"CALL $cat.compact('tbl')").collect(): Unit               // v2
      val filesAfterCompact = TxLog.snapshotAt(table).files.size
      spark.sql(s"CALL $cat.set_constraint('tbl', 'nonneg', 'doc_id >= 0')")
        .collect(): Unit                                                   // v3
      spark.sql(s"CALL $cat.restore('tbl', 1)").collect(): Unit            // v4
      val reclaimed = spark.sql(s"CALL $cat.vacuum('tbl', 1, 0)").head.getLong(0)
      TxLog.readAt(spark, table)
        .agg(count(lit(1)).as("rows_live"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(filesAfterCompact.toLong).as("files_after_compact"),
          lit(reclaimed).as("files_reclaimed"),
          lit(TxLog.constraints(table).size.toLong).as("n_constraints"),
          lit(TxLog.versions(table).size.toLong).as("n_commits"),
          col("rows_live"), col("sum_chars"))
    }),

    // ---- sql08: the DML escape hatch — MERGE and arbitrary-predicate
    // UPDATE as stored procedures (`CALL lake.merge_into` /
    // `update_where`), the statements SQL's filter-based DSv2 delete
    // cannot express. merge_into upserts a registered view through the
    // copy-on-write merge (only stats-intersecting files rewrite) or
    // the merge-on-read form (zero rewrites, DV sidecars); update_where
    // applies a SET expression to the rows matching any predicate as a
    // churn-sized COW merge. history_ok pins the exact commit sequence.
    "sql08_sql_dml" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark,
        d.select(col("doc_id"), col("lang"), col("n_chars")), table, "doc_id", nParts = 4)
      d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000L).as("n_chars"))
        .createOrReplaceTempView(s"src_$cat")
      spark.sql(s"CALL $cat.merge_into('tbl', 'src_$cat', 'doc_id')").collect(): Unit
      spark.sql(s"CALL $cat.update_where('tbl', 'doc_id', " +
        s"'lang = ''en'' AND doc_id % 2 = 0', 'n_chars', 'n_chars * 2')").collect(): Unit
      d.filter(col("doc_id") % 11 === 5)
        .select(col("doc_id"), col("lang"), lit(0L).as("n_chars"))
        .createOrReplaceTempView(s"src2_$cat")
      spark.sql(s"CALL $cat.merge_into('tbl', 'src2_$cat', 'doc_id', mor => true)")
        .collect(): Unit
      val ops = TxLog.history(table).map(_._2)
      spark.sql(
        s"""SELECT COUNT(*) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           |  CAST(SUM(CASE WHEN n_chars = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeroed
           |FROM $cat.tbl""".stripMargin)
        .select(col("n_docs"), col("sum_chars"), col("n_zeroed"),
          lit(if (ops == Seq("append", "merge", "merge", "merge-mor")) 1L else 0L)
            .as("history_ok"))
    }),

    // ---- sql12: NATIVE row-level DML statements — `MERGE INTO`,
    // `UPDATE ... WHERE`, and non-translatable `DELETE ... WHERE` as
    // first-class SQL through Spark 4's DSv2 row-level-operation API
    // (SupportsRowLevelOperations → group-based copy-on-write; see
    // graft.catalog.GraftRowLevelOperation). The gate runs the SAME
    // mutation sequence twice — statements on table `a`, the sql08
    // procedure path (+ API deleteWhere) on table `b` — and proves the
    // two paths produce CONTENT-IDENTICAL tables; history_ok pins a's
    // commit sequence (append, merge, update, delete), cdc_ok that
    // every statement recorded a replayable CDC sidecar.
    "sql12_row_level_dml" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      val tableA = freshTable()
      val base = tableA.getParent
      val tableB = base.resolve("tblb")
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d, tableA, "doc_id", nParts = 4)
      TxLog.append(spark, d, tableB, "doc_id", nParts = 4)
      // upsert source: +1000 on the %7 keys (matched) plus brand-new
      // ids above the current max (not matched → inserts)
      val m = idSpan(d)
      d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000L).as("n_chars"))
        .unionByName(d.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + m).as("doc_id"), col("lang"),
            (col("n_chars") + 1000L).as("n_chars")))
        .createOrReplaceTempView(s"src12_$cat")
      // statement path on a
      spark.sql(
        s"""MERGE INTO $cat.tbl t USING src12_$cat s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.sql(s"UPDATE $cat.tbl SET n_chars = n_chars * 2 " +
        "WHERE lang = 'en' AND doc_id % 2 = 0")
      spark.sql(s"DELETE FROM $cat.tbl WHERE doc_id % 13 = 3") // non-translatable
      // procedure/API path on b — the pre-existing semantics
      spark.sql(s"CALL $cat.merge_into('tblb', 'src12_$cat', 'doc_id')").collect(): Unit
      spark.sql(s"CALL $cat.update_where('tblb', 'doc_id', " +
        s"'lang = ''en'' AND doc_id % 2 = 0', 'n_chars', 'n_chars * 2')").collect(): Unit
      TxLog.deleteWhere(spark, tableB, expr("doc_id % 13 = 3"), "doc_id"): Unit
      val a = spark.sql(s"SELECT * FROM $cat.tbl")
      val b = spark.sql(s"SELECT * FROM $cat.tblb")
      // one keyed pass, one action (the er05/tix06 multiset idiom) —
      // the exceptAll pair shuffled both tables twice across two actions
      val identical = SharedBases.multisetEqual(a, b)
      val ops = TxLog.history(tableA).map(_._2)
      val cdcOk = (1L to 3L).forall(v => TxLog.commitCdcFile(tableA, v).isDefined)
      a.agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("sum_chars"))
        .select(col("n_docs"), col("sum_chars"),
          lit(if (ops == Seq("append", "merge", "update", "delete")) 1L else 0L)
            .as("history_ok"),
          lit(if (cdcOk) 1L else 0L).as("cdc_ok"),
          lit(if (identical) 1L else 0L).as("paths_identical"))
    }),

    // ---- sql13: the AUTO-OPTIMIZE policy hook — `CALL lake.maintain`
    // reads the log's file metadata, DECIDES the maintenance, and
    // commits it (the self-driving-table shape). The fixture is 12
    // arrival-order appends, each spanning the whole id range (every
    // adjacent sorted stats range overlaps => footer pruning degraded),
    // so call 1 must choose cluster_by into 4 range-disjoint files; its
    // default 24h retention reclaims nothing. Call 2 sees 4 disjoint
    // files under the max_files threshold => 'none', and with
    // retention 0 its vacuum pass reclaims exactly the 12 replaced
    // arrival files — the tx15-style files-before/after arithmetic,
    // decided by the policy instead of the operator. Row content is
    // proven untouched through both calls.
    "sql13_auto_maintain" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      (0 until 12).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 12 === i), table, "doc_id", nParts = 1)
      }
      val r1 = spark.sql(s"CALL $cat.maintain('tbl')").collect().head
      val r2 = spark.sql(
        s"CALL $cat.maintain('tbl', vacuum_min_age_ms => 0)").collect().head
      spark.sql(
        s"""SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
           |FROM $cat.tbl""".stripMargin)
        .select(
          lit(r1.getString(0)).as("action1"),
          lit(r1.getLong(1)).as("files_before1"),
          lit(r1.getLong(2)).as("files_after1"),
          lit(r1.getLong(3)).as("reclaimed1"),
          lit(r2.getString(0)).as("action2"),
          lit(r2.getLong(3)).as("reclaimed2"),
          col("n_docs"), col("sum_chars"))
    }),

    // ---- sql14: STATEMENT-DRIVEN replication — the composition proof
    // tying round 10 together: a source table mutated ONLY by SQL
    // statements (INSERT INTO, MERGE INTO, UPDATE, DELETE — the
    // row-level DML path end to end) replicates into a second table
    // through the STREAMING change feed (every statement's commit
    // carries a CDC sidecar, so the tail replays each as churn-sized
    // insert/delete rows) applied exactly-once via streamingApply. The
    // gate: the replica's full content aggregate equals the source's —
    // which equals the DuckDB recompute of the statement sequence — so
    // SQL DML, CDC derivation, the streaming feed, and the MOR apply
    // path are all cross-checked through one oracle.
    "sql14_dml_replication" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      val src = freshTable()
      val replica = freshTable()
      val base = src.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), src, "doc_id", nParts = 2)
      d.filter(col("doc_id") % 2 === 1).createOrReplaceTempView(s"odds14_$cat")
      spark.sql(s"INSERT INTO $cat.tbl SELECT * FROM odds14_$cat")
      d.filter(col("doc_id") % 9 === 2)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 500L).as("n_chars"))
        .createOrReplaceTempView(s"src14_$cat")
      spark.sql(
        s"""MERGE INTO $cat.tbl t USING src14_$cat s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.sql(s"UPDATE $cat.tbl SET n_chars = n_chars * 3 WHERE lang = 'de'")
      spark.sql(s"DELETE FROM $cat.tbl WHERE doc_id % 17 = 6") // non-translatable: row-level
      val ckpt = SharedBases.tempDir("graft_sql14_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", "1")
        .load(src.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          val ins = b.filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          val delOnly = b.filter(col("_change_type") === "delete")
            .drop("_change_type", "_commit_version")
            .join(ins, Seq("doc_id"), "left_anti")
          val changes = ins.withColumn("op", lit("upsert"))
            .unionByName(delOnly.withColumn("op", lit("delete")))
          TxLog.streamingApply(spark, changes, bid, replica, "op", "doc_id", "doc_id"): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val srcAgg = TxLog.readAt(spark, src)
        .agg(count(lit(1)), sum(col("n_chars")).cast("bigint")).head
      val rep = TxLog.readAt(spark, replica)
        .agg(count(lit(1)), sum(col("doc_id")).cast("bigint"),
          sum(col("n_chars")).cast("bigint")).head
      val matches = rep.getLong(0) == srcAgg.getLong(0) &&
        rep.getLong(2) == srcAgg.getLong(1)
      spark.range(1).select(
        lit(rep.getLong(0)).as("n_docs"),
        lit(rep.getLong(1)).as("sum_ids"),
        lit(rep.getLong(2)).as("sum_chars"),
        lit(if (matches) 1L else 0L).as("replica_matches_source"))
    }),

    // ---- sql15: ZERO-COPY CLONE — `CALL lake.clone` gives the target
    // a v0 that HARDLINKS the source snapshot's live files (DV sidecars
    // included; no bytes move), then the two tables diverge
    // independently: an UPDATE statement on the clone and a DELETE on
    // the source must not see each other, the clone must still serve
    // the source's clone-time content (DV'd rows stay deleted), and
    // the zero-copy property itself is asserted via the link count of
    // a shared file (two names, one inode). The dev/test-sandbox
    // workflow Delta ships as CLONE, on the log's own terms.
    "sql15_zero_copy_clone" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      val src = freshTable()
      val base = src.getParent
      val dst = base.resolve("tblclone")
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), src, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), src, "doc_id", nParts = 2)
      TxLog.deleteMor(spark, src,
        d.filter(col("doc_id") % 10 === 3).select("doc_id"), "doc_id")
      val linked = spark.sql(s"CALL $cat.clone('tbl', 'tblclone')")
        .collect().head.getLong(1)
      // zero-copy: a data file shared by both tables is ONE inode
      val shared = TxLog.snapshotAt(dst).files.head.path
      val nlink = Files.getAttribute(dst.resolve(shared), "unix:nlink")
        .asInstanceOf[Number].longValue
      // diverge both sides through SQL statements
      spark.sql(s"UPDATE $cat.tblclone SET n_chars = n_chars + 10000 WHERE lang = 'en'")
      spark.sql(s"DELETE FROM $cat.tbl WHERE doc_id % 7 = 1")
      val srcAgg = spark.sql(
        s"SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s FROM $cat.tbl").head
      val cloneAgg = spark.sql(
        s"SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s FROM $cat.tblclone").head
      spark.range(1).select(
        lit(srcAgg.getLong(0)).as("src_docs"),
        lit(srcAgg.getLong(1)).as("src_chars"),
        lit(cloneAgg.getLong(0)).as("clone_docs"),
        lit(cloneAgg.getLong(1)).as("clone_chars"),
        lit(linked).as("files_linked"),
        lit(if (nlink >= 2L) 1L else 0L).as("zero_copy"))
    }),

    // ---- sql16: the ATOMIC TRANSFER from SQL — CALL lake.move_where
    // runs the multi-table transaction (tx22's commit-marker 2PC)
    // end-to-end through the catalog: matching rows leave the hot table
    // and land in the cold one in one transaction, with the moved count
    // and both committed versions returned by the procedure and the
    // post-state read back through SQL (the hot side is a DV table
    // after the MOR delete — the DV-aware read path serves it).
    "sql16_txn_move" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      val hot = freshTable()
      val base = hot.getParent
      val cold = base.resolve("tblcold")
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d.filter(col("lang") === "en"), hot, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("lang") =!= "en"), cold, "doc_id", nParts = 2)
      val res = spark.sql(
        s"CALL $cat.move_where('tbl', 'tblcold', 'doc_id', 'n_chars < 200')").head
      val h = spark.sql(s"SELECT COUNT(*) AS n, " +
        s"CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS s FROM $cat.tbl").head
      val c = spark.sql(s"SELECT COUNT(*) AS n, " +
        s"CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS s FROM $cat.tblcold").head
      spark.range(1).select(
        lit(h.getLong(0)).as("hot_docs"), lit(h.getLong(1)).as("hot_chars"),
        lit(c.getLong(0)).as("cold_docs"), lit(c.getLong(1)).as("cold_chars"),
        lit(res.getLong(2)).as("rows_moved"),
        lit(res.getLong(0)).as("source_version"),
        lit(res.getLong(1)).as("target_version"))
    }),

    // ---- sql17: bloom-index maintenance from SQL — CALL
    // lake.bloom_index('t', 'col') materializes the per-file bloom
    // index as a SIBLING CATALOG TABLE t_bloom_col (one row per indexed
    // data file, queryable like any table), and re-calling after an
    // append indexes only the new files. The index row count and its
    // covered-row sum are replayed by the oracle from the corpus.
    "sql17_bloom_procedure" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2)
      val r1 = spark.sql(s"CALL $cat.bloom_index('tbl', 'text')").head
      val span = idSpan(d)
      TxLog.append(spark,
        d.filter(col("doc_id") % 5 === 0).withColumn("doc_id", col("doc_id") + lit(span)),
        table, "doc_id", nParts = 2)
      val r2 = spark.sql(s"CALL $cat.bloom_index('tbl', 'text')").head
      val ix = spark.sql(s"SELECT COUNT(*) AS files, " +
        s"CAST(SUM(n_rows) AS BIGINT) AS rows_covered FROM $cat.${r1.getString(0)}").head
      spark.range(1).select(
        lit(r1.getLong(1)).as("first_indexed"),
        lit(r2.getLong(1)).as("incr_indexed"),
        lit(ix.getLong(0)).as("index_files"),
        lit(ix.getLong(1)).as("rows_covered"))
    }),

    // ---- sql18: the TRANSPARENT index-backed point query — a plain
    // SELECT with an equality predicate on the indexed column serves
    // through the bloom-pruned scan (GraftCatalogSpec pins the
    // plan-level file reduction; this gates the VALUES the pruned path
    // returns against the oracle, including a dup-text probe whose
    // holders span several files).
    "sql18_bloom_sql_lookup" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).withColumn("text_key", md5(col("text")))
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val span = idSpan(d)
      (0 until 4).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 4 === i), table, "doc_id", nParts = 2)
      }
      spark.sql(s"CALL $cat.bloom_index('tbl', 'text_key')").collect(): Unit
      val probe = d.filter(col("doc_id") === lit(span / 2))
        .select("text_key").head.getString(0)
      spark.sql(
        s"""SELECT COUNT(*) AS n_found,
           |  CAST(SUM(doc_id) AS BIGINT) AS sum_found_ids,
           |  CAST(SUM(n_chars) AS BIGINT) AS sum_found_chars
           |FROM $cat.tbl WHERE text_key = '$probe'""".stripMargin)
    }),

    // ---- sql09: SQL schema evolution — ALTER TABLE ADD COLUMN is one
    // pure-metadata `set-schema` commit; pre-evolution files NULL-fill
    // on read (the log's schema wins, no footer-merge pass), new
    // inserts carry the column, and time travel still reads the
    // pre-evolution schema of its era.
    "sql09_sql_evolution" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      d.createOrReplaceTempView(s"docs9_$cat")
      spark.sql(s"CREATE TABLE $cat.tbl AS SELECT doc_id, n_chars FROM docs9_$cat " +
        "WHERE doc_id % 2 = 0")
      spark.sql(s"ALTER TABLE $cat.tbl ADD COLUMN lang STRING")
      spark.sql(s"INSERT INTO $cat.tbl SELECT doc_id, n_chars, lang FROM docs9_$cat " +
        "WHERE doc_id % 2 = 1")
      val preEvolutionCols = spark.sql(s"SELECT * FROM $cat.tbl VERSION AS OF 1")
        .columns.length.toLong
      spark.sql(
        s"""SELECT COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nullfilled,
           |  CAST(SUM(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS BIGINT)
           |    AS sum_chars_en
           |FROM $cat.tbl""".stripMargin)
        .select(col("n_docs"), col("n_nullfilled"), col("sum_chars_en"),
          lit(preEvolutionCols).as("cols_pre_evolution"))
    }),

    // ---- sql20: ALTER TABLE RENAME COLUMN under column mapping (the
    // published Delta name-mode design): ONE metadata commit freezes
    // physical parquet names and moves only the logical name — files
    // from before and after the rename read uniformly under the new
    // name, row-level DML targets it, and time travel still serves the
    // pre-rename era under ITS name (probed as an engine-side literal).
    "sql20_rename_column" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      d.createOrReplaceTempView(s"docs20_$cat")
      spark.sql(s"CREATE TABLE $cat.tbl AS SELECT doc_id, lang, n_chars " +
        s"FROM docs20_$cat WHERE doc_id % 2 = 0")
      spark.sql(s"ALTER TABLE $cat.tbl RENAME COLUMN n_chars TO char_count")
      spark.sql(s"INSERT INTO $cat.tbl SELECT doc_id, lang, n_chars " +
        s"FROM docs20_$cat WHERE doc_id % 2 = 1")
      spark.sql(s"UPDATE $cat.tbl SET char_count = char_count + 1000 " +
        "WHERE doc_id % 5 = 0")
      // the pre-rename era still answers to ITS logical name
      val preRenameKept =
        if (spark.sql(s"SELECT * FROM $cat.tbl VERSION AS OF 0")
          .columns.contains("n_chars")) 1L else 0L
      spark.sql(
        s"""SELECT lang, COUNT(*) AS n_docs,
           |  CAST(SUM(char_count) AS BIGINT) AS sum_chars,
           |  CAST($preRenameKept AS BIGINT) AS prerename_schema_kept
           |FROM $cat.tbl GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // ---- sql21: ALTER TABLE DROP COLUMN + re-ADD of the same name —
    // the drop is one metadata commit (old files keep the physical
    // column, readers stop projecting it), and the re-added column gets
    // a FRESH physical name, so the dropped values null-fill instead of
    // resurrecting; time travel to the pre-drop version still serves
    // them (probed as an engine-side literal).
    "sql21_drop_column" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      d.createOrReplaceTempView(s"docs21_$cat")
      spark.sql(s"CREATE TABLE $cat.tbl AS SELECT doc_id, lang, n_chars, text " +
        s"FROM docs21_$cat WHERE doc_id % 3 <> 0")
      spark.sql(s"ALTER TABLE $cat.tbl DROP COLUMN text")
      spark.sql(s"ALTER TABLE $cat.tbl ADD COLUMN text STRING")
      spark.sql(s"INSERT INTO $cat.tbl SELECT doc_id, lang, n_chars, text " +
        s"FROM docs21_$cat WHERE doc_id % 3 = 0")
      // pre-drop era (v1 = the CTAS insert; v0 is the staged create):
      // the column and its values are still served there
      val preDropTextRows = spark.sql(
        s"SELECT COUNT(*) FROM $cat.tbl VERSION AS OF 1 WHERE text IS NOT NULL")
        .head.getLong(0)
      spark.sql(
        s"""SELECT COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nullfilled,
           |  CAST(SUM(CASE WHEN text IS NOT NULL THEN n_chars ELSE 0 END) AS BIGINT)
           |    AS chars_with_text,
           |  CAST($preDropTextRows AS BIGINT) AS predrop_text_rows
           |FROM $cat.tbl""".stripMargin)
    }),

    // ---- sql22: PARTITION EVOLUTION (Iceberg's capability, identity
    // transforms): `CALL lake.set_partitioning` re-declares the layout
    // of FUTURE writes as one metadata commit — no file rewritten. Old
    // (unpartitioned-era) files carry no partition values and prune
    // conservatively; new files carry them and prune sharply; an
    // equality read across the boundary stays exact. The engine-side
    // invariants (both file eras present, partition-pruned read ==
    // full-filter read) are asserted as a literal flag.
    "sql22_partition_evolution" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      d.createOrReplaceTempView(s"docs22_$cat")
      spark.sql(s"CREATE TABLE $cat.tbl AS SELECT doc_id, lang, n_chars " +
        s"FROM docs22_$cat WHERE doc_id % 2 = 0")                   // unpartitioned era
      spark.sql(s"CALL $cat.set_partitioning('tbl', 'lang')")       // metadata only
      spark.sql(s"INSERT INTO $cat.tbl SELECT doc_id, lang, n_chars " +
        s"FROM docs22_$cat WHERE doc_id % 2 = 1")                   // per-lang layout
      val snap = TxLog.snapshotAt(table)
      val bothEras = snap.files.exists(_.part.contains("lang")) &&
        snap.files.exists(!_.part.contains("lang"))
      // partition-pruned equality read must be EXACT across the boundary
      val pruned = TxLog.readAt(spark, table,
        partitions = Map("lang" -> "en")).count()
      val full = spark.sql(s"SELECT COUNT(*) FROM $cat.tbl WHERE lang = 'en'")
        .head.getLong(0)
      val ok = if (bothEras && pruned == full) 1L else 0L
      spark.sql(
        s"""SELECT lang, COUNT(*) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           |  CAST($ok AS BIGINT) AS evolution_ok
           |FROM $cat.tbl GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // ---- sql23: the `` t$schema `` metadata table — the schema-change
    // LOG as a first-class SQL relation (completing the $history/$files/
    // $tags/$txns family): one row per column per schema ERA, with the
    // column-mapping PHYSICAL name, so a rename/drop is auditable from
    // SQL alone — the renamed column shows its frozen physical name,
    // the dropped column simply leaves the final era.
    "sql23_schema_metadata_table" -> ((spark: SparkSession, dir: String) => {
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      spark.sql(s"CREATE TABLE $cat.tbl (doc_id BIGINT, payload STRING)")      // era v0
      spark.sql(s"INSERT INTO $cat.tbl VALUES (1, 'a')")                       // same schema
      spark.sql(s"ALTER TABLE $cat.tbl ADD COLUMN note STRING")                // era v2
      spark.sql(s"ALTER TABLE $cat.tbl RENAME COLUMN payload TO body")         // era v3
      spark.sql(s"ALTER TABLE $cat.tbl DROP COLUMN note")                      // era v4
      spark.sql(s"SELECT version, ordinal, `column`, type, physical " +
        s"FROM $cat.`tbl$$schema` ORDER BY version, ordinal")
    }),

    // ---- sql24: BM25 in PURE SQL over the text index's catalog
    // tables — `CALL lake.text_index('t','text')` materializes the
    // postings as an ordinary SQL relation and the corpus statistics as
    // the index's `$props` metadata table, and a plain SQL query
    // (term_hash IN pushes into the parquet scan's row-group stats)
    // reproduces t14's exact ranking: the index is not a private
    // artifact but queryable lake state, the sql17/sql18 discipline
    // applied to retrieval.
    "sql24_sql_bm25_over_index" -> ((spark: SparkSession, dir: String) => {
      // shared text1 family (the CALL below is the idempotent refresh —
      // watermark-current, so it indexes nothing and mutates nothing)
      val fam = textFam1(spark, dir)
      val cat = SharedBases.catalogFor(spark, fam)
      spark.sql(s"CALL $cat.text_index('tbl', 'text')").collect(): Unit
      spark.sql(
        s"""WITH p AS (
           |  SELECT term, doc_id, tf, dl FROM $cat.tbl_text_ix
           |  WHERE term_hash IN (xxhash64('spark'), xxhash64('join'),
           |                      xxhash64('filter'))
           |    AND term IN ('spark', 'join', 'filter')),
           |d AS (SELECT term, count(*) AS df FROM p GROUP BY term),
           |s0 AS (SELECT
           |        CAST(max(CASE WHEN key = 'n_docs' THEN value END) AS BIGINT) AS n_docs,
           |        CAST(max(CASE WHEN key = 'total_len' THEN value END) AS BIGINT) AS total_len
           |      FROM $cat.`tbl_text_ix$$props`),
           |s AS (SELECT n_docs,
           |        CAST(total_len AS DOUBLE) / n_docs AS avgdl
           |      FROM s0)
           |SELECT p.doc_id,
           |  round(SUM(
           |    ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) *
           |    CAST(p.tf AS DOUBLE) /
           |    (CAST(p.tf AS DOUBLE) +
           |      1.2 * (1.0 - 0.75 + 0.75 * CAST(p.dl AS DOUBLE) / s.avgdl))), 6)
           |    AS score
           |FROM p JOIN d USING (term) CROSS JOIN s
           |GROUP BY p.doc_id
           |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin)
    }),

    // ---- sql10: named TAGS over versions (Iceberg tag refs) —
    // `CALL lake.tag` is one more audited commit (repointing included),
    // the checkpoint folds the tag table, and the SQL surface resolves
    // `VERSION AS OF 'name'` through the log. The release-pin
    // workflow: tag the validated snapshot, keep writing, every reader
    // of the tag sees the pinned state.
    "sql10_sql_tags" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      spark.sql(s"CALL $cat.tag('tbl', 'release', 0)").collect(): Unit  // v1
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2)
      spark.sql(
        s"""SELECT 'release' AS ref, COUNT(*) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
           |FROM $cat.tbl VERSION AS OF 'release'
           |UNION ALL
           |SELECT 'latest', COUNT(*), CAST(SUM(n_chars) AS BIGINT)
           |FROM $cat.tbl
           |ORDER BY ref""".stripMargin)
    }),

    // ---- sql11: the OPTIMIZE shape from SQL — `CALL lake.cluster_by`
    // rewrites four arrival-order appends into range-clustered files in
    // one distributed pass; the middle-quarter range read that had to
    // touch every file before touches only the intersecting buckets
    // after (tx15's math through the procedure surface).
    "sql11_sql_cluster_by" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      (0 until 4).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 4 === i), table, "doc_id", nParts = 1)
      }
      val (lo, hi) = (span / 4, span / 2 - 1)
      val preScan = TxLog.pruneFiles(TxLog.snapshotAt(table), lo, hi).size
      spark.sql(s"CALL $cat.cluster_by('tbl', '(doc_id * 8) div ${span}L', 8)")
        .collect(): Unit
      val snap = TxLog.snapshotAt(table)
      val scanned = TxLog.pruneFiles(snap, lo, hi).size
      TxLog.readAt(spark, table, range = Some(("doc_id", lo, hi)))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
        .select(lit(preScan).cast("bigint").as("files_before_scanned"),
          lit(snap.files.size).cast("bigint").as("files_total"),
          lit(scanned).cast("bigint").as("files_scanned"),
          col("n_rows"), col("sum_chars"))
    }),

    // ---- tx19: CHECK constraints — Delta's ADD CONSTRAINT as a
    // commit: `set-constraint` is ordered with every other commit
    // (time travel sees the constraints of its era, checkpoints fold
    // them), and every subsequent write of NEW rows validates its
    // WRITE-sized delta before any staging I/O. SQL semantics: FALSE
    // violates, NULL passes. The gate proves the valid writes landed,
    // the violating append was rejected, and rejection left the table
    // byte-identical (rows_changed_by_reject = 0).
    "tx19_check_constraints" -> ((spark: SparkSession, dir: String) => {
      import spark.implicits._
      val d = docs(spark, dir)
      val table = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      TxLog.setConstraint(spark, table, "chars_nonneg",
        "n_chars >= 0 AND lang IS NOT NULL")
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2)
      val before = TxLog.readAt(spark, table).count()
      val rejected =
        try {
          TxLog.append(spark, d.limit(50).withColumn("n_chars", lit(-1L)),
            table, "doc_id", nParts = 1)
          0L
        } catch {
          case e: IllegalArgumentException if e.getMessage.contains("CHECK") => 1L
        }
      val after = TxLog.readAt(spark, table).count()
      Seq(
        ("n_constraints", TxLog.constraints(table).size.toLong),
        ("rejected_write", rejected),
        ("rows_changed_by_reject", after - before),
        ("rows_live", after))
        .toDF("metric", "value").orderBy("metric")
    }),

    // ---- tx20: CDF replication through COPY-ON-WRITE history — the
    // tx18 loop with the other write family: COW merges and deletes
    // record their row-level delta as a churn-sized CDC sidecar at
    // write time (the Delta _change_data design — a COW delta is
    // unrecoverable from data files alone, so the writer, who has it
    // in hand, persists it), and the streaming change feed replays
    // the sidecars as plain scans. Replica == recompute, same gate
    // style as tx18.
    "tx20_cow_cdf_replication" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val src = freshTable()
      val replica = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), src, "doc_id", nParts = 2)
      TxLog.deleteKeys(spark, src,
        d.filter(col("doc_id") % 10 === 4).select("doc_id"), "doc_id", "doc_id")
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), src, "doc_id", nParts = 2)
      TxLog.mergeCow(spark, src,
        d.filter(col("doc_id") % 10 === 8).withColumn("n_chars", col("n_chars") + 1000L),
        "doc_id", "doc_id")
      val ckpt = SharedBases.tempDir("graft_tx20_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", "1")
        .load(src.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          val ins = b.filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          val delOnly = b.filter(col("_change_type") === "delete")
            .drop("_change_type", "_commit_version")
            .join(ins, Seq("doc_id"), "left_anti")
          val changes = ins.withColumn("op", lit("upsert"))
            .unionByName(delOnly.withColumn("op", lit("delete")))
          TxLog.streamingApply(spark, changes, bid, replica, "op", "doc_id", "doc_id"): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      TxLog.readAt(spark, replica)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- tx21: RESTORE — write-side rollback (Delta RESTORE): one
    // metadata commit re-instates an earlier snapshot's file entries
    // (stats and deletion vectors included) and drops the rest;
    // history is PRESERVED, so time travel still reads the pre-restore
    // state after the rollback. The gate pins both: the pre-restore
    // version (v2, all surviving docs) stays readable, and the latest
    // (v3 = restored-to-v1) equals the target-era recompute.
    "tx21_restore" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val table = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2) // v0
      TxLog.deleteMor(spark, table,                                                        // v1
        d.filter(col("doc_id") % 10 === 4).select("doc_id"), "doc_id")
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), table, "doc_id", nParts = 2) // v2
      TxLog.restore(spark, table, toVersion = 1L)                                          // v3
      def aggAt(v: Long): DataFrame =
        TxLog.readAt(spark, table, Some(v))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .select(lit(v).cast("bigint").as("version"), col("n_docs"), col("sum_chars"))
      aggAt(2L).unionByName(aggAt(3L)).orderBy("version")
    }),

    // ---- blix01: PER-FILE BLOOM-FILTER INDEX (Delta's bloom index as
    // a persisted lake artifact — ops/BloomIndex). The table is laid
    // out in arrival order, so footer [min,max] stats are useless for a
    // point probe on md5(text): every file's range covers it. The index
    // answers "can this file contain the key?" per file; the lookup
    // scans only surviving candidates with the exact predicate
    // re-applied (a false positive costs one file scan, never a wrong
    // row — and the gate asserts strictly-fewer files were read). At
    // 100 TB this is the needle lookup that reads one ~128 MB file
    // instead of the corpus; the index rows are file-count-sized
    // metadata, the same class as the snapshot itself.
    "blix01_bloom_point_lookup" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).withColumn("text_key", md5(col("text")))
      val span = idSpan(d)
      val table = freshTable()
      (0 until 4).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 4 === i), table, "doc_id", nParts = 2)
      }
      val index = freshTable()
      val nIndexed = BloomIndex.ensureIndexed(spark, table, index, "text_key")
      val probe = d.filter(col("doc_id") === lit(span / 2))
        .select("text_key").head.getString(0)
      val (rows, scanned, total) = BloomIndex.lookup(spark, table, index, "text_key", probe)
      rows.agg(count(lit(1)).as("n_found"),
          sum(col("doc_id")).as("sum_found_ids"),
          sum(col("n_chars")).as("sum_found_chars"))
        .select(col("n_found"), col("sum_found_ids"), col("sum_found_chars"),
          lit(nIndexed).cast("bigint").as("files_indexed"),
          lit(total).cast("bigint").as("files_total"),
          lit(scanned < total).as("bloom_pruned"))
    }),

    // ---- blix02: the index maintains INCREMENTALLY — an append indexes
    // only the appended files (never a rebuild), and a probe for a row
    // that exists only in the new files finds it through the updated
    // index. The first ensureIndexed call covers the 8 seed files; the
    // second covers exactly the 2 new ones.
    "blix02_bloom_incremental" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).withColumn("text_key", md5(col("text")))
      val span = idSpan(d)
      val table = freshTable()
      (0 until 4).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 4 === i), table, "doc_id", nParts = 2)
      }
      val index = freshTable()
      val first = BloomIndex.ensureIndexed(spark, table, index, "text_key")
      // new arrivals: a transformed slice whose keys exist nowhere else
      val fresh = d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(span))
        .withColumn("text", concat(lit("new-"), col("text")))
        .withColumn("text_key", md5(col("text")))
      TxLog.append(spark, fresh, table, "doc_id", nParts = 2)
      val incr = BloomIndex.ensureIndexed(spark, table, index, "text_key")
      val probe = fresh.filter(col("doc_id") === lit(span)) // transformed doc 0
        .select("text_key").head.getString(0)
      val (rows, scanned, total) = BloomIndex.lookup(spark, table, index, "text_key", probe)
      rows.agg(count(lit(1)).as("n_found"),
          sum(col("doc_id")).as("sum_found_ids"))
        .select(col("n_found"), col("sum_found_ids"),
          lit(first).cast("bigint").as("first_indexed"),
          lit(incr).cast("bigint").as("incr_indexed"),
          lit(total).cast("bigint").as("files_total"),
          lit(scanned < total).as("bloom_pruned"))
    }),

    // ---- blix03: STREAMING maintenance of the bloom index — the sim08/
    // er06 lifecycle move applied to the point-lookup artifact. A
    // graft-lake tail of the data table triggers ensureIndexed per
    // micro-batch; the maintenance itself is DIFF-BASED (index rows vs
    // live snapshot), so a crash-redelivered batch indexes nothing
    // twice — idempotent by construction, no batch-id machinery needed.
    // The probe resolves a row that exists only in the LAST streamed
    // commit, purely through the stream-maintained index.
    "blix03_streaming_bloom" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).withColumn("text_key", md5(col("text")))
      val table = freshTable()
      val index = freshTable()
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      val first = BloomIndex.ensureIndexed(spark, table, index, "text_key")
      // two arrival commits, one micro-batch each
      TxLog.append(spark, d.filter(col("doc_id") % 4 === 1), table, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 4 === 3), table, "doc_id", nParts = 2)
      val ckpt = SharedBases.tempDir("graft_blix3_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", "1")
        .load(table.toString)
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          BloomIndex.ensureIndexed(spark, table, index, "text_key"): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val nIndexed = TxLog.readAt(spark, index).count()
      // probe a doc that arrived in the LAST streamed commit (doc 3)
      val probe = d.filter(col("doc_id") === 3).select("text_key").head.getString(0)
      val (rows, scanned, total) = BloomIndex.lookup(spark, table, index, "text_key", probe)
      rows.agg(count(lit(1)).as("n_found"), sum(col("doc_id")).as("sum_found_ids"))
        .select(col("n_found"), col("sum_found_ids"),
          lit(first).cast("bigint").as("first_indexed"),
          lit(nIndexed).cast("bigint").as("indexed_total"),
          lit(total).cast("bigint").as("files_total"),
          lit(scanned < total).as("bloom_pruned"))
    }),

    // ---- tix03: the text index's STREAMING TWIN (the blix03
    // discipline — every persisted derived artifact gets one): a
    // graft-lake tail of the corpus triggers TextIndex.ensureIndexed
    // per micro-batch; the watermark diff + doc_id anti-join make the
    // maintenance idempotent under crash-redelivery by construction, so
    // the streamed index must serve EXACTLY the t14 ranking again —
    // the same oracle gates the scan path, the batch build, the
    // incremental build, and now the streamed build.
    "tix03_streaming_text_index" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      // shared text0 starting state, cloned (this gate mutates it)
      val fam = SharedBases.cloned(spark, textFam0(spark, dir))
      val corpus = fam.resolve("tbl")
      val index = fam.resolve("tbl_text_ix")
      // two arrival commits, one micro-batch each
      TxLog.append(spark, d.filter(col("doc_id") % 4 === 1), corpus, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 4 === 3), corpus, "doc_id", nParts = 2)
      val ckpt = SharedBases.tempDir("graft_tix3_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", "1")
        .load(corpus.toString)
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          TextIndex.ensureIndexed(spark, corpus, index): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      TextIndex.searchBm25(spark, index, Seq("spark", "join", "filter"), 20)
    }),

    // ---- blix04: bloom-index QUALITY AUDIT — the in-engine measured
    // false-positive rate (the dd17/sim05/knn03 discipline applied to
    // the point-lookup artifact): 512 keys known absent from the corpus
    // (namespaced so no text can collide) probe every file's filter;
    // fired tests / total tests is the measured fpp, gated against 25x
    // the ~6e-4 theoretical bound of 16 bits/key, k=7 — a broken hash
    // or bitset would fire orders of magnitude above it. All probes
    // hash in ONE job; the bit tests run against file-count-sized
    // index metadata.
    "blix04_bloom_fpp_audit" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).withColumn("text_key", md5(col("text")))
      val table = freshTable()
      (0 until 4).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 4 === i), table, "doc_id", nParts = 2)
      }
      val index = freshTable()
      val nIndexed = BloomIndex.ensureIndexed(spark, table, index, "text_key")
      // keys structurally absent: md5 of a namespaced counter can never
      // equal md5(text) of any document (text is hashed, probe is hex)
      val probes = (0 until 512).map(i => s"absent-$i")
      val (fired, totalTests) = BloomIndex.measureFpp(spark, index, probes)
      spark.range(1).select(
        lit(nIndexed).cast("bigint").as("files_indexed"),
        lit(512L).as("n_probes"),
        lit(totalTests).as("total_tests"),
        lit(fired <= (totalTests * 15L) / 1000L).as("fpp_within_bound"))
    }),

    // ---- blix06: the SATURATED-regime audit blix04 leaves open — the
    // per-file bitset cap (2 MiB in prod) silently degrades bits/key
    // for files with far more keys than the cap budgets, so "16
    // bits/key, fpp ~6e-4" becomes a lie exactly on the biggest files.
    // The index now records n_keys per row; this gate builds a
    // two-file fixture under a scaled-down cap (same code path, same
    // math): a 500-key file the cap leaves alone and a 4000-key file
    // whose requested 64k bits collapse to the 8192-bit cap (~2
    // effective bits/key). 2048 absent probes measure each file's fpp;
    // the saturated row must sit VISIBLY ABOVE the unsaturated 25x
    // theoretical bound AND WITHIN ±20% of the degraded bound its own
    // (n_keys, m_bits) imply — (1 - e^(-k n/m))^k — while the
    // unsaturated row stays under the blix04 bound. An unrecorded
    // n_keys, a mis-capped m, or a broken hash breaks one of the
    // booleans.
    "blix06_bloom_saturation" -> ((spark: SparkSession, dir: String) => {
      val mk = (lo: Long, n: Long) => spark.range(lo, lo + n)
        .select(col("id").as("doc_id"),
          md5(concat(lit("k-"), col("id"))).as("text_key"))
      val table = freshTable()
      TxLog.append(spark, mk(0, 500), table, "doc_id", nParts = 1)
      TxLog.append(spark, mk(1000, 4000), table, "doc_id", nParts = 1)
      val index = freshTable()
      BloomIndex.ensureIndexed(spark, table, index, "text_key",
        bitsPerKey = 16, k = 7, capBits = 1 << 13): Unit
      val probes = (0 until 2048).map(i => s"absent-$i")
      val rows = BloomIndex.measureFppPerFile(spark, index, probes)
        .select("n_keys", "m_bits", "k", "fired", "total")
        .collect() // 2 file-count-sized audit rows
      val out = rows.map { r =>
        val (nk, m, k) = (r.getLong(0), r.getInt(1), r.getInt(2))
        val (fired, total) = (r.getLong(3), r.getLong(4))
        val measured = fired.toDouble / total
        val implied = math.pow(1.0 - math.exp(-k.toDouble * nk / m), k)
        val saturated = m.toLong < nk * 16L
        val aboveUnsat = measured > 0.015 // blix04's 25x-theory bound
        val withinDegraded =
          if (saturated) measured >= implied * 0.8 && measured <= implied * 1.2
          else measured <= 0.015
        (if (saturated) "saturated" else "unsaturated",
          nk, m.toLong, m.toLong * 100L / nk, saturated,
          aboveUnsat == saturated, withinDegraded)
      }.sortBy(_._1)
      import spark.implicits._
      out.toSeq.toDF("regime", "n_keys", "m_bits", "eff_bpk_x100",
        "saturated", "above_unsat_iff_saturated", "within_degraded_bound")
    }),

    // ---- tix01: PERSISTED INVERTED TEXT INDEX, served cross-gated
    // against the in-query BM25 (t14): postings (term_hash, term,
    // doc_id, tf, dl) live as a term_hash-range-CLUSTERED lake table,
    // so each query term's posting list resolves through footer
    // [min,max] pruning — the posting-list seek of an inverted index as
    // ordinary stats skipping. searchBm25 reads ONLY the pruned
    // postings + their version's statistics (never the corpus text) and must
    // reproduce t14's exact top-20 — same tokenizer, idf, k1/b,
    // round-6, tie-break — under t14's own DuckDB oracle. Query cost
    // tracks the query terms' posting lists, not the corpus: the
    // retrieval shape that holds at 100 TB.
    "tix01_bm25_from_index" -> ((spark: SparkSession, dir: String) => {
      // shared text1 family (read-only serve — no clone needed)
      val fam = textFam1(spark, dir)
      TextIndex.searchBm25(spark, fam.resolve("tbl_text_ix"),
        Seq("spark", "join", "filter"), 20)
    }),

    // ---- tix02: INCREMENTAL text-index maintenance — the second half
    // of the corpus arrives after the first build; ensureIndexed
    // indexes only the new files (watermark diff + doc_id anti-join, so
    // redelivery and corpus compaction can never double a posting), the
    // stats row advances incrementally, and the search result is
    // INDISTINGUISHABLE from a full rebuild: the same t14 oracle gates
    // both gates.
    "tix02_incremental_text_index" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      // shared text0 starting state, cloned (this gate mutates it)
      val fam = SharedBases.cloned(spark, textFam0(spark, dir))
      val corpus = fam.resolve("tbl")
      val index = fam.resolve("tbl_text_ix")
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), corpus, "doc_id", nParts = 2)
      TextIndex.ensureIndexed(spark, corpus, index): Unit
      TextIndex.searchBm25(spark, index, Seq("spark", "join", "filter"), 20)
    }),

    // ---- tix04: top-k ROW MATERIALIZATION — the end-user search
    // shape: rank from the index (tix01's serving path), then fetch the
    // winners' full corpus rows as a stats-pruned point read ([min,max]
    // key range + isin residual pushed into the parquet scan). The
    // corpus pays a k-row point-fetch; the oracle joins DuckDB's t14
    // top-5 back to documents.
    "tix04_search_fetch_docs" -> ((spark: SparkSession, dir: String) => {
      // shared text1 family (read-only: rank + point-fetch, no mutation)
      val fam = textFam1(spark, dir)
      TextIndex.fetchTopDocs(spark, fam.resolve("tbl"), fam.resolve("tbl_text_ix"),
          Seq("spark", "join", "filter"), 5)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("score"))
    }),

    // ---- blix05: INDEX VACUUM — the lifecycle gap blix01-04 leave
    // open: compaction rewrites the data files, so the index accretes
    // rows for files that no longer exist (harmless for correctness —
    // pruning intersects with the live snapshot — but at 100 TB a
    // weekly-compacted table would pay an unbounded dead-row tail in
    // every lookup's index scan). CALL maintain's sibling-index pass
    // now both re-indexes the rewritten files AND drops the stale rows
    // (BloomIndex.pruneStale: a merge-on-read delete keyed on the
    // index's own file_hash stats column — O(stale) sidecar bytes).
    // Gated: 8 seeded rows -> cluster_by to 4 files -> exactly 4 index
    // rows, and the probe still resolves exactly through the
    // vacuumed index.
    "blix05_index_vacuum" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).withColumn("text_key", md5(col("text")))
      val span = idSpan(d)
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      (0 until 4).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 4 === i), table, "doc_id", nParts = 2)
      }
      spark.sql(s"CALL $cat.bloom_index('tbl', 'text_key')").collect(): Unit
      val index = base.resolve("tbl_bloom_text_key")
      val seeded = TxLog.readAt(spark, index).count() // 8 per-file rows
      // 8 live files with fully-overlapping doc_id ranges > max_files=4
      // => maintain cluster_by's into 4 range-disjoint files, then its
      // sibling pass indexes the 4 new files and vacuums the 8 stale rows
      spark.sql(s"CALL $cat.maintain('tbl', 4, 4)").collect(): Unit
      val after = TxLog.readAt(spark, index).count()
      val liveFiles = TxLog.snapshotAt(table).files.size
      val probe = d.filter(col("doc_id") === lit(span / 2))
        .select("text_key").head.getString(0)
      val (rows, _, _) = BloomIndex.lookup(spark, table, index, "text_key", probe)
      rows.agg(count(lit(1)).as("n_found"), sum(col("doc_id")).as("sum_found_ids"))
        .select(col("n_found"), col("sum_found_ids"),
          lit(seeded).cast("bigint").as("index_rows_seeded"),
          lit(after).cast("bigint").as("index_rows_after"),
          lit(liveFiles.toLong).as("files_live"),
          lit(after == liveFiles).as("index_matches_live"))
    }),

    // ---- tix05: TEXT-INDEX LIFECYCLE MAINTENANCE — the gap tix01-04
    // leave open (blix05's discipline applied to the postings): each
    // incremental build appends its OWN term_hash-clustered file-set,
    // so ranges overlap across commits and a term lookup pays one file
    // per increment (measured: exactly 3 after 1 build + 2 increments);
    // pruneDeleted leaves DV sidecars every read must anti-join. CALL
    // maintain's text-sibling pass re-clusters ALL postings into
    // range-DISJOINT files with DVs folded (one atomic commit) and
    // indexes the files the corpus compaction rewrote — the per-term
    // seek returns to the clustered bound (exactly 1 file), the index's
    // watermark (its log's source files) covers every live corpus file,
    // and the ranking is byte-identical: the same t14 oracle gates
    // serving through the rewrite, over the surviving (post-GDPR-churn)
    // corpus.
    "tix05_text_index_maintain" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val corpus = freshTable()
      val base = corpus.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      // 1 build + 2 increments, each through the SQL procedure
      (0 until 3).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 3 === i), corpus, "doc_id", nParts = 2)
        spark.sql(s"CALL $cat.text_index('tbl', 'text')").collect(): Unit
      }
      val index = base.resolve("tbl_text_ix")
      // GDPR churn: one id-residue class leaves corpus AND index (MOR)
      val delKeys = d.filter(col("doc_id") % 17 === 4).select("doc_id")
      TxLog.deleteMor(spark, corpus, delKeys, "doc_id"): Unit
      TextIndex.pruneDeleted(spark, index, delKeys): Unit
      val filesBefore = TextIndex.filesForTerm(spark, index, "spark")
      val dvsBefore = TxLog.snapshotAt(index).files.count(_.dv.isDefined)
      spark.sql(s"CALL $cat.maintain('tbl', 4, 4, vacuum_min_age_ms => 0)").collect(): Unit
      val filesAfter = TextIndex.filesForTerm(spark, index, "spark")
      val dvsAfter = TxLog.snapshotAt(index).files.count(_.dv.isDefined)
      val covered = TxLog.snapshotAt(corpus).files.map(_.path).toSet
        .subsetOf(TxLog.sourcesAt(index))
      TextIndex.searchBm25(spark, index, Seq("spark", "join", "filter"), 20)
        .select(col("doc_id"), col("score"),
          lit(filesBefore.toLong).as("files_per_term_before"),
          lit(filesAfter.toLong).as("files_per_term_after"),
          lit(dvsBefore > 0 && dvsAfter == 0).as("dvs_folded"),
          lit(covered).as("watermark_folded"))
    }),

    // ---- tix06: CHANGE-FEED-DRIVEN DELETE PROPAGATION — the flow
    // nothing drove before: pruneDeleted existed but the caller had to
    // hand it keys. Now the corpus's CDF tail (readChangeFeed) IS the
    // driver: each micro-batch's `_change_type = 'delete'` rows become
    // the prune keys, so right-to-be-forgotten deletes flow corpus →
    // index without a rebuild, exactly-once by idempotence (a
    // redelivered batch's keys have no postings left — pruneDeleted
    // no-ops and never double-shrinks the stats). Cross-gated two ways:
    // the t14 oracle restates the surviving corpus's ranking, and an
    // independent full rebuild must rank identically (literal flag).
    "tix06_cdf_delete_propagation" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      // shared text1 family, cloned (this gate deletes + prunes)
      val fam = SharedBases.cloned(spark, textFam1(spark, dir))
      val corpus = fam.resolve("tbl")
      val index = fam.resolve("tbl_text_ix")
      // GDPR churn lands on the corpus AFTER the index is built: two
      // merge-on-read delete commits (metadata-sized, the sql05 shape)
      TxLog.deleteMor(spark, corpus,
        d.filter(col("doc_id") % 11 === 3).select("doc_id"), "doc_id"): Unit
      TxLog.deleteMor(spark, corpus,
        d.filter(col("doc_id") % 13 === 7).select("doc_id"), "doc_id"): Unit
      val ckpt = SharedBases.tempDir("graft_tix6_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", "1")
        .load(corpus.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          TextIndex.pruneDeleted(spark, index,
            b.filter(col("_change_type") === "delete")
              .select(col("doc_id")).distinct()): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // independent rebuild over the surviving corpus (DVs applied by
      // the snapshot scan) must produce the identical ranking
      val rebuilt = corpus.resolveSibling("ix_rebuild")
      TextIndex.ensureIndexed(spark, corpus, rebuilt): Unit
      val terms = Seq("spark", "join", "filter")
      // k-row serve result materialized ONCE (optimization r17): the
      // equality proof and the returned ranking otherwise each re-run
      // the whole served-search pipeline — two executions for one
      // deterministic 20-row answer
      val served = TextIndex.searchBm25(spark, index, terms, 20)
        .localCheckpoint(true)
      val reference = TextIndex.searchBm25(spark, rebuilt, terms, 20)
      val same = SharedBases.multisetEqual(served, reference)
      val nLive = TextIndex.corpusStats(index)._1
      served.select(col("doc_id"), col("score"),
        lit(nLive).as("n_docs_live"),
        lit(same).as("matches_rebuild"))
    }),

    // ---- tix07: CONJUNCTIVE (AND) RETRIEVAL from the persisted index
    // — the other half of the retrieval algebra tix01's OR-of-terms
    // serves: only documents containing EVERY query term rank, same
    // BM25 arithmetic. The intersection runs on the pruned posting
    // lists (group-by + distinct-term count), so cost still tracks the
    // query terms' lists, never the corpus; the oracle is t14's chain
    // with the conjunctive HAVING — one shared scoring definition
    // cross-gates both retrieval modes.
    "tix07_conjunctive_search" -> ((spark: SparkSession, dir: String) => {
      // shared text2 family (read-only serve — no clone needed)
      val fam = textFam2(spark, dir)
      TextIndex.searchBm25All(spark, fam.resolve("tbl_text_ix"),
        Seq("spark", "join", "filter"), 20)
    }),

    // ---- tix10: DISJUNCTIVE TOP-K WITH TERM-LEVEL BOUNDS — searchBm25
    // scores EVERY posting of EVERY query term; for the classic
    // rare-term + common-terms query that is almost all waste: the
    // common lists' per-doc score ceiling (idf(df) * max tf/(tf+k1(1-b)),
    // both from the _tstats dictionary — |terms| point reads) cannot
    // reach θ̂, the k-th best score of the rare list alone (from the
    // dictionary's stored pairs), so they are probed only for
    // candidates the rare list produced, never scored in full. On this
    // one-increment index every term is one block-max unit, so the
    // pruning is whole lists (MaxScore's). SAFE-UP-TO-K: the ranking
    // hash-equals the full-scoring oracle; the postings arithmetic
    // rides as gated columns — the oracle RECOMPUTES postings_total
    // (Σ df over the query terms) and postings_essential (df of 'dup')
    // from the corpus, so the claimed read reduction (~600 postings
    // skipped of ~630 per 500 docs) is itself oracle-checked, not
    // self-reported.
    "tix10_maxscore_topk" -> ((spark: SparkSession, dir: String) => {
      // shared text2 family (read-only serve — no clone needed)
      val index = textFam2(spark, dir).resolve("tbl_text_ix")
      val (ranked, rep) = TextIndex.searchBm25BlockMax(
        spark, index, Seq("dup", "join", "filter"), 10)
      ranked
        .withColumn("postings_total", lit(rep.postingsTotal))
        .withColumn("postings_essential", lit(rep.postingsEssential))
        .withColumn("lists_skipped", lit(rep.termsSkipped.toLong))
        .withColumn("fell_back", lit(rep.fellBack))
    }),

    // ---- tix11: BLOCK-MAX top-k (Ding & Suel, SIGIR 2011) — tix10
    // prunes whole TERMS; on a long-lived multi-increment
    // index the unit of waste is the FILE: every increment appends its
    // own clustered file-set, so full scoring pays one file per term
    // per increment. The dictionary stores per-SLICE rows bound to
    // their postings commit plus each slice's top (tf, dl) pairs, so
    // block-max (a) derives θ̂ ON THE DRIVER from stored pairs — no
    // postings job, (b) selects essential units at (term × slice)
    // granularity, and (c) probes candidates only in files whose
    // doc_id footer range can hold them. The corpus arrives as THREE
    // id-range increments and the rare query term lives only in the
    // first range, so the candidate span prunes the other increments'
    // files outright: files_read < files_full is gated, and the
    // ranking hash-equals full scoring by construction (cross-checked
    // in-gate AND against the oracle's full-scoring recompute).
    "tix11_blockmax_topk" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).withColumn("text",
        when(col("doc_id") < 40,
          concat(col("text"), lit(" zq7marker zq7marker zq7marker")))
          .otherwise(col("text")))
      val corpus = freshTable()
      val index = corpus.resolveSibling("ix")
      Seq(col("doc_id") < 100,
          col("doc_id") >= 100 && col("doc_id") < 200,
          col("doc_id") >= 200).foreach { p =>
        TxLog.append(spark, d.filter(p), corpus, "doc_id", nParts = 2)
        TextIndex.ensureIndexed(spark, corpus, index): Unit
      }
      val terms = Seq("zq7marker", "join", "filter")
      val (ranked0, rep) = TextIndex.searchBm25BlockMax(spark, index, terms, 10)
      // k-row block-max result materialized ONCE (optimization r17):
      // the equality proof and the returned ranking otherwise each
      // re-run the pruned-serve pipeline
      val ranked = ranked0.localCheckpoint(true)
      val full = TextIndex.searchBm25(spark, index, terms, 10)
      // one keyed pass, one action (the er05/tix06 multiset idiom) —
      // the exceptAll pair ran each search pipeline twice
      val equal = SharedBases.multisetEqual(ranked, full)
      ranked
        .withColumn("units_pruned", lit(rep.unitsEssential < rep.unitsTotal))
        .withColumn("files_saved", lit(rep.filesRead < rep.filesFull))
        .withColumn("files_read", lit(rep.filesRead.toLong))
        .withColumn("equals_full_scoring", lit(equal))
        .withColumn("theta_from_dict", lit(rep.thetaFromDict))
        .withColumn("fell_back", lit(rep.fellBack))
    }),

    // ---- cont04: INDEX-ACCELERATED DECONTAMINATION — cont01/cont02
    // screen by scanning the corpus grams per benchmark (broadcast or
    // bloom prefilter); at 100 TB the corpus is huge and STATIC while
    // benchmarks arrive repeatedly, so the production shape inverts:
    // index the corpus's 4-gram fingerprints ONCE as a persisted text
    // index (grams md5'd to space-free tokens, so the t14 tokenizer is
    // the gram tokenizer), then each benchmark costs |bench-grams|
    // point reads — driver-side stats intersection prunes the clustered
    // postings to the covering files, the exact gram re-checked by
    // semi-join. Same semantics as cont01, so ITS oracle cross-gates
    // the scan path and the indexed path.
    "cont04_indexed_decontamination" -> ((spark: SparkSession, dir: String) => {
      val gramText = t(spark, dir, "documents")
        .filter(size(split(col("text"), " ")) >= 4)
        .select(col("doc_id").cast("bigint").as("doc_id"),
          expr("array_join(transform(sequence(1, size(split(text, ' ')) - 3), " +
            "i -> md5(array_join(slice(split(text, ' '), i, 4), ' '))), ' ')")
            .as("text"))
      val corpus = freshTable()
      TxLog.append(spark, gramText.filter(col("doc_id") % 97 =!= 0),
        corpus, "doc_id", nParts = 4)
      val index = corpus.resolveSibling("ix")
      TextIndex.ensureIndexed(spark, corpus, index): Unit
      val bench = gramText.filter(col("doc_id") % 97 === 0)
        .select(explode(split(col("text"), " ")).as("term")).distinct()
      TextIndex.postingsForTerms(spark, index, bench)
        .groupBy("doc_id")
        .agg(countDistinct(col("term")).as("n_hit_grams"))
        .orderBy("doc_id")
    }),

    // ---- tix08: EXACT-PHRASE SEARCH from POSITIONAL postings — the
    // retrieval mode frequency postings cannot serve (tix01's BM25 is
    // a bag-of-words): an optional sibling table records every term
    // OCCURRENCE (term_hash, term, doc_id, pos), range-clustered and
    // watermarked like the postings, and a phrase query aligns each
    // term's pruned occurrence list to a shared start (pos - offset)
    // so the |phrase|-way equi-join keeps exactly the true matches.
    // The exact-substring decontamination primitive as a lake
    // artifact: cost tracks the rarest term's occurrences, never the
    // corpus. Built incrementally across two arrivals here, so the
    // watermark discipline is in-gate.
    "tix08_phrase_search" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      // shared pos0 starting state, cloned (this gate mutates it)
      val fam = SharedBases.cloned(spark, posFam0(spark, dir))
      val corpus = fam.resolve("tbl")
      val index = fam.resolve("tbl_text_ix")
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 1), corpus, "doc_id", nParts = 2)
      TextIndex.ensurePositional(spark, corpus, index): Unit
      TextIndex.searchPhrase(spark, index, "stream table hash")
    }),

    // ---- tix09: the positional index's STREAMING TWIN — the tix03
    // discipline holds for every persisted artifact, including the new
    // occurrence table: a graft-lake tail of the corpus triggers
    // ensurePositional per micro-batch (watermark diff + doc_id
    // anti-join = idempotent under crash-redelivery), and the streamed
    // index must serve EXACTLY the phrase counts tix08's batch build
    // serves — one oracle cross-gates both maintenance paths.
    "tix09_streaming_positional" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      // shared pos0 starting state, cloned (this gate mutates it)
      val fam = SharedBases.cloned(spark, posFam0(spark, dir))
      val corpus = fam.resolve("tbl")
      val index = fam.resolve("tbl_text_ix")
      TxLog.append(spark, d.filter(col("doc_id") % 4 === 1), corpus, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("doc_id") % 4 === 3), corpus, "doc_id", nParts = 2)
      val ckpt = SharedBases.tempDir("graft_tix9_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", "1")
        .load(corpus.toString)
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          TextIndex.ensurePositional(spark, corpus, index): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      TextIndex.searchPhrase(spark, index, "stream table hash")
    }),

    // ---- c09: the RETRIEVAL-LIFECYCLE CAPSTONE (c08's discipline over
    // the round-14 surface): curate -> index incrementally (frequency
    // AND positional, through the SQL procedure) -> GDPR deletes flow
    // through the corpus change feed into BOTH index tables -> CALL
    // maintain folds the increments and DV sidecars -> serve the
    // conjunctive BM25 top-10 joined with exact-phrase counts, all
    // from the maintained index. One oracle states the surviving
    // corpus's answers; the lifecycle invariants (one-file seek, zero
    // DVs) ride as literal flags. Every stage is the same code the
    // standalone gates pin — the capstone proves the COMPOSITION.
    "c09_retrieval_lifecycle_pipeline" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val kept = d.filter(!(col("doc_id") % 2 === 0 && col("n_chars") < 150))
      val corpus = freshTable()
      val base = corpus.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val index = base.resolve("tbl_text_ix")
      TxLog.append(spark, kept.filter(col("doc_id") % 2 === 0), corpus, "doc_id", nParts = 2)
      spark.sql(s"CALL $cat.text_index('tbl', 'text')").collect(): Unit
      TextIndex.ensurePositional(spark, corpus, index): Unit
      TxLog.append(spark, kept.filter(col("doc_id") % 2 === 1), corpus, "doc_id", nParts = 2)
      spark.sql(s"CALL $cat.text_index('tbl', 'text')").collect(): Unit
      TextIndex.ensurePositional(spark, corpus, index): Unit
      // GDPR: one residue class leaves; the change feed drives BOTH
      // index tables' prunes per micro-batch
      TxLog.deleteMor(spark, corpus,
        kept.filter(col("doc_id") % 19 === 3).select("doc_id"), "doc_id"): Unit
      val ckpt = SharedBases.tempDir("graft_c09_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", "1")
        .load(corpus.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          TextIndex.pruneDeleted(spark, index,
            b.filter(col("_change_type") === "delete")
              .select(col("doc_id")).distinct()): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.sql(s"CALL $cat.maintain('tbl', 4, 4, vacuum_min_age_ms => 0)").collect(): Unit
      val oneFile = TextIndex.filesForTerm(spark, index, "spark") == 1
      val dvs = TxLog.snapshotAt(index).files.count(_.dv.isDefined) +
        TxLog.snapshotAt(base.resolve("tbl_text_ix_pos")).files.count(_.dv.isDefined)
      val conj = TextIndex.searchBm25All(spark, index,
        Seq("spark", "join", "filter"), 10)
      val ph = TextIndex.searchPhrase(spark, index, "stream table hash")
      conj.join(ph, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("score"),
          coalesce(col("n_occurrences"), lit(0L)).as("phrase_hits"),
          lit(oneFile).as("one_file_seek"),
          lit(dvs == 0).as("dvs_folded"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    // ---- dq07: INDEX-CONSISTENCY AUDIT — the monitor a production
    // index needs between maintenance runs (dq06's conservation
    // discipline applied to derived artifacts): after increments AND
    // deletes, (a) the stats row's n_docs must equal the corpus's live
    // count, (b) the postings' doc set must equal the corpus's doc set
    // exactly (anti-joins both ways — a stranded posting OR an
    // unindexed doc each breaks its own zero), and (c) the positional
    // sibling must cover the same set. All metadata- or
    // posting-list-sized except the corpus count.
    "dq07_index_consistency" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      // shared text2 family (the same one-build-each state), cloned —
      // this gate deletes + prunes before auditing
      val fam = SharedBases.cloned(spark, textFam2(spark, dir))
      val corpus = fam.resolve("tbl")
      val index = fam.resolve("tbl_text_ix")
      val delKeys = d.filter(col("doc_id") % 13 === 5).select("doc_id")
      TxLog.deleteMor(spark, corpus, delKeys, "doc_id"): Unit
      TextIndex.pruneDeleted(spark, index, delKeys): Unit
      val live = TxLog.readAt(spark, corpus).select("doc_id")
      val inIx = TxLog.readAt(spark, index).select("doc_id").distinct()
      val inPos = TxLog.readAt(spark, fam.resolve("tbl_text_ix_pos"))
        .select("doc_id").distinct()
      val statsDocs = TextIndex.corpusStats(index)._1
      // ONE doc_id-keyed pass computes every anti-join zero (full-outer
      // membership join + conditional counts): the four separate
      // count() actions each re-shuffled live/index/positional — at
      // corpus scale that is 4 extra passes for numbers one pass holds
      // (guide §2.4: share the exchange, don't repeat it)
      val m = live.withColumn("__l", lit(1))
        .join(inIx.withColumn("__i", lit(1)), Seq("doc_id"), "full_outer")
        .join(inPos.withColumn("__p", lit(1)), Seq("doc_id"), "full_outer")
      m.agg(
          count(col("__l")).as("corpus_docs"),
          count(when(col("__i").isNotNull && col("__l").isNull, 1))
            .as("postings_stranded"),
          count(when(col("__l").isNotNull && col("__i").isNull, 1))
            .as("docs_unindexed"),
          count(when(col("__p").isNotNull && col("__l").isNull, 1))
            .as("positional_stranded"),
          count(when(col("__l").isNotNull && col("__p").isNull, 1))
            .as("docs_unpositioned"))
        .select(col("corpus_docs"), lit(statsDocs).as("stats_docs"),
          col("postings_stranded"), col("docs_unindexed"),
          col("positional_stranded"), col("docs_unpositioned"))
    }),

    // ---- tx22: ATOMIC MULTI-TABLE TRANSACTION — the transfer shape no
    // per-table pattern can express: short 'en' docs leave the hot
    // table and land in the cold one in ONE transaction (merge-on-read
    // delete + append, commit-marker 2PC: TxLog.transact). Readers can
    // never observe the in-between (docs in both tables or neither) —
    // TxnSpec proves the crash matrix; this gates the committed path's
    // data: both tables' post-transfer aggregates replayed by the
    // oracle, plus the per-table versions (exactly one commit each).
    // At 100 TB the expensive part — staging the moved rows — happens
    // BEFORE any claim is held; the fenced window is metadata-only
    // (DV sidecars + two commit publishes), so lock hold time is
    // independent of data size.
    "tx22_multi_table_txn" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val hot = freshTable()
      val cold = freshTable()
      TxLog.append(spark, d.filter(col("lang") === "en"), hot, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("lang") =!= "en"), cold, "doc_id", nParts = 2)
      val moving = TxLog.readAt(spark, hot).filter(col("n_chars") < 200L)
      val vs = TxLog.transact(spark, Seq(
        TxLog.TxnDeleteMor(hot, moving.select("doc_id"), "doc_id"),
        TxLog.TxnAppend(cold, moving, "doc_id", nParts = 1)))
      val h = TxLog.readAt(spark, hot).agg(
        count(lit(1)).as("hot_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("hot_chars"))
      val c = TxLog.readAt(spark, cold).agg(
        count(lit(1)).as("cold_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("cold_chars"))
      h.crossJoin(c).select(
        col("hot_docs"), col("hot_chars"), col("cold_docs"), col("cold_chars"),
        lit(vs(hot)).cast("bigint").as("hot_txn_version"),
        lit(vs(cold)).cast("bigint").as("cold_txn_version"))
    }),

    // ---- sql19: tx23's reconciliation driven from SQL — `CALL
    // lake.merge_audit(target, audit, source_view, key)` runs the
    // atomic MERGE + audit-append transaction from a registered view,
    // the same surface discipline as move_where for the transfer.
    // One oracle cross-gates the API (tx23) and SQL (sql19) bindings.
    "sql19_merge_audit" -> ((spark: SparkSession, dir: String) => {
      val d0 = docs(spark, dir).select(col("doc_id"), col("n_chars"))
      val span = idSpan(d0)
      val cur = freshTable()
      val base = cur.getParent
      val audit = base.resolve("audit")
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d0, cur, "doc_id", nParts = 4)
      TxLog.create(audit, d0.schema): Unit
      d0.filter(col("doc_id") % 10 === 3)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(d0.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + lit(span)))
        .createOrReplaceTempView(s"changes19_$cat")
      val r = spark.sql(s"CALL $cat.merge_audit('tbl', 'audit', " +
        s"'changes19_$cat', 'doc_id')").head
      val c = spark.sql(s"SELECT COUNT(*) AS n, " +
        s"CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS s FROM $cat.tbl").head
      val a = spark.sql(s"SELECT COUNT(*) AS n, " +
        s"CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS s FROM $cat.audit").head
      spark.range(1).select(
        lit(c.getLong(0)).as("cur_docs"), lit(c.getLong(1)).as("cur_chars"),
        lit(a.getLong(0)).as("audit_docs"), lit(a.getLong(1)).as("audit_chars"),
        lit(r.getLong(0)).as("target_version"),
        lit(r.getLong(1)).as("audit_version"),
        lit(r.getLong(2)).as("rows_merged"))
    }),

    // ---- dq06: TRANSACTION CONSERVATION AUDIT — the data-quality
    // monitor a lake running multi-table transfers needs: after a
    // move_where, the `t$txns` metadata tables must show exactly one
    // COMMITTED txn commit per participant with the expected ops, and
    // the union of both tables must conserve the original corpus
    // exactly (no row lost in the delete side, none doubled in the
    // append side). Everything is O(log metadata) except the two
    // conservation aggregates. The oracle states the invariants in
    // closed form — any atomicity bug surfaces as a hash break here.
    "dq06_txn_conservation" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val hot = freshTable()
      val base = hot.getParent
      val cold = base.resolve("cold")
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d.filter(col("lang") === "en"), hot, "doc_id", nParts = 2)
      TxLog.append(spark, d.filter(col("lang") =!= "en"), cold, "doc_id", nParts = 2)
      spark.sql(s"CALL $cat.move_where('tbl', 'cold', 'doc_id', " +
        "'n_chars < 200')").collect(): Unit
      val u = spark.sql(s"SELECT COUNT(*) AS n, " +
        s"CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS s FROM " +
        s"(SELECT n_chars FROM $cat.tbl UNION ALL SELECT n_chars FROM $cat.cold)").head
      val ht = spark.sql(s"SELECT op, outcome FROM $cat.`tbl$$txns`").collect()
      val ct = spark.sql(s"SELECT op, outcome FROM $cat.`cold$$txns`").collect()
      spark.range(1).select(
        lit(u.getLong(0)).as("total_docs"), lit(u.getLong(1)).as("total_chars"),
        lit(ht.length.toLong).as("hot_txns"), lit(ct.length.toLong).as("cold_txns"),
        lit(ht.head.getString(0)).as("hot_txn_op"),
        lit(ct.head.getString(0)).as("cold_txn_op"),
        lit(ht.head.getString(1)).as("hot_outcome"),
        lit(ct.head.getString(1)).as("cold_outcome"))
    }),

    // ---- tx24: STREAMING reconciliation — the merge+audit transaction
    // driven per micro-batch by a graft-lake tail of a corrections
    // table, EXACTLY-ONCE: the audit append carries the batch id, the
    // driver checks the watermark BEFORE staging, and a redelivered
    // batch skips the whole transaction. The watermark resolves with
    // the transaction (an aborted txn's tag never advances it: the log
    // fold's batch watermark is txn-resolved), so the skip can never lose a
    // batch. Proven through a full REDELIVERY: the stream re-runs with
    // a wiped engine checkpoint and both tables' versions and contents
    // are unchanged. The oracle replays the net state.
    // ---- tx26: COMMIT-PROTOCOL FEATURE GATES — the refusal contract a
    // foreign or older reader needs (Delta's protocol action, feature-
    // name form): using a deletion vector AUTO-DECLARES the feature in
    // the delete's own commit (no extra version), an explicit
    // upgradeProtocol grows the contract as one metadata commit, and the
    // protocol is PER VERSION — time travel back across the upgrade
    // reads under the old contract, which this gate exercises by
    // replaying v0's aggregates after the table has declared features
    // v0 never used. Unknown-feature refusal (reader AND writer, by
    // name) is spec'd in TxLogSpec — it cannot be oracle-gated because
    // a correct engine must throw, not return rows.
    // ---- tx27: SHARDED CHECKPOINTS — at 100 TB (~10^6 AddFiles) a
    // single-document checkpoint.json is a driver-memory and
    // single-threaded-parse bottleneck on both ends (the round-15
    // verdict's design flag). Above a live-set threshold the
    // checkpoint now writes `checkpoint.d/part-NNNNN.jsonl` shards
    // (one AddFile per line, parsed back in parallel) and the manifest
    // carries filesRef; the first sharded checkpoint declares the
    // `shardedCheckpoint` reader+writer feature IN ITS OWN COMMIT
    // (tx26's protocol machinery), so a pre-upgrade engine refuses by
    // name. This gate lowers the threshold, builds 12 increments, and
    // TIME-TRAVELS ACROSS THE FORMAT BOUNDARY: v5 replays from plain
    // commits, v11 from the sharded checkpoint + one commit — the
    // aggregates are the oracle's, the layout facts ride as literals.
    "tx27_sharded_checkpoint" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val tbl = freshTable()
      val oldMax = TxLog.CheckpointInlineMax
      TxLog.CheckpointInlineMax = 8
      try {
        (0 until 12).foreach { i => // v0..v11; ckpt at v10: 22 files > 8
          TxLog.append(spark, d.filter(col("doc_id") % 12 === i),
            tbl, "doc_id", nParts = 2): Unit
        }
        val vd10 = tbl.resolve("_graft_log").resolve(f"v${10L}%020d")
        val sharded = java.nio.file.Files.isDirectory(vd10.resolve("checkpoint.d"))
        val declared = TxLog.protocolAt(tbl).readerFeatures("shardedCheckpoint") &&
          TxLog.protocolAt(tbl, Some(9L)) == TxLog.Protocol.Empty
        val v5 = TxLog.readAt(spark, tbl, Some(5L))
          .agg(count(lit(1)).as("v5_docs"),
            sum(col("n_chars")).cast("bigint").as("v5_chars"))
        val live = TxLog.readAt(spark, tbl)
          .agg(count(lit(1)).as("live_docs"),
            sum(col("n_chars")).cast("bigint").as("live_chars"))
        v5.crossJoin(live)
          .withColumn("sharded", lit(sharded))
          .withColumn("feature_declared", lit(declared))
      } finally TxLog.CheckpointInlineMax = oldMax
    }),

    "tx26_protocol_upgrade" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val tbl = freshTable()
      TxLog.append(spark, d, tbl, "doc_id", nParts = 2) // v0: no features
      TxLog.deleteMor(spark, tbl,
        d.filter(col("doc_id") % 13 === 5).select("doc_id"), "doc_id"): Unit // v1 + DV feature
      val vUp = TxLog.upgradeProtocol(tbl,
        readerFeatures = Set("changeDataFeed"), writerFeatures = Set("changeDataFeed"))
      val p = TxLog.protocolAt(tbl)
      val p0 = TxLog.protocolAt(tbl, Some(0L))
      val v0 = TxLog.readAt(spark, tbl, Some(0L))
        .agg(count(lit(1)).as("v0_docs"), sum(col("n_chars")).cast("bigint").as("v0_chars"))
      val live = TxLog.readAt(spark, tbl)
        .agg(count(lit(1)).as("live_docs"), sum(col("n_chars")).cast("bigint").as("live_chars"))
      v0.crossJoin(live)
        .withColumn("dv_declared", lit(p.readerFeatures("deletionVectors")))
        .withColumn("cdf_declared", lit(p.readerFeatures("changeDataFeed")))
        .withColumn("v0_protocol_empty", lit(p0 == TxLog.Protocol.Empty))
        .withColumn("upgrade_version", lit(vUp))
    }),

    // ---- tx25: STRING-RANGE FILE SKIPPING from truncated footer stats
    // — the pruning axis the log lacked (AddFile min/max was Long-only;
    // the bloom sibling covers equality, not ranges). Every commit now
    // records per-string-column [prefix-min, prefix-max-plus-one)
    // (Delta's truncation rule, 16 code points, code-point order =
    // parquet's UTF-8 byte order), so a range probe over a string-keyed
    // layout prunes to exactly the covering files FROM DRIVER METADATA
    // — here 3 of 20 source-clustered files for a 38-char synthetic key,
    // the exact predicate re-applied as the in-scan residual. The
    // files-scanned arithmetic rides as gated literals; files_total is
    // RECOMPUTED by the oracle (one file per source by construction).
    "tx25_string_stats_prune" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
        .withColumn("skey", concat_ws("_", col("source"), md5(col("text"))))
      val tbl = freshTable()
      TxLog.appendClustered(spark, d, tbl, "doc_id",
        clusterCol = col("source"), nClusters = 8)
      val snap = TxLog.snapshotAt(tbl)
      val kept = TxLog.pruneFilesOnStr(snap, "skey", "src14", "src17")
      TxLog.readFiles(spark, tbl, kept)
        .filter(col("skey") >= "src14" && col("skey") <= "src17")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .withColumn("files_scanned", lit(kept.size.toLong))
        .withColumn("files_total", lit(snap.files.size.toLong))
    }),

    "tx24_streaming_reconcile" -> ((spark: SparkSession, dir: String) => {
      val d0 = docs(spark, dir).select(col("doc_id"), col("n_chars"))
      val span = idSpan(d0)
      val cur = freshTable()
      val audit = cur.getParent.resolve("audit")
      val corr = cur.getParent.resolve("corr")
      TxLog.append(spark, d0, cur, "doc_id", nParts = 4)
      TxLog.create(audit, d0.schema): Unit
      // the corrections arrive as two commits = two micro-batches
      TxLog.append(spark, d0.filter(col("doc_id") % 10 === 3)
        .withColumn("n_chars", col("n_chars") + 1000L), corr, "doc_id", nParts = 1)
      TxLog.append(spark, d0.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(span)), corr, "doc_id", nParts = 1)
      def drain(): Unit = {
        val ckpt = SharedBases.tempDir("graft_tx24_ckpt")
        val q = spark.readStream.format("graft-lake")
          .option("maxVersionsPerBatch", "1")
          .load(corr.toString)
          .writeStream
          .foreachBatch { (df: DataFrame, id: Long) =>
            if (!TxLog.isBatchCommitted(audit, id)) {
              val batch = df.localCheckpoint(true)
              TxLog.transact(spark, Seq(
                TxLog.TxnMerge(cur, batch, "doc_id", "doc_id", nParts = 1),
                TxLog.TxnAppend(audit, batch, "doc_id", nParts = 1,
                  batchId = Some(id)))): Unit
            }
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      // full redelivery: fresh checkpoint, same batches, same ids —
      // the watermark skips both transactions
      drain()
      val c = TxLog.readAt(spark, cur).agg(
        count(lit(1)).as("n"), coalesce(sum(col("n_chars")), lit(0L)).as("s")).head
      val a = TxLog.readAt(spark, audit).agg(
        count(lit(1)).as("n"), coalesce(sum(col("n_chars")), lit(0L)).as("s")).head
      spark.range(1).select(
        lit(c.getLong(0)).as("cur_docs"), lit(c.getLong(1)).as("cur_chars"),
        lit(a.getLong(0)).as("audit_docs"), lit(a.getLong(1)).as("audit_chars"),
        lit(TxLog.latestVersion(cur)).as("cur_version"),
        lit(TxLog.latestVersion(audit)).as("audit_version"))
    }),

    // ---- c07: the round-12 features composed into one RECONCILIATION
    // pipeline — what a production corrections run looks like end to
    // end: bloom-index the current table, apply a corrections batch as
    // an ATOMIC MERGE + AUDIT transaction (TxnMerge: updated keys
    // replaced merge-on-read, new keys inserted, the same batch logged
    // to a second table — no observable in-between), then ONE
    // maintenance CALL folds the merge's deletion vectors, re-indexes
    // the rewritten files AND vacuums the index's dead-row tail, and
    // the corrected document resolves through the transparently
    // bloom-pruned SQL point query. Aggregates of both tables, the
    // index-matches-live invariant, and the probe's dup set are all
    // replayed by the oracle.
    // ---- c08: the CURATE -> EVOLVE -> INDEX -> SERVE capstone — one
    // arc composing this round's features end-to-end on one table:
    // ingest -> SQL quality DELETE (copy-on-write, CDC sidecar) ->
    // ALTER TABLE RENAME COLUMN text TO body (column mapping activates;
    // era-1 files keep physical 'text') -> partition EVOLUTION (future
    // writes lay out by lang) -> a second partitioned arrival under the
    // NEW name -> CALL text_index on the RENAMED column (the index build
    // reads both file eras through the mapping) -> BM25 served from the
    // index alone. The oracle recomputes the surviving corpus's t14
    // ranking in DuckDB: any wrong interaction between DML, mapping,
    // evolution, and the index breaks the hash.
    "c08_curation_search_pipeline" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).select("doc_id", "lang", "n_chars", "text")
      val table = freshTable()
      val base = table.getParent
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d.filter(col("doc_id") % 2 === 0), table, "doc_id", nParts = 2)
      spark.sql(s"DELETE FROM $cat.tbl WHERE n_chars < 150")        // quality gate (COW)
      spark.sql(s"ALTER TABLE $cat.tbl RENAME COLUMN text TO body") // mapping activates
      spark.sql(s"CALL $cat.set_partitioning('tbl', 'lang')")       // evolution
      d.filter(col("doc_id") % 2 === 1).createOrReplaceTempView(s"arrivals_$cat")
      spark.sql(s"INSERT INTO $cat.tbl SELECT doc_id, lang, n_chars, text AS body " +
        s"FROM arrivals_$cat")                                      // partitioned era
      spark.sql(s"CALL $cat.text_index('tbl', 'body')").collect(): Unit
      val snap = TxLog.snapshotAt(table)
      val composed = snap.files.exists(_.part.get("lang").isDefined) &&
        snap.files.exists(_.part.isEmpty) &&
        graft.ops.ColumnMapping.physicalOf(
          TxLog.tableSchema(table).get, "body") == "text"
      TextIndex.searchBm25(spark, base.resolve("tbl_text_ix"),
          Seq("spark", "join", "filter"), 20)
        .withColumn("composed_ok", lit(if (composed) 1L else 0L))
    }),

    "c07_reconcile_pipeline" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir).withColumn("text_key", md5(col("text")))
      val span = idSpan(d)
      val cur = freshTable()
      val base = cur.getParent
      val audit = base.resolve("audit")
      val cat = s"lake${math.abs(base.hashCode().toLong)}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      TxLog.append(spark, d, cur, "doc_id", nParts = 4)
      spark.sql(s"CALL $cat.bloom_index('tbl', 'text_key')").collect(): Unit
      val changes = d.filter(col("doc_id") % 10 === 3)
        .withColumn("text", concat(lit("corrected-"), col("text")))
        .withColumn("n_chars", col("n_chars") + 1000L)
        .withColumn("text_key", md5(col("text")))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + lit(span)))
      TxLog.transact(spark, Seq(
        TxLog.TxnMerge(cur, changes, "doc_id", "doc_id", nParts = 2),
        TxLog.TxnAppend(audit, changes, "doc_id", nParts = 1))): Unit
      // one maintenance pass: folds the merge's DVs (compact), then
      // re-indexes the rewritten files and vacuums the stale rows
      spark.sql(s"CALL $cat.maintain('tbl', 8, 4)").collect(): Unit
      val index = base.resolve("tbl_bloom_text_key")
      val ixRows = TxLog.readAt(spark, index).count()
      val liveFiles = TxLog.snapshotAt(cur).files.size
      // probe: the smallest corrected doc's NEW text key, served by the
      // bloom-pruned scan (the table carries no DVs after maintain)
      val probe = spark.sql(s"SELECT text_key FROM $cat.tbl " +
        s"WHERE doc_id = (SELECT MIN(doc_id) FROM $cat.tbl WHERE doc_id % 10 = 3 " +
        s"AND doc_id < $span)").head.getString(0)
      val f = spark.sql(s"SELECT COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS s " +
        s"FROM $cat.tbl WHERE text_key = '$probe'").head
      val c = spark.sql(s"SELECT COUNT(*) AS n, " +
        s"CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS s FROM $cat.tbl").head
      val a = spark.sql(s"SELECT COUNT(*) AS n, " +
        s"CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS s FROM $cat.audit").head
      spark.range(1).select(
        lit(c.getLong(0)).as("cur_docs"), lit(c.getLong(1)).as("cur_chars"),
        lit(a.getLong(0)).as("audit_docs"), lit(a.getLong(1)).as("audit_chars"),
        lit(ixRows).cast("bigint").as("index_rows"),
        lit(liveFiles.toLong).as("files_live"),
        lit(ixRows == liveFiles).as("index_matches_live"),
        lit(f.getLong(0)).as("n_found"), lit(f.getLong(1)).as("sum_found_ids"))
    }),

    // ---- tx23: MERGE as a TRANSACTION PARTICIPANT (TxLog.TxnMerge) —
    // the SCD-style reconciliation shape: a corrections batch UPSERTS
    // into the current table (existing keys replaced merge-on-read,
    // new keys inserted) AND the same batch lands in an audit table,
    // atomically — a reader can never see the correction applied but
    // unlogged, or logged but unapplied. The merge is delete-then-
    // insert-all in ONE commit of the current table: DV sidecars void
    // the old versions of updated keys (zero files rewritten), the
    // staged new rows were written BEFORE any claim was held. Gated:
    // both tables' post-txn aggregates replayed by the oracle, one
    // commit per table.
    "tx23_txn_merge" -> ((spark: SparkSession, dir: String) => {
      val d0 = docs(spark, dir).select(col("doc_id"), col("n_chars"))
      val span = idSpan(d0)
      val cur = freshTable()
      val audit = freshTable()
      TxLog.append(spark, d0, cur, "doc_id", nParts = 4) // v0
      val changes = d0.filter(col("doc_id") % 10 === 3)
        .withColumn("n_chars", col("n_chars") + 1000L) // the update cohort
        .unionByName(d0.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + lit(span))) // the insert cohort
      val vs = TxLog.transact(spark, Seq(
        TxLog.TxnMerge(cur, changes, "doc_id", "doc_id", nParts = 2),
        TxLog.TxnAppend(audit, changes, "doc_id", nParts = 1)))
      val c = TxLog.readAt(spark, cur).agg(
        count(lit(1)).as("cur_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("cur_chars"))
      val a = TxLog.readAt(spark, audit).agg(
        count(lit(1)).as("audit_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("audit_chars"))
      c.crossJoin(a).select(
        col("cur_docs"), col("cur_chars"), col("audit_docs"), col("audit_chars"),
        lit(vs(cur)).cast("bigint").as("cur_txn_version"),
        lit(vs(audit)).cast("bigint").as("audit_txn_version"))
    }),

    // ---- tx15: CLUSTERED compaction (OPTIMIZE) — the layout
    // maintenance a streaming table needs: four arrival-order appends
    // (every file spans the whole id range — zero pruning power, gated
    // as files_before_scanned) plus a merge-on-read delete, then ONE
    // clustered rewrite into equal-width range files with the vectors
    // folded in. The same range read that scanned every file before
    // now touches only the intersecting buckets; all counts replayed
    // by the oracle.
    "tx15_clustered_compaction" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val table = freshTable()
      (0 until 4).foreach { i =>
        TxLog.append(spark, d.filter(col("doc_id") % 4 === i), table, "doc_id", nParts = 1)
      }
      TxLog.deleteMor(spark, table,
        d.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id")
      val (lo, hi) = (span / 4, span / 2 - 1)
      val preScan = TxLog.pruneFiles(TxLog.snapshotAt(table), lo, hi).size
      TxLog.compactClustered(spark, table, "doc_id",
        expr(s"(doc_id * 8) div ${span}L"), nClusters = 8)
      val snap = TxLog.snapshotAt(table)
      val scanned = TxLog.pruneFiles(snap, lo, hi).size
      TxLog.readAt(spark, table, range = Some(("doc_id", lo, hi)))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
        .select(lit(preScan).cast("bigint").as("files_before_scanned"),
          lit(snap.files.size).cast("bigint").as("files_total"),
          lit(scanned).cast("bigint").as("files_scanned"),
          lit(snap.files.count(_.dv.isDefined)).cast("bigint").as("dv_after"),
          col("n_rows"), col("sum_chars"))
    }),

    // ---- tx05: stats-based file skipping. A range predicate over the
    // middle quarter of the id space reads only the files whose footer
    // [min,max] intersects it; files_scanned is gated against the bucket
    // arithmetic. The residual row filter keeps the answer exact even
    // when a kept file straddles the range edge.
    "tx05_stats_pruning" -> ((spark: SparkSession, dir: String) => {
      val d = docs(spark, dir)
      val span = idSpan(d)
      val table = freshTable()
      rangeLayout(spark, d, table, span)
      val lo = span / 4
      val hi = span / 2 - 1
      val snap = TxLog.snapshotAt(table)
      val scanned = TxLog.pruneFiles(snap, lo, hi).size
      TxLog.readAt(spark, table, range = Some(("doc_id", lo, hi)))
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(snap.files.size).cast("bigint").as("files_total"),
          lit(scanned).cast("bigint").as("files_scanned"),
          col("n_rows"), col("sum_chars"))
    }))

  /** t14's BM25 oracle, shared by the persisted-index gates: same
    * tokenizer, always-positive idf, k1=1.2/b=0.75, round-6 + doc_id
    * tie-break. */
  /** Phrase-count oracle shared by the batch (tix08) and streaming
    * (tix09) positional builds. */
  private val PhraseOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |occ AS (
      |  SELECT doc_id FROM d, unnest(range(1, len(ws) - 1)) AS u(i)
      |  WHERE array_to_string(ws[i:i+2], ' ') = 'stream table hash')
      |SELECT doc_id, COUNT(*) AS n_occurrences
      |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val TextIndexOracle: String =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |stats AS (
      |  SELECT count(*) AS n,
      |    CAST(SUM(len(ws)) AS DOUBLE) / count(*) AS avgdl
      |  FROM docs),
      |tf AS (
      |  SELECT doc_id, w, MAX(dl) AS dl, count(*) AS tf
      |  FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM docs)
      |  WHERE w IN ('spark', 'join', 'filter')
      |  GROUP BY doc_id, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |scored AS (
      |  SELECT tf.doc_id,
      |    round(SUM(
      |      ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
      |      CAST(tf.tf AS DOUBLE) /
      |      (CAST(tf.tf AS DOUBLE) +
      |        1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / stats.avgdl))), 6)
      |      AS score
      |  FROM tf JOIN df USING (w) CROSS JOIN stats
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, score FROM scored
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  val oracles: Map[String, String] = Map(

    "tx01_snapshot_read" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "tx02_time_travel" ->
      """SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 10 <> 0
        |ORDER BY version""".stripMargin,

    // files_before is data-derived (distinct non-empty % 6 residues),
    // robust to a future sparse doc_id regeneration
    "tx03_compaction" ->
      """SELECT (SELECT COUNT(DISTINCT doc_id % 6) FROM documents) AS files_before,
        |  CAST(1 AS BIGINT) AS files_after,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents""".stripMargin,

    // insert counts and files_total are DATA-DERIVED (not constants) so
    // the gate survives a future driver regeneration where doc_id < 3
    // matches a different row count or an equal-width bucket lands empty
    // (promoteParts drops zero-row part files)
    "tx04_cow_merge" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |touched AS (
        |  SELECT COUNT(DISTINCT (doc_id * 8) // n) AS rewritten
        |  FROM documents, span WHERE doc_id % 100 = 7),
        |nf AS (SELECT COUNT(DISTINCT (doc_id * 8) // n) AS files_total
        |       FROM documents, span),
        |ins AS (SELECT COUNT(*) AS n_ins FROM documents WHERE doc_id < 3)
        |SELECT CAST(nf.files_total AS BIGINT) AS files_total,
        |  CAST(touched.rewritten AS BIGINT) AS files_rewritten,
        |  CAST((SELECT COUNT(*) FROM documents) + ins.n_ins AS BIGINT) AS n_docs,
        |  CAST((SELECT SUM(CASE WHEN doc_id % 100 = 7 THEN 8 ELSE n_chars END)
        |        FROM documents) + 8 * ins.n_ins AS BIGINT) AS sum_chars,
        |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 100 = 7) AS BIGINT)
        |    AS n_redacted,
        |  CAST(ins.n_ins AS BIGINT) AS n_inserted
        |FROM touched, nf, ins""".stripMargin,

    "tx06_schema_evolution" ->
      """SELECT COUNT(*) AS n_docs,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 1) AS n_with_quality,
        |  CAST((SELECT COALESCE(SUM(n_chars % 5), 0) FROM documents
        |        WHERE doc_id % 2 = 1) AS BIGINT) AS sum_quality,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin,

    // quality gate + atomic quarantine + keeper probe, recomputed
    "c06_transfer_pipeline" ->
      """WITH keep AS (SELECT * FROM documents WHERE n_chars >= 120 AND n_chars <= 500),
        |rej AS (SELECT * FROM documents WHERE n_chars < 120 OR n_chars > 500),
        |p AS (SELECT text FROM keep WHERE doc_id = (SELECT MIN(doc_id) FROM keep)),
        |f AS (SELECT k.doc_id FROM keep k, p WHERE k.text = p.text)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM keep) AS BIGINT) AS kept_docs,
        |  CAST((SELECT COALESCE(SUM(n_chars), 0) FROM keep) AS BIGINT) AS kept_chars,
        |  CAST((SELECT COUNT(*) FROM rej) AS BIGINT) AS rejected_docs,
        |  CAST((SELECT COALESCE(SUM(n_chars), 0) FROM rej) AS BIGINT) AS rejected_chars,
        |  CAST((SELECT COUNT(*) FROM rej) AS BIGINT) AS rows_moved,
        |  CAST((SELECT COUNT(*) FROM f) AS BIGINT) AS n_found,
        |  CAST((SELECT SUM(doc_id) FROM f) AS BIGINT) AS sum_found_ids""".stripMargin,

    "tx07_change_feed" ->
      """SELECT 'delete' AS _change_type, COUNT(*) AS n_rows,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY _change_type""".stripMargin,

    "c05_lake_pipeline" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |gated AS (
        |  SELECT * FROM documents
        |  WHERE n_chars >= 30 AND len(string_split(text, ' ')) >= 5),
        |kept AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rk
        |    FROM gated)
        |  WHERE rk = 1),
        |nf AS (SELECT COUNT(DISTINCT (doc_id * 4) // span.n) AS files_total
        |       FROM kept, span)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(nf.files_total AS BIGINT) AS files_total
        |FROM kept, nf GROUP BY source, nf.files_total ORDER BY source""".stripMargin,

    "tx10_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'append',  CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'append',  CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'delete',  CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'compact', CAST(1 AS BIGINT), CAST(2 AS BIGINT)))
        |  t(version, op, n_adds, n_removes)
        |ORDER BY version""".stripMargin,

    // Direct recompute of v2's state (not the feed algebra).
    "tx09_feed_ivm" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 10 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,

    // Same bucket-boxes replay as tx05, but over the Morton key: the
    // covering z-interval comes from the VERBATIM zkeySql expression
    // applied to the box corners.
    "tx08_zorder_pruning" ->
      s"""WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |yb AS (SELECT MIN(n_chars) AS ylo,
        |  (MIN(n_chars) + MAX(n_chars)) // 2 AS ymid FROM documents),
        |zed AS (SELECT doc_id, n_chars,
        |  $zClampedExpr AS z FROM documents),
        |zm AS (SELECT MAX(z) AS zmax FROM zed),
        |boxes AS (
        |  SELECT (z * 16) // (zm.zmax + 1) AS b, MIN(z) AS mn, MAX(z) AS mx
        |  FROM zed, zm GROUP BY 1),
        |corners AS (
        |  SELECT ${graft.ops.Layout.zkeySql("least(xlo, 65535)", "least(ylo, 65535)")} AS zlo,
        |         ${graft.ops.Layout.zkeySql("least(xhi, 65535)", "least(ymid, 65535)")} AS zhi,
        |         xlo, xhi, ylo, ymid
        |  FROM (SELECT n // 4 AS xlo, n // 2 - 1 AS xhi, ylo, ymid FROM span, yb))
        |SELECT
        |  CAST((SELECT COUNT(*) FROM boxes) AS BIGINT) AS files_total,
        |  CAST((SELECT COUNT(*) FROM boxes, corners
        |        WHERE boxes.mx >= corners.zlo AND boxes.mn <= corners.zhi) AS BIGINT)
        |    AS files_scanned,
        |  (SELECT COUNT(*) FROM documents, corners
        |   WHERE doc_id BETWEEN xlo AND xhi AND n_chars BETWEEN ylo AND ymid) AS n_rows,
        |  CAST((SELECT COALESCE(SUM(n_chars), 0) FROM documents, corners
        |        WHERE doc_id BETWEEN xlo AND xhi AND n_chars BETWEEN ylo AND ymid)
        |    AS BIGINT) AS sum_chars""".stripMargin,

    // Same aggregate as tx04's oracle, but files_rewritten is the
    // CONSTANT 0 (the merge-on-read contract) and dv_files carries the
    // touched-bucket arithmetic instead.
    "tx11_mor_merge" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |touched AS (
        |  SELECT COUNT(DISTINCT (doc_id * 8) // n) AS dvf
        |  FROM documents, span WHERE doc_id % 100 = 7),
        |nf AS (SELECT COUNT(DISTINCT (doc_id * 8) // n) AS files_total
        |       FROM documents, span),
        |ins AS (SELECT COUNT(*) AS n_ins FROM documents WHERE doc_id < 3)
        |SELECT CAST(nf.files_total AS BIGINT) AS files_total,
        |  CAST(0 AS BIGINT) AS files_rewritten,
        |  CAST(touched.dvf AS BIGINT) AS dv_files,
        |  CAST((SELECT COUNT(*) FROM documents) + ins.n_ins AS BIGINT) AS n_docs,
        |  CAST((SELECT SUM(CASE WHEN doc_id % 100 = 7 THEN 8 ELSE n_chars END)
        |        FROM documents) + 8 * ins.n_ins AS BIGINT) AS sum_chars,
        |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 100 = 7) AS BIGINT)
        |    AS n_redacted,
        |  CAST(ins.n_ins AS BIGINT) AS n_inserted
        |FROM touched, nf, ins""".stripMargin,

    // Replays BOTH pruning rules: partition equality on lang, then the
    // footer [min,max] rule per (lang, bucket) file.
    "tx12_partition_pruning" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |rng AS (SELECT n // 4 AS lo, n // 2 - 1 AS hi, n FROM span),
        |boxes AS (
        |  SELECT lang, (doc_id * 4) // rng.n AS b,
        |    MIN(doc_id) AS mn, MAX(doc_id) AS mx
        |  FROM documents, rng GROUP BY 1, 2)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM boxes) AS BIGINT) AS files_total,
        |  CAST((SELECT COUNT(*) FROM boxes WHERE lang = 'en') AS BIGINT) AS files_part,
        |  CAST((SELECT COUNT(*) FROM boxes, rng
        |        WHERE lang = 'en' AND mx >= rng.lo AND mn <= rng.hi) AS BIGINT)
        |    AS files_scanned,
        |  (SELECT COUNT(*) FROM documents, rng
        |   WHERE lang = 'en' AND doc_id BETWEEN rng.lo AND rng.hi) AS n_rows,
        |  CAST((SELECT COALESCE(SUM(n_chars), 0) FROM documents, rng
        |        WHERE lang = 'en' AND doc_id BETWEEN rng.lo AND rng.hi) AS BIGINT)
        |    AS sum_chars""".stripMargin,

    // Same recompute as tx02's oracle — the catalog must agree with the
    // API surface it mounts.
    "sql01_catalog_time_travel" ->
      """SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 10 <> 0
        |ORDER BY version""".stripMargin,

    // A rejected write must change NOTHING; the valid appends carry
    // every document.
    "tx19_check_constraints" ->
      """SELECT 'n_constraints' AS metric, CAST(1 AS BIGINT) AS value
        |UNION ALL SELECT 'rejected_write', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'rows_changed_by_reject', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'rows_live', (SELECT COUNT(*) FROM documents)
        |ORDER BY metric""".stripMargin,

    // SQL writes: live = the final overwrite (%5=0) plus the last
    // append (%5=2); pre-overwrite = the two first appends (%3 in 0,1).
    "sql04_sql_writes" ->
      """SELECT
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 5 IN (0, 2)) AS rows_live,
        |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents
        |   WHERE doc_id % 5 IN (0, 2)) AS sum_chars_live,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 3 IN (0, 1))
        |    AS rows_pre_overwrite,
        |  CAST(1 AS BIGINT) AS history_ok""".stripMargin,

    // SQL DELETE: NULL predicates keep the row (SQL semantics); each
    // matching delete is one commit with one CDC sidecar, and a
    // no-match delete commits nothing — all data-derived.
    "sql05_sql_delete" ->
      """SELECT
        |  (SELECT COUNT(*) FROM documents
        |   WHERE NOT COALESCE(lang = 'en', FALSE)
        |     AND NOT COALESCE(n_chars >= 200 AND n_chars <= 800, FALSE)) AS rows_live,
        |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents
        |   WHERE NOT COALESCE(lang = 'en', FALSE)
        |     AND NOT COALESCE(n_chars >= 200 AND n_chars <= 800, FALSE)) AS sum_chars_live,
        |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM documents
        |   WHERE NOT COALESCE(lang = 'en', FALSE)
        |     AND NOT COALESCE(n_chars >= 200 AND n_chars <= 800, FALSE)) AS sum_ids_live,
        |  CAST((CASE WHEN EXISTS (SELECT 1 FROM documents
        |          WHERE COALESCE(lang = 'en', FALSE)) THEN 1 ELSE 0 END)
        |     + (CASE WHEN EXISTS (SELECT 1 FROM documents
        |          WHERE NOT COALESCE(lang = 'en', FALSE)
        |            AND COALESCE(n_chars >= 200 AND n_chars <= 800, FALSE))
        |        THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
        |  CAST((CASE WHEN EXISTS (SELECT 1 FROM documents
        |          WHERE COALESCE(lang = 'en', FALSE)) THEN 1 ELSE 0 END)
        |     + (CASE WHEN EXISTS (SELECT 1 FROM documents
        |          WHERE NOT COALESCE(lang = 'en', FALSE)
        |            AND COALESCE(n_chars >= 200 AND n_chars <= 800, FALSE))
        |        THEN 1 ELSE 0 END) AS BIGINT) AS n_cdc_sidecars""".stripMargin,

    // Partitioned SQL insert: one file per partition value, an equality
    // read scans exactly one file's metadata.
    "sql06_sql_partitioned" ->
      """SELECT
        |  (SELECT COUNT(DISTINCT lang) FROM documents) AS files_total,
        |  CAST(1 AS BIGINT) AS files_scanned,
        |  (SELECT COUNT(*) FROM documents WHERE lang = 'en') AS n_rows,
        |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents
        |   WHERE lang = 'en') AS sum_chars""".stripMargin,

    // tx15's bucket arithmetic through the procedure surface (no DVs
    // in this sequence).
    "sql11_sql_cluster_by" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |rng AS (SELECT n // 4 AS lo, n // 2 - 1 AS hi, n FROM span),
        |pre AS (
        |  SELECT doc_id % 4 AS r, MIN(doc_id) AS mn, MAX(doc_id) AS mx
        |  FROM documents GROUP BY 1),
        |boxes AS (
        |  SELECT (doc_id * 8) // rng.n AS b, MIN(doc_id) AS mn, MAX(doc_id) AS mx
        |  FROM documents, rng GROUP BY 1)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM pre, rng
        |        WHERE pre.mx >= rng.lo AND pre.mn <= rng.hi) AS BIGINT)
        |    AS files_before_scanned,
        |  CAST((SELECT COUNT(*) FROM boxes) AS BIGINT) AS files_total,
        |  CAST((SELECT COUNT(*) FROM boxes, rng
        |        WHERE boxes.mx >= rng.lo AND boxes.mn <= rng.hi) AS BIGINT)
        |    AS files_scanned,
        |  (SELECT COUNT(*) FROM documents, rng
        |   WHERE doc_id BETWEEN rng.lo AND rng.hi) AS n_rows,
        |  CAST((SELECT COALESCE(SUM(n_chars), 0) FROM documents, rng
        |        WHERE doc_id BETWEEN rng.lo AND rng.hi) AS BIGINT) AS sum_chars""".stripMargin,

    // The tag pins the evens-only snapshot; latest sees everything.
    "sql10_sql_tags" ->
      """SELECT 'latest' AS ref, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents
        |UNION ALL
        |SELECT 'release', COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 0
        |ORDER BY ref""".stripMargin,

    // Evens predate the column (NULL lang); odds carry it; the pinned
    // pre-evolution arity is (doc_id, n_chars) = 2.
    "sql09_sql_evolution" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0) AS n_nullfilled,
        |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 1 AND lang = 'en') AS sum_chars_en,
        |  CAST(2 AS BIGINT) AS cols_pre_evolution""".stripMargin,

    // Final state recomputed from documents under the NEW column name;
    // the pre-rename schema probe is an engine-side invariant asserted
    // as a literal (VERSION AS OF 0 still answers to n_chars).
    "sql20_rename_column" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars + CASE WHEN doc_id % 5 = 0 THEN 1000 ELSE 0 END)
        |    AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS prerename_schema_kept
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Rows that lived through the drop lost their text (null-filled
    // under the re-added column's fresh physical name); only the
    // post-re-add insert carries text. The pre-drop probe equals the
    // CTAS row count (time travel still serves the dropped values).
    "sql21_drop_column" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 3 <> 0) AS n_nullfilled,
        |  CAST((SELECT COALESCE(SUM(n_chars), 0) FROM documents WHERE doc_id % 3 = 0)
        |    AS BIGINT) AS chars_with_text,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 3 <> 0) AS predrop_text_rows""".stripMargin,

    // Both write eras together hold every document; the mixed-layout
    // invariants (both eras on disk, partition-pruned == full-filter)
    // are engine-side, asserted as a literal.
    "sql22_partition_evolution" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS evolution_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Divergence recomputed from documents: the source lost the MOR'd
    // %10=3 rows and the SQL-deleted %7=1 rows; the clone lost only
    // the %10=3 rows (clone-time state) and doubled down on 'en' docs.
    // files_linked (2 appends x 2 parts) and the one-inode flag are
    // engine-side invariants asserted as literals.
    "sql15_zero_copy_clone" ->
      """SELECT
        |  (SELECT COUNT(*) FROM documents
        |   WHERE doc_id % 10 <> 3 AND doc_id % 7 <> 1) AS src_docs,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
        |   WHERE doc_id % 10 <> 3 AND doc_id % 7 <> 1) AS src_chars,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 <> 3) AS clone_docs,
        |  (SELECT CAST(SUM(n_chars + CASE WHEN lang = 'en' THEN 10000 ELSE 0 END)
        |     AS BIGINT) FROM documents WHERE doc_id % 10 <> 3) AS clone_chars,
        |  CAST(4 AS BIGINT) AS files_linked,
        |  CAST(1 AS BIGINT) AS zero_copy""".stripMargin,

    // The statement sequence recomputed: +500 on the %9=2 merge keys
    // (all matched — the ids exist), x3 on 'de' docs AFTER the merge,
    // then the %17=6 rows delete; the replica-equality flag is the
    // engine-side invariant asserted as a literal.
    "sql14_dml_replication" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    (CASE WHEN doc_id % 9 = 2 THEN n_chars + 500 ELSE n_chars END)
        |      * (CASE WHEN lang = 'de' THEN 3 ELSE 1 END) AS n_chars
        |  FROM documents WHERE doc_id % 17 <> 6)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS replica_matches_source
        |FROM s""".stripMargin,

    // The policy's decisions are engine-side invariants asserted as
    // literals (12 overlapping arrival files -> cluster_by into 4;
    // second call 'none' + reclaims the 12); row content from documents.
    "sql13_auto_maintain" ->
      """SELECT 'cluster_by' AS action1,
        |  CAST(12 AS BIGINT) AS files_before1, CAST(4 AS BIGINT) AS files_after1,
        |  CAST(0 AS BIGINT) AS reclaimed1,
        |  'none' AS action2, CAST(12 AS BIGINT) AS reclaimed2,
        |  (SELECT COUNT(*) FROM documents) AS n_docs,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents) AS sum_chars""".stripMargin,

    // The statement-path recompute in commit order: the %7 keys merge
    // to +1000 and the %31 keys insert shifted above the id span (both
    // from the upsert source), then even en-docs double, then the
    // %13=3 rows delete. The three flags are engine-side invariants
    // (commit sequence, CDC sidecars, statement-vs-procedure equality)
    // asserted as literals.
    "sql12_row_level_dml" ->
      """WITH m AS (SELECT MAX(doc_id) + 1 AS span FROM documents),
        |src AS (
        |  SELECT doc_id, lang, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + m.span, lang, n_chars + 1000
        |  FROM documents, m WHERE doc_id % 31 = 0),
        |merged AS (
        |  SELECT d.doc_id, d.lang, COALESCE(s.n_chars, d.n_chars) AS n_chars
        |  FROM documents d LEFT JOIN src s ON d.doc_id = s.doc_id
        |  UNION ALL
        |  SELECT s.doc_id, s.lang, s.n_chars
        |  FROM src s LEFT JOIN documents d ON s.doc_id = d.doc_id
        |  WHERE d.doc_id IS NULL),
        |updated AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang = 'en' AND doc_id % 2 = 0 THEN n_chars * 2
        |         ELSE n_chars END AS n_chars
        |  FROM merged),
        |final AS (SELECT * FROM updated WHERE doc_id % 13 <> 3)
        |SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS history_ok, CAST(1 AS BIGINT) AS cdc_ok,
        |  CAST(1 AS BIGINT) AS paths_identical
        |FROM final""".stripMargin,

    // The DML recompute in commit order: +1000 on the %7 merge keys,
    // then x2 on even en-docs, then 0 on the %11=5 MOR-merge keys.
    "sql08_sql_dml" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 11 = 5 THEN 0
        |         ELSE (CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END)
        |           * (CASE WHEN lang = 'en' AND doc_id % 2 = 0 THEN 2 ELSE 1 END)
        |    END AS n_chars
        |  FROM documents)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(CASE WHEN n_chars = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeroed,
        |  CAST(1 AS BIGINT) AS history_ok
        |FROM s""".stripMargin,

    // The procedure lifecycle replays the known sequence: compact to 1
    // file, one constraint, restore to the DV state, vacuum reclaiming
    // exactly the dropped single-file rewrite, 5 commits total; live
    // rows are the MOR-deleted residue.
    "sql07_procedures" ->
      """SELECT CAST(1 AS BIGINT) AS files_after_compact,
        |  CAST(1 AS BIGINT) AS files_reclaimed,
        |  CAST(1 AS BIGINT) AS n_constraints,
        |  CAST(5 AS BIGINT) AS n_commits,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 <> 5) AS rows_live,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
        |   WHERE doc_id % 10 <> 5) AS sum_chars""".stripMargin,

    // The metadata tables replay the KNOWN commit sequence: two
    // appends, one merge-on-read delete, one compaction folding the
    // vectors into a single live file.
    "sql03_metadata_tables" ->
      """SELECT 'commits_append' AS metric, CAST(2 AS BIGINT) AS value
        |UNION ALL SELECT 'commits_compact', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'commits_delete-mor', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'dv_files', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'files_live', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'rows_live',
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 <> 7)
        |ORDER BY metric""".stripMargin,

    // v2 = everything minus the MOR-deleted residue; v3 (the restore
    // commit) = the v1 state: evens minus the same residue.
    "tx21_restore" ->
      """SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 10 <> 4
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 <> 4
        |ORDER BY version""".stripMargin,

    // The probe doc's text may be duplicated (the corpus carries exact
    // dups by design); every doc sharing it is found, and the bloom
    // scan reads strictly fewer than all files.
    "blix01_bloom_point_lookup" ->
      """WITH p AS (SELECT md5(text) AS k FROM documents
        |           WHERE doc_id = (SELECT (MAX(doc_id) + 1) // 2 FROM documents)),
        |f AS (SELECT d.doc_id, d.n_chars FROM documents d, p WHERE md5(d.text) = p.k)
        |SELECT COUNT(*) AS n_found,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_found_ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_found_chars,
        |  CAST(8 AS BIGINT) AS files_indexed,
        |  CAST(8 AS BIGINT) AS files_total,
        |  TRUE AS bloom_pruned
        |FROM f""".stripMargin,

    // Incremental maintenance arithmetic (8 seed files, then exactly
    // the 2 appended ones) + the new-row probe replayed on text equality.
    "blix02_bloom_incremental" ->
      """WITH t0 AS (SELECT text FROM documents WHERE doc_id = 0),
        |span AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
        |f AS (SELECT d.doc_id + span.s AS new_id FROM documents d, t0, span
        |      WHERE d.doc_id % 5 = 0 AND d.text = t0.text)
        |SELECT COUNT(*) AS n_found, CAST(SUM(new_id) AS BIGINT) AS sum_found_ids,
        |  CAST(8 AS BIGINT) AS first_indexed, CAST(2 AS BIGINT) AS incr_indexed,
        |  CAST(10 AS BIGINT) AS files_total, TRUE AS bloom_pruned
        |FROM f""".stripMargin,

    // 8 files indexed; 512 absent probes x 8 filters; the measured fpp
    // must sit within 25x the theoretical bound (boolean claim — the
    // exact fired count is deterministic but engine-internal).
    "blix04_bloom_fpp_audit" ->
      """SELECT CAST(8 AS BIGINT) AS files_indexed,
        |  CAST(512 AS BIGINT) AS n_probes,
        |  CAST(4096 AS BIGINT) AS total_tests,
        |  TRUE AS fpp_within_bound""".stripMargin,

    // The cap-saturated file (4000 keys into 8192 bits = 2.04 effective
    // bits/key vs the 16 requested) must measure far above the healthy
    // bound and inside its own degraded (1-e^(-kn/m))^k prediction; the
    // 500-key file stays healthy. All structural numbers closed-form.
    // Both text-index gates share t14's oracle verbatim: the persisted
    // index must reproduce the in-query ranking exactly, built whole
    // (tix01) or incrementally (tix02).
    // The change log is fully deterministic DDL arithmetic: era v0 is
    // the create, the insert re-records the same schema (no era), each
    // ALTER is one era; the renamed column keeps its frozen physical.
    "sql23_schema_metadata_table" ->
      """SELECT version, ordinal, "column", type, physical FROM (VALUES
        |  (CAST(0 AS BIGINT), 0, 'doc_id',  'bigint', 'doc_id'),
        |  (CAST(0 AS BIGINT), 1, 'payload', 'string', 'payload'),
        |  (CAST(2 AS BIGINT), 0, 'doc_id',  'bigint', 'doc_id'),
        |  (CAST(2 AS BIGINT), 1, 'payload', 'string', 'payload'),
        |  (CAST(2 AS BIGINT), 2, 'note',    'string', 'note'),
        |  (CAST(3 AS BIGINT), 0, 'doc_id',  'bigint', 'doc_id'),
        |  (CAST(3 AS BIGINT), 1, 'body',    'string', 'payload'),
        |  (CAST(3 AS BIGINT), 2, 'note',    'string', 'note'),
        |  (CAST(4 AS BIGINT), 0, 'doc_id',  'bigint', 'doc_id'),
        |  (CAST(4 AS BIGINT), 1, 'body',    'string', 'payload'))
        |  AS t(version, ordinal, "column", type, physical)
        |ORDER BY version, ordinal""".stripMargin,

    "tix01_bm25_from_index" -> TextIndexOracle,

    // tix10: the full-scoring ranking over the block-max terms, LIMIT 10;
    // the read-reduction counters recomputed from the corpus itself
    "tix10_maxscore_topk" ->
      TextIndexOracle
        .replace("WHERE w IN ('spark', 'join', 'filter')",
          "WHERE w IN ('dup', 'join', 'filter')")
        .replace("SELECT doc_id, score FROM scored\nORDER BY score DESC, doc_id LIMIT 20",
          """SELECT doc_id, score,
            |  (SELECT CAST(SUM(df) AS BIGINT) FROM df) AS postings_total,
            |  (SELECT CAST(df AS BIGINT) FROM df WHERE w = 'dup') AS postings_essential,
            |  CAST(2 AS BIGINT) AS lists_skipped, FALSE AS fell_back
            |FROM scored ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    // tix11: full scoring recomputed over the marker-extended corpus;
    // the pruning facts ride as literals (files_read stays a live
    // Spark-side claim — the equals/saved booleans are what the oracle
    // can restate soundly across scale factors)
    "tix11_blockmax_topk" ->
      TextIndexOracle
        .replace(
          "WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),",
          "WITH docs AS (SELECT doc_id, string_split(CASE WHEN doc_id < 40 " +
            "THEN text || ' zq7marker zq7marker zq7marker' ELSE text END, ' ') " +
            "AS ws FROM documents),")
        .replace("WHERE w IN ('spark', 'join', 'filter')",
          "WHERE w IN ('zq7marker', 'join', 'filter')")
        .replace("SELECT doc_id, score FROM scored\nORDER BY score DESC, doc_id LIMIT 20",
          """SELECT doc_id, score,
            |  TRUE AS units_pruned, TRUE AS files_saved,
            |  CAST(3 AS BIGINT) AS files_read,
            |  TRUE AS equals_full_scoring, TRUE AS theta_from_dict,
            |  FALSE AS fell_back
            |FROM scored ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    "tix02_incremental_text_index" -> TextIndexOracle,
    "tix03_streaming_text_index" -> TextIndexOracle,
    "sql24_sql_bm25_over_index" -> TextIndexOracle,

    // t14's top-5 joined back to the documents rows — rank from the
    // index, rows from the corpus, one hash.
    "tix04_search_fetch_docs" ->
      (TextIndexOracle.replace("SELECT doc_id, score FROM scored\nORDER BY score DESC, doc_id LIMIT 20",
        """SELECT s.doc_id, d.lang, d.n_chars, s.score
          |FROM (SELECT doc_id, score FROM scored
          |      ORDER BY score DESC, doc_id LIMIT 5) s
          |JOIN documents d ON s.doc_id = d.doc_id
          |ORDER BY s.score DESC, s.doc_id""".stripMargin)),

    // tix05: t14's ranking over the surviving corpus (the %17 residue
    // class deleted); the lifecycle numbers are closed-form — 5
    // clustered file-sets before (1 build + 2 increments, each holding
    // the term), exactly 1 covering file after the re-cluster, DV
    // sidecars folded, every live corpus file in the watermark.
    "tix05_text_index_maintain" ->
      (TextIndexOracle
        .replace("FROM documents),", "FROM documents WHERE doc_id % 17 <> 4),")
        .replace("SELECT doc_id, score FROM scored",
          """SELECT doc_id, score,
            |  CAST(3 AS BIGINT) AS files_per_term_before,
            |  CAST(1 AS BIGINT) AS files_per_term_after,
            |  TRUE AS dvs_folded, TRUE AS watermark_folded
            |FROM scored""".stripMargin)),

    // tix06: t14's ranking over the corpus minus the two deleted
    // residue classes; the live-doc count is data-derived and the
    // rebuild-equivalence claim rides as the literal flag.
    "tix06_cdf_delete_propagation" ->
      (TextIndexOracle
        .replace("FROM documents),",
          "FROM documents WHERE NOT (doc_id % 11 = 3 OR doc_id % 13 = 7)),")
        .replace("SELECT doc_id, score FROM scored",
          """SELECT doc_id, score,
            |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            |   WHERE NOT (doc_id % 11 = 3 OR doc_id % 13 = 7)) AS n_docs_live,
            |  TRUE AS matches_rebuild
            |FROM scored""".stripMargin)),

    // tix07: the conjunctive variant — t14's scoring chain restricted
    // to docs carrying all three query terms.
    "tix07_conjunctive_search" ->
      TextIndexOracle.replace("GROUP BY tf.doc_id)",
        "GROUP BY tf.doc_id\n  HAVING COUNT(*) = 3)"),

    // cont04: cont01's exact semantics through the persisted gram
    // index — one oracle cross-gates the scan and indexed paths.
    "cont04_indexed_decontamination" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))) AS gram
        |  FROM documents)
        |SELECT c.doc_id AS doc_id, COUNT(DISTINCT c.gram) AS n_hit_grams
        |FROM g c JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0) b ON c.gram = b.gram
        |WHERE c.doc_id % 97 <> 0
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin,

    // tix08: every 3-token window equal to the phrase, counted per doc
    "tix08_phrase_search" -> PhraseOracle,

    // tix09: the streamed positional build must serve the identical
    // phrase counts — tix08's oracle verbatim
    "tix09_streaming_positional" -> PhraseOracle,

    // c09: conjunctive BM25 + phrase counts over the corpus that
    // survives the quality gate AND the GDPR deletes; lifecycle
    // invariants as literal flags.
    "c09_retrieval_lifecycle_pipeline" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE NOT (doc_id % 2 = 0 AND n_chars < 150) AND doc_id % 19 <> 3),
        |docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
        |stats AS (
        |  SELECT count(*) AS n,
        |    CAST(SUM(len(ws)) AS DOUBLE) / count(*) AS avgdl
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, w, MAX(dl) AS dl, count(*) AS tf
        |  FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM docs)
        |  WHERE w IN ('spark', 'join', 'filter')
        |  GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |scored AS (
        |  SELECT tf.doc_id,
        |    round(SUM(
        |      ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
        |      CAST(tf.tf AS DOUBLE) /
        |      (CAST(tf.tf AS DOUBLE) +
        |        1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / stats.avgdl))), 6)
        |      AS score
        |  FROM tf JOIN df USING (w) CROSS JOIN stats
        |  GROUP BY tf.doc_id
        |  HAVING COUNT(*) = 3),
        |conj AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 10),
        |ph AS (
        |  SELECT doc_id, COUNT(*) AS n FROM (
        |    SELECT doc_id FROM docs, unnest(range(1, len(ws) - 1)) AS u(i)
        |    WHERE array_to_string(ws[i:i+2], ' ') = 'stream table hash')
        |  GROUP BY doc_id)
        |SELECT c.doc_id, c.score, COALESCE(ph.n, 0) AS phrase_hits,
        |  TRUE AS one_file_seek, TRUE AS dvs_folded
        |FROM conj c LEFT JOIN ph ON c.doc_id = ph.doc_id
        |ORDER BY c.score DESC, c.doc_id""".stripMargin,

    // dq07: both doc sets equal the live corpus exactly; the counts
    // are data-derived, the zeros are the invariant.
    "dq07_index_consistency" ->
      """SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 13 <> 5)
        |    AS corpus_docs,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 13 <> 5)
        |    AS stats_docs,
        |  CAST(0 AS BIGINT) AS postings_stranded,
        |  CAST(0 AS BIGINT) AS docs_unindexed,
        |  CAST(0 AS BIGINT) AS positional_stranded,
        |  CAST(0 AS BIGINT) AS docs_unpositioned""".stripMargin,

    // The surviving corpus's t14 ranking: the quality gate removed the
    // short even-id docs before the second (odd-id) arrival; rename,
    // evolution, and the index build must leave the ranking untouched
    // (their composition invariants ride as the literal flag).
    "c08_curation_search_pipeline" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE NOT (doc_id % 2 = 0 AND n_chars < 150)),
        |docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
        |stats AS (
        |  SELECT count(*) AS n,
        |    CAST(SUM(len(ws)) AS DOUBLE) / count(*) AS avgdl
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, w, MAX(dl) AS dl, count(*) AS tf
        |  FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM docs)
        |  WHERE w IN ('spark', 'join', 'filter')
        |  GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |scored AS (
        |  SELECT tf.doc_id,
        |    round(SUM(
        |      ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
        |      CAST(tf.tf AS DOUBLE) /
        |      (CAST(tf.tf AS DOUBLE) +
        |        1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / stats.avgdl))), 6)
        |      AS score
        |  FROM tf JOIN df USING (w) CROSS JOIN stats
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score, CAST(1 AS BIGINT) AS composed_ok FROM scored
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "blix06_bloom_saturation" ->
      """SELECT * FROM (VALUES
        |  ('saturated', CAST(4000 AS BIGINT), CAST(8192 AS BIGINT),
        |   CAST(204 AS BIGINT), TRUE, TRUE, TRUE),
        |  ('unsaturated', CAST(500 AS BIGINT), CAST(8192 AS BIGINT),
        |   CAST(1638 AS BIGINT), FALSE, TRUE, TRUE))
        |AS t(regime, n_keys, m_bits, eff_bpk_x100, saturated,
        |     above_unsat_iff_saturated, within_degraded_bound)
        |ORDER BY regime""".stripMargin,

    // blix01's probe recompute, served through the SQL catalog's
    // transparently bloom-pruned scan.
    "sql18_bloom_sql_lookup" ->
      """WITH p AS (SELECT md5(text) AS k FROM documents
        |           WHERE doc_id = (SELECT (MAX(doc_id) + 1) // 2 FROM documents))
        |SELECT COUNT(*) AS n_found,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_found_ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_found_chars
        |FROM documents d, p WHERE md5(d.text) = p.k""".stripMargin,

    // 4 seed files indexed by the first CALL, exactly the 2 appended
    // ones by the second; the index covers every row of the table.
    "sql17_bloom_procedure" ->
      """SELECT CAST(4 AS BIGINT) AS first_indexed,
        |  CAST(2 AS BIGINT) AS incr_indexed,
        |  CAST(6 AS BIGINT) AS index_files,
        |  CAST((SELECT COUNT(*) FROM documents)
        |     + (SELECT COUNT(*) FROM documents WHERE doc_id % 5 = 0) AS BIGINT)
        |    AS rows_covered""".stripMargin,

    // Stream-maintained index: 2 seed files indexed up front, 4 more
    // through the tail (6 total); the probe doc's text may be shared
    // with docs in ANY slice — every holder is found.
    "blix03_streaming_bloom" ->
      """WITH t3 AS (SELECT text FROM documents WHERE doc_id = 3),
        |f AS (SELECT d.doc_id FROM documents d, t3 WHERE d.text = t3.text)
        |SELECT COUNT(*) AS n_found, CAST(SUM(doc_id) AS BIGINT) AS sum_found_ids,
        |  CAST(2 AS BIGINT) AS first_indexed, CAST(6 AS BIGINT) AS indexed_total,
        |  CAST(6 AS BIGINT) AS files_total, TRUE AS bloom_pruned
        |FROM f""".stripMargin,

    // Index vacuum: 8 seeded per-file rows, cluster_by to 4 files,
    // maintenance leaves exactly one index row per live file; the
    // probe's dup-text holders all resolve through the vacuumed index.
    "blix05_index_vacuum" ->
      """WITH p AS (SELECT md5(text) AS k FROM documents
        |           WHERE doc_id = (SELECT (MAX(doc_id) + 1) // 2 FROM documents))
        |SELECT COUNT(*) AS n_found,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_found_ids,
        |  CAST(8 AS BIGINT) AS index_rows_seeded,
        |  CAST(4 AS BIGINT) AS index_rows_after,
        |  CAST(4 AS BIGINT) AS files_live,
        |  TRUE AS index_matches_live
        |FROM documents d, p WHERE md5(d.text) = p.k""".stripMargin,

    // tx22's transfer driven through CALL move_where: same recompute,
    // plus the procedure's moved count and per-table versions.
    "sql16_txn_move" ->
      """WITH mv AS (SELECT COUNT(*) AS n, COALESCE(SUM(n_chars), 0) AS c
        |            FROM documents WHERE lang = 'en' AND n_chars < 200),
        |h AS (SELECT COUNT(*) AS n, COALESCE(SUM(n_chars), 0) AS c
        |      FROM documents WHERE lang = 'en' AND n_chars >= 200),
        |cd AS (SELECT COUNT(*) AS n, COALESCE(SUM(n_chars), 0) AS c
        |       FROM documents WHERE lang <> 'en')
        |SELECT CAST(h.n AS BIGINT) AS hot_docs, CAST(h.c AS BIGINT) AS hot_chars,
        |  CAST(cd.n + mv.n AS BIGINT) AS cold_docs,
        |  CAST(cd.c + mv.c AS BIGINT) AS cold_chars,
        |  CAST(mv.n AS BIGINT) AS rows_moved,
        |  CAST(1 AS BIGINT) AS source_version,
        |  CAST(1 AS BIGINT) AS target_version
        |FROM mv, h, cd""".stripMargin,

    // conservation + txn-visibility invariants in closed form: one
    // committed delete-mor on the hot side, one committed append on
    // the cold side, the corpus conserved exactly across both.
    "dq06_txn_conservation" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS total_docs,
        |  CAST((SELECT COALESCE(SUM(n_chars), 0) FROM documents) AS BIGINT)
        |    AS total_chars,
        |  CAST(1 AS BIGINT) AS hot_txns, CAST(1 AS BIGINT) AS cold_txns,
        |  'delete-mor' AS hot_txn_op, 'append' AS cold_txn_op,
        |  'committed' AS hot_outcome, 'committed' AS cold_outcome""".stripMargin,

    // the streaming reconciliation nets to tx23's state; cur = seed +
    // two merge commits (v2), audit = create + two tagged appends (v2);
    // the redelivered run changed nothing.
    // tx26: both snapshots' aggregates recomputed (v0 = everything,
    // live = the surviving residue classes); the protocol claims are
    // the gated literals
    // tx27: both snapshots' aggregates recomputed from the residue
    // classes each version had ingested; the format facts are literals
    "tx27_sharded_checkpoint" ->
      """SELECT
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 12 <= 5) AS v5_docs,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
        |   WHERE doc_id % 12 <= 5) AS v5_chars,
        |  COUNT(*) AS live_docs, CAST(SUM(n_chars) AS BIGINT) AS live_chars,
        |  TRUE AS sharded, TRUE AS feature_declared
        |FROM documents""".stripMargin,

    "tx26_protocol_upgrade" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS v0_docs,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents) AS v0_chars,
        |  COUNT(*) AS live_docs, CAST(SUM(n_chars) AS BIGINT) AS live_chars,
        |  TRUE AS dv_declared, TRUE AS cdf_declared,
        |  TRUE AS v0_protocol_empty, CAST(2 AS BIGINT) AS upgrade_version
        |FROM documents WHERE doc_id % 13 <> 5""".stripMargin,

    // tx25: the surviving rows recomputed from the same synthetic key
    // predicate; files_total = one file per source by construction,
    // files_scanned = the three sources the key range can contain
    "tx25_string_stats_prune" ->
      """SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT source) AS n_sources,
        |  CAST(3 AS BIGINT) AS files_scanned,
        |  (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents) AS files_total
        |FROM documents
        |WHERE concat(source, '_', md5(text)) BETWEEN 'src14' AND 'src17'""".stripMargin,

    "tx24_streaming_reconcile" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
        |upd AS (SELECT doc_id, n_chars + 1000 AS n_chars
        |        FROM documents WHERE doc_id % 10 = 3),
        |ins AS (SELECT d.doc_id + span.s AS doc_id, d.n_chars
        |        FROM documents d, span WHERE d.doc_id % 5 = 0),
        |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |cur AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 <> 3
        |        UNION ALL SELECT * FROM ch)
        |SELECT
        |  (SELECT COUNT(*) FROM cur) AS cur_docs,
        |  CAST((SELECT SUM(n_chars) FROM cur) AS BIGINT) AS cur_chars,
        |  (SELECT COUNT(*) FROM ch) AS audit_docs,
        |  CAST((SELECT SUM(n_chars) FROM ch) AS BIGINT) AS audit_chars,
        |  CAST(2 AS BIGINT) AS cur_version,
        |  CAST(2 AS BIGINT) AS audit_version""".stripMargin,

    // tx23's recompute with the SQL binding's report columns: target
    // advanced to v1 (seed append = v0), audit to v1 (its CREATE TABLE
    // was v0), rows_merged = the changes batch.
    "sql19_merge_audit" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
        |upd AS (SELECT doc_id, n_chars + 1000 AS n_chars
        |        FROM documents WHERE doc_id % 10 = 3),
        |ins AS (SELECT d.doc_id + span.s AS doc_id, d.n_chars
        |        FROM documents d, span WHERE d.doc_id % 5 = 0),
        |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |cur AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 <> 3
        |        UNION ALL SELECT * FROM ch)
        |SELECT
        |  (SELECT COUNT(*) FROM cur) AS cur_docs,
        |  CAST((SELECT SUM(n_chars) FROM cur) AS BIGINT) AS cur_chars,
        |  (SELECT COUNT(*) FROM ch) AS audit_docs,
        |  CAST((SELECT SUM(n_chars) FROM ch) AS BIGINT) AS audit_chars,
        |  CAST(1 AS BIGINT) AS target_version,
        |  CAST(1 AS BIGINT) AS audit_version,
        |  (SELECT COUNT(*) FROM ch) AS rows_merged""".stripMargin,

    // The reconciliation capstone: corrected cohort replaced (+1000
    // chars, 'corrected-' text), insert cohort above the span, audit =
    // the changes batch; maintenance leaves 4 files and one index row
    // per file; the probe finds every holder of the corrected text.
    "c07_reconcile_pipeline" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
        |corr AS (SELECT doc_id, 'corrected-' || text AS text,
        |               n_chars + 1000 AS n_chars
        |         FROM documents WHERE doc_id % 10 = 3),
        |ins AS (SELECT d.doc_id + span.s AS doc_id, d.text, d.n_chars
        |        FROM documents d, span WHERE d.doc_id % 5 = 0),
        |keep AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 10 <> 3),
        |cur AS (SELECT * FROM keep UNION ALL SELECT * FROM corr
        |        UNION ALL SELECT * FROM ins),
        |ch AS (SELECT * FROM corr UNION ALL SELECT * FROM ins),
        |p AS (SELECT text FROM corr WHERE doc_id = (SELECT MIN(doc_id) FROM corr)),
        |f AS (SELECT c.doc_id FROM cur c, p WHERE c.text = p.text)
        |SELECT (SELECT COUNT(*) FROM cur) AS cur_docs,
        |  CAST((SELECT SUM(n_chars) FROM cur) AS BIGINT) AS cur_chars,
        |  (SELECT COUNT(*) FROM ch) AS audit_docs,
        |  CAST((SELECT SUM(n_chars) FROM ch) AS BIGINT) AS audit_chars,
        |  CAST(4 AS BIGINT) AS index_rows,
        |  CAST(4 AS BIGINT) AS files_live,
        |  TRUE AS index_matches_live,
        |  (SELECT COUNT(*) FROM f) AS n_found,
        |  CAST((SELECT SUM(doc_id) FROM f) AS BIGINT) AS sum_found_ids""".stripMargin,

    // The atomic upsert + audit: %10=3 docs replaced with +1000 chars,
    // %5=0 docs re-inserted above the id span; the audit table holds
    // exactly the changes batch. cur advanced to v1 (seed append was
    // v0); audit's txn append IS its v0.
    "tx23_txn_merge" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
        |upd AS (SELECT doc_id, n_chars + 1000 AS n_chars
        |        FROM documents WHERE doc_id % 10 = 3),
        |ins AS (SELECT d.doc_id + span.s AS doc_id, d.n_chars
        |        FROM documents d, span WHERE d.doc_id % 5 = 0),
        |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |cur AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 <> 3
        |        UNION ALL SELECT * FROM ch)
        |SELECT
        |  (SELECT COUNT(*) FROM cur) AS cur_docs,
        |  CAST((SELECT SUM(n_chars) FROM cur) AS BIGINT) AS cur_chars,
        |  (SELECT COUNT(*) FROM ch) AS audit_docs,
        |  CAST((SELECT SUM(n_chars) FROM ch) AS BIGINT) AS audit_chars,
        |  CAST(1 AS BIGINT) AS cur_txn_version,
        |  CAST(0 AS BIGINT) AS audit_txn_version""".stripMargin,

    // The committed transfer: short 'en' docs moved hot -> cold; each
    // table advanced exactly one version (v0 seed append, v1 the txn).
    "tx22_multi_table_txn" ->
      """WITH mv AS (SELECT COUNT(*) AS n, COALESCE(SUM(n_chars), 0) AS c
        |            FROM documents WHERE lang = 'en' AND n_chars < 200),
        |h AS (SELECT COUNT(*) AS n, COALESCE(SUM(n_chars), 0) AS c
        |      FROM documents WHERE lang = 'en' AND n_chars >= 200),
        |cd AS (SELECT COUNT(*) AS n, COALESCE(SUM(n_chars), 0) AS c
        |       FROM documents WHERE lang <> 'en')
        |SELECT CAST(h.n AS BIGINT) AS hot_docs, CAST(h.c AS BIGINT) AS hot_chars,
        |  CAST(cd.n + mv.n AS BIGINT) AS cold_docs,
        |  CAST(cd.c + mv.c AS BIGINT) AS cold_chars,
        |  CAST(1 AS BIGINT) AS hot_txn_version,
        |  CAST(1 AS BIGINT) AS cold_txn_version
        |FROM mv, h, cd""".stripMargin,

    // Same recompute family as tx18, driven through the COW writers:
    // evens, minus the %10=4 COW-deletes, plus odds, with %10=8
    // COW-updated (+1000 chars).
    "tx20_cow_cdf_replication" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(n_chars + CASE WHEN doc_id % 10 = 8 THEN 1000 ELSE 0 END)
        |    AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 10 <> 4""".stripMargin,

    // The replica replays append/MOR-delete/append/MOR-update through
    // the change feed; its state is the oracle's direct recompute.
    "tx18_cdf_replication" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(n_chars + CASE WHEN doc_id % 10 = 8 THEN 1000 ELSE 0 END)
        |    AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 10 <> 4""".stripMargin,

    // Bronze -> silver through the streaming tail + exactly-once
    // writer must equal the batch recompute of the same filter.
    "tx17_medallion" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    // The tail must deliver every appended row exactly once, compaction
    // notwithstanding — a full-table recompute is the oracle.
    "tx16_stream_tail" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin,

    // v1 applies the first deletion vector only; the latest applies the
    // unioned sidecars — the recompute deletes by the same residues.
    "sql02_catalog_dv_read" ->
      """SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 <> 3
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 NOT IN (3, 7)
        |ORDER BY version""".stripMargin,

    // The mod-4 arrival files' footers cover the WHOLE id range (the
    // pre-compaction footers ignore the deletion vectors — stats are
    // write-time), so files_before_scanned replays per-residue min/max;
    // post-compaction boxes cover only the SURVIVING docs.
    "tx15_clustered_compaction" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |rng AS (SELECT n // 4 AS lo, n // 2 - 1 AS hi, n FROM span),
        |pre AS (
        |  SELECT doc_id % 4 AS r, MIN(doc_id) AS mn, MAX(doc_id) AS mx
        |  FROM documents GROUP BY 1),
        |kept AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
        |boxes AS (
        |  SELECT (doc_id * 8) // rng.n AS b, MIN(doc_id) AS mn, MAX(doc_id) AS mx
        |  FROM kept, rng GROUP BY 1)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM pre, rng
        |        WHERE pre.mx >= rng.lo AND pre.mn <= rng.hi) AS BIGINT)
        |    AS files_before_scanned,
        |  CAST((SELECT COUNT(*) FROM boxes) AS BIGINT) AS files_total,
        |  CAST((SELECT COUNT(*) FROM boxes, rng
        |        WHERE boxes.mx >= rng.lo AND boxes.mn <= rng.hi) AS BIGINT)
        |    AS files_scanned,
        |  CAST(0 AS BIGINT) AS dv_after,
        |  (SELECT COUNT(*) FROM kept, rng
        |   WHERE doc_id BETWEEN rng.lo AND rng.hi) AS n_rows,
        |  CAST((SELECT COALESCE(SUM(n_chars), 0) FROM kept, rng
        |        WHERE doc_id BETWEEN rng.lo AND rng.hi) AS BIGINT) AS sum_chars""".stripMargin,

    // Batch recompute of the streamed CDC result. dv_files = the odd
    // upsert file the redaction batch vectored, plus one seed file per
    // equal-width bucket containing a deleted (%10=0, all even) key.
    "tx13_streaming_cdc" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |delbuckets AS (
        |  SELECT COUNT(DISTINCT (doc_id * 8) // n) AS b
        |  FROM documents, span WHERE doc_id % 10 = 0)
        |SELECT CAST(3 AS BIGINT) AS n_batches,
        |  CAST(1 + delbuckets.b AS BIGINT) AS dv_files,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 <> 0) AS n_docs,
        |  CAST((SELECT SUM(CASE WHEN doc_id % 100 = 7 THEN 8 ELSE n_chars END)
        |        FROM documents WHERE doc_id % 10 <> 0) AS BIGINT) AS sum_chars,
        |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 100 = 7) AS BIGINT)
        |    AS n_redacted
        |FROM delbuckets""".stripMargin,

    "tx14_mor_delete_compact" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |touched AS (
        |  SELECT COUNT(DISTINCT (doc_id * 8) // n) AS dvf
        |  FROM documents, span WHERE doc_id % 10 = 0)
        |SELECT CAST(0 AS BIGINT) AS files_rewritten,
        |  CAST(touched.dvf AS BIGINT) AS dv_files,
        |  CAST(1 AS BIGINT) AS files_after_compact,
        |  CAST(0 AS BIGINT) AS dv_after_compact,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 <> 0) AS n_docs,
        |  CAST((SELECT SUM(n_chars) FROM documents WHERE doc_id % 10 <> 0) AS BIGINT)
        |    AS sum_chars
        |FROM touched""".stripMargin,

    // files_scanned replays the FOOTER rule exactly: file b is scanned
    // iff [min(id in b), max(id in b)] intersects [lo, hi] — robust even
    // if the driver ever regenerates doc_id as a sparse key space.
    "tx05_stats_pruning" ->
      """WITH span AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |rng AS (SELECT n // 4 AS lo, n // 2 - 1 AS hi, n FROM span),
        |boxes AS (
        |  SELECT (doc_id * 8) // rng.n AS b, MIN(doc_id) AS mn, MAX(doc_id) AS mx
        |  FROM documents, rng GROUP BY 1)
        |SELECT CAST((SELECT COUNT(*) FROM boxes) AS BIGINT) AS files_total,
        |  CAST((SELECT COUNT(*) FROM boxes, rng
        |        WHERE boxes.mx >= rng.lo AND boxes.mn <= rng.hi) AS BIGINT)
        |    AS files_scanned,
        |  (SELECT COUNT(*) FROM documents, rng
        |   WHERE doc_id BETWEEN rng.lo AND rng.hi) AS n_rows,
        |  CAST((SELECT SUM(n_chars) FROM documents, rng
        |        WHERE doc_id BETWEEN rng.lo AND rng.hi) AS BIGINT) AS sum_chars
        |FROM rng""".stripMargin)
}

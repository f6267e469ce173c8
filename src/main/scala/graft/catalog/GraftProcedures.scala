package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.TxLog

/** Table-MAINTENANCE surface as SQL stored procedures (the Spark 4
  * ProcedureCatalog API — `CALL lake.compact('t')` — the same shape
  * Iceberg ships its maintenance under). Each procedure runs the
  * corresponding TxLog operation and returns a one-row summary as a
  * LocalScan, so maintenance is scriptable from pure SQL alongside the
  * DDL/DML the catalog already serves:
  *
  *  - `compact(table, n_parts)` — rewrite the live set (DVs folded in)
  *  - `vacuum(table, keep_versions, min_age_ms)` — reclaim dead files
  *  - `restore(table, version)` — metadata-only rollback commit
  *  - `set_constraint(table, name, expr)` — CHECK constraint commit
  *  - `merge_into(table, source, key_col, mor)` — upsert a registered
  *    view/table (copy-on-write, or merge-on-read under mor => true)
  *  - `update_where(table, key_col, predicate, set_col, set_expr)` —
  *    arbitrary-predicate UPDATE as a churn-sized COW merge
  *  - `tag(table, name, version)` — named tag ref, one audited commit
  *  - `cluster_by(table, cluster_expr, n_clusters)` — the
  *    OPTIMIZE/Z-ORDER rewrite restoring footer-pruning power
  *  - `maintain(table, max_files, target_files, vacuum_keep,
  *    vacuum_min_age_ms)` — the self-driving hook: reads the log's file
  *    metadata, picks compact / cluster_by / none from file-count and
  *    stats-overlap thresholds, runs it plus a retention vacuum
  *
  * Procedures bind by position or by name (`CALL lake.compact(
  * "table" => 't')` — Spark's BindProcedures handles both).
  */
private[catalog] object GraftProcedures {

  val All: Seq[String] =
    Seq("compact", "vacuum", "restore", "set_constraint", "merge_into", "update_where",
      "tag", "cluster_by", "maintain", "clone", "move_where", "merge_audit",
      "set_partitioning", "text_index",
      "bloom_index", "ann_index", "forget")

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def paramWithDefault(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private abstract class GraftProc(procName: String,
      params: Array[ProcedureParameter], resultSchema: StructType)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft lake maintenance: $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false // commits mutate the log
    protected def run(input: InternalRow): InternalRow
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row = run(input)
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = resultSchema
      }
      java.util.Collections.singletonList(scan).iterator()
    }
  }

  /** Resolve a procedure by identifier against a catalog base dir. */
  def load(base: Path, ident: Identifier): UnboundProcedure = {
    def table(input: InternalRow): Path = tableAt(input, 0)
    def tableAt(input: InternalRow, idx: Int): Path = {
      val t = input.getUTF8String(idx).toString
      // the argument is DATA, not a path: refuse separators/'..' so
      // `CALL lake.vacuum('../x')` cannot address (or destroy) anything
      // outside the catalog base — same fence as GraftCatalog.tableDir
      require(t.nonEmpty && t != "." && t != ".." &&
        !t.contains('/') && !t.contains('\\'),
        s"illegal table name '$t': must be a plain child name of the catalog base")
      val dir = base.resolve(t).normalize()
      require(dir.getParent == base.normalize(),
        s"table name '$t' escapes catalog base $base")
      require(java.nio.file.Files.isDirectory(dir.resolve("_graft_log")),
        s"no TxLog table '$t' under $base")
      dir
    }
    def spark: SparkSession = SparkSession.active

    ident.name() match {
      case "compact" => new GraftProc("compact",
        Array(param("table", StringType),
          paramWithDefault("n_parts", IntegerType, "1")),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val dir = table(input)
          val statsCol = GraftWrites.defaultStatsCol(
            TxLog.readAt(spark, dir).schema)
          InternalRow(TxLog.compact(spark, dir, statsCol, math.max(1, input.getInt(1))))
        }
      }
      case "vacuum" => new GraftProc("vacuum",
        Array(param("table", StringType),
          paramWithDefault("keep_versions", IntegerType, "1"),
          paramWithDefault("min_age_ms", LongType, "86400000")),
        StructType(Seq(StructField("files_reclaimed", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow =
          InternalRow(TxLog.vacuum(table(input),
            keepVersions = math.max(1, input.getInt(1)),
            minAgeMs = input.getLong(2)).size.toLong)
      }
      case "restore" => new GraftProc("restore",
        Array(param("table", StringType), param("version", LongType)),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow =
          InternalRow(TxLog.restore(spark, table(input), input.getLong(1)))
      }
      case "set_constraint" => new GraftProc("set_constraint",
        Array(param("table", StringType), param("name", StringType),
          param("expr", StringType)),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow =
          InternalRow(TxLog.setConstraint(spark, table(input),
            input.getUTF8String(1).toString, input.getUTF8String(2).toString))
      }
      // the DML pair SQL's filter-based DSv2 cannot express: MERGE
      // (upsert from any registered view/table) and UPDATE (arbitrary
      // predicate + SET expression). Both run the copy-on-write merge —
      // only files whose stats range can contain an affected key
      // rewrite — or the merge-on-read form under mor => true (zero
      // files rewritten, deletion-vector sidecars; the Delta/Iceberg
      // split). The source argument is a table/view NAME resolved
      // through the session catalog, so `CALL lake.merge_into('t',
      // 'updates_view', 'doc_id')` composes with temp views, other
      // catalogs, or lake tables themselves.
      case "merge_into" => new GraftProc("merge_into",
        Array(param("table", StringType), param("source", StringType),
          param("key_col", StringType),
          paramWithDefault("mor", BooleanType, "false")),
        StructType(Seq(StructField("version", LongType, nullable = false),
          StructField("files_rewritten", LongType, nullable = false),
          StructField("dv_files", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val dir = table(input)
          val src = spark.table(input.getUTF8String(1).toString)
          val keyCol = input.getUTF8String(2).toString
          val statsCol = GraftWrites.defaultStatsCol(TxLog.readAt(spark, dir).schema)
          if (input.getBoolean(3)) {
            val (v, rw, dv, _) = TxLog.mergeMor(spark, dir, src, keyCol, statsCol)
            InternalRow(v, rw.toLong, dv.toLong)
          } else {
            val (v, rw, _) = TxLog.mergeCow(spark, dir, src, keyCol, statsCol)
            InternalRow(v, rw.toLong, 0L)
          }
        }
      }
      // the ATOMIC TRANSFER from SQL: matching rows leave `source` and
      // land in `target` in ONE multi-table transaction (TxLog.transact,
      // commit-marker 2PC) — readers can never observe the rows in both
      // tables or neither. The moved set materializes ONCE
      // (localCheckpoint) so the delete keys and the appended rows are
      // the same row set by construction.
      case "move_where" => new GraftProc("move_where",
        Array(param("source", StringType), param("target", StringType),
          param("key_col", StringType), param("predicate", StringType)),
        StructType(Seq(
          StructField("source_version", LongType, nullable = false),
          StructField("target_version", LongType, nullable = false),
          StructField("rows_moved", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val src = table(input)
          val dst = tableAt(input, 1)
          require(src != dst, "move_where: source and target must differ")
          val keyCol = input.getUTF8String(2).toString
          val pred = org.apache.spark.sql.functions.expr(
            input.getUTF8String(3).toString)
          val statsCol = GraftWrites.defaultStatsCol(TxLog.readAt(spark, dst).schema)
          val moving = TxLog.readAt(spark, src)
            .filter(org.apache.spark.sql.functions.coalesce(pred,
              org.apache.spark.sql.functions.lit(false)))
            .localCheckpoint(true)
          val n = moving.count()
          if (n == 0L)
            InternalRow(TxLog.latestVersion(src), TxLog.latestVersion(dst), 0L)
          else {
            val vs = TxLog.transact(spark, Seq(
              TxLog.TxnDeleteMor(src, moving.select(keyCol), keyCol),
              TxLog.TxnAppend(dst, moving, statsCol)))
            InternalRow(vs(src), vs(dst), n)
          }
        }
      }
      // the ATOMIC UPSERT + AUDIT from SQL: the SCD reconciliation
      // shape (TxLog.TxnMerge) — the source view MERGES into `target`
      // (existing keys replaced merge-on-read, new keys inserted) and
      // the SAME batch appends to `audit`, one multi-table transaction:
      // a reader can never see the correction applied but unlogged, or
      // logged but unapplied. The source materializes ONCE
      // (localCheckpoint) so the merged and audited rows are the same
      // row set by construction.
      case "merge_audit" => new GraftProc("merge_audit",
        Array(param("target", StringType), param("audit", StringType),
          param("source", StringType), param("key_col", StringType)),
        StructType(Seq(
          StructField("target_version", LongType, nullable = false),
          StructField("audit_version", LongType, nullable = false),
          StructField("rows_merged", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val tgt = table(input)
          val aud = tableAt(input, 1)
          require(tgt != aud, "merge_audit: target and audit must differ")
          val src = spark.table(input.getUTF8String(2).toString)
            .localCheckpoint(true)
          val keyCol = input.getUTF8String(3).toString
          val statsCol = GraftWrites.defaultStatsCol(TxLog.readAt(spark, tgt).schema)
          val n = src.count()
          if (n == 0L)
            InternalRow(TxLog.latestVersion(tgt), TxLog.latestVersion(aud), 0L)
          else {
            val vs = TxLog.transact(spark, Seq(
              TxLog.TxnMerge(tgt, src, keyCol, statsCol),
              TxLog.TxnAppend(aud, src, statsCol)))
            InternalRow(vs(tgt), vs(aud), n)
          }
        }
      }
      // bloom-index maintenance from SQL: the index lands as a SIBLING
      // CATALOG TABLE `<table>_bloom_<column>` (queryable like any
      // other — one row per indexed data file), created on first call
      // and incrementally extended on every later one (diff-based, so
      // re-calls after appends index only the new files).
      // PERSISTED INVERTED TEXT INDEX from SQL: `CALL <cat>.text_index
      // ('t', 'text')` materializes/refreshes the postings as the
      // sibling catalog table `t_text_ix` (its corpus statistics as the
      // `t_text_ix$props` metadata table, its watermark in its log) —
      // ordinary SQL relations, so BM25 is computable in PURE SQL over
      // them (sql24 proves it reproduces t14's ranking).
      case "text_index" => new GraftProc("text_index",
        Array(param("table", StringType), param("column", StringType)),
        StructType(Seq(
          StructField("index_table", StringType, nullable = false),
          StructField("docs_indexed", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val dir = table(input)
          val colName = input.getUTF8String(1).toString
          require(colName.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"illegal column name '$colName'")
          require(TxLog.tableSchema(dir).exists(_.fieldNames.contains(colName)),
            s"no column '$colName' in table ${dir.getFileName}")
          val ixName = s"${dir.getFileName}_text_ix"
          val ix = dir.getParent.resolve(ixName)
          val n = graft.ops.TextIndex.ensureIndexed(spark, dir, ix, textCol = colName)
          InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(ixName), n)
        }
      }
      // PERSISTED ANN (IVF) INDEX from SQL: `CALL <cat>.ann_index('t',
      // 'vec_id', 'embedding')` materializes/refreshes the sibling
      // `t_ann_ix` (assignments, one file per inverted list) +
      // `t_ann_ix_cent` (the trained coarse quantizer) — ordinary
      // catalog relations, versioned like everything else. First call
      // trains; later calls assign new corpus files incrementally.
      case "ann_index" => new GraftProc("ann_index",
        Array(param("table", StringType), param("id_column", StringType),
          param("emb_column", StringType),
          // pq => true ALSO builds/refreshes the IVFADC codes sibling
          // (`<t>_ann_ix_codes` + codebook; the codes log carries its
          // binding and watermark) —
          // the knn06 four-table layout under the sibling convention,
          // so CALL maintain and CALL forget reach it automatically
          paramWithDefault("pq", BooleanType, "false")),
        StructType(Seq(
          StructField("index_table", StringType, nullable = false),
          StructField("vecs_indexed", LongType, nullable = false),
          StructField("vecs_coded", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val dir = table(input)
          val idCol = input.getUTF8String(1).toString
          val embCol = input.getUTF8String(2).toString
          Seq(idCol, embCol).foreach(c => require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"illegal column name '$c'"))
          Seq(idCol, embCol).foreach(c =>
            require(TxLog.tableSchema(dir).exists(_.fieldNames.contains(c)),
              s"no column '$c' in table ${dir.getFileName}"))
          val ixName = s"${dir.getFileName}_ann_ix"
          val ix = dir.getParent.resolve(ixName)
          val n = graft.ops.AnnIndex.ensureIndexed(spark, dir, ix,
            idCol = idCol, embCol = embCol)
          val coded =
            if (!input.getBoolean(3)) 0L
            else graft.ops.AnnIndex.ensurePq(spark, dir, ix, idCol, embCol)
          InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(ixName),
            n, coded)
        }
      }
      // ATOMIC GDPR ERASURE: `CALL <cat>.forget('t', 'id', 'id % 9 = 8')`
      // merge-on-read-deletes the matching keys from the table AND every
      // keyed index sibling (text/positional/ANN/PQ-codes) in ONE
      // multi-table transaction — no reader snapshot can see an index
      // naming keys the corpus has erased (graft.ops.Forget).
      case "forget" => new GraftProc("forget",
        Array(param("table", StringType), param("key_col", StringType),
          param("predicate", StringType)),
        StructType(Seq(
          StructField("keys_forgotten", LongType, nullable = false),
          StructField("tables_touched", LongType, nullable = false),
          StructField("corpus_version", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val dir = table(input)
          val keyCol = input.getUTF8String(1).toString
          require(keyCol.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"illegal column name '$keyCol'")
          require(TxLog.tableSchema(dir).exists(_.fieldNames.contains(keyCol)),
            s"no column '$keyCol' in table ${dir.getFileName}")
          val pred = org.apache.spark.sql.functions.expr(
            input.getUTF8String(2).toString)
          val keys = TxLog.readAt(spark, dir).filter(pred).select(keyCol)
          val rep = graft.ops.Forget.forget(spark, base,
            dir.getFileName.toString, keys, keyCol)
          InternalRow(rep.keysForgotten, rep.participants.size.toLong + 1L,
            rep.corpusVersion)
        }
      }
      case "bloom_index" => new GraftProc("bloom_index",
        Array(param("table", StringType), param("column", StringType)),
        StructType(Seq(
          StructField("index_table", StringType, nullable = false),
          StructField("files_indexed", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val dir = table(input)
          val colName = input.getUTF8String(1).toString
          require(colName.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"illegal column name '$colName'")
          require(TxLog.tableSchema(dir).exists(_.fieldNames.contains(colName)),
            s"no column '$colName' in table ${dir.getFileName}")
          val ixName = s"${dir.getFileName}_bloom_$colName"
          val ix = dir.getParent.resolve(ixName)
          val n = graft.ops.BloomIndex.ensureIndexed(spark, dir, ix, colName)
          InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(ixName),
            n.toLong)
        }
      }
      case "update_where" => new GraftProc("update_where",
        Array(param("table", StringType), param("key_col", StringType),
          param("predicate", StringType), param("set_col", StringType),
          param("set_expr", StringType)),
        StructType(Seq(StructField("version", LongType, nullable = false),
          StructField("rows_updated", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val dir = table(input)
          val keyCol = input.getUTF8String(1).toString
          val pred = org.apache.spark.sql.functions.expr(
            input.getUTF8String(2).toString)
          val setCol = input.getUTF8String(3).toString
          // mutating the merge key would leave the OLD-keyed rows in
          // place and insert the new ones — duplication, not an update
          require(setCol != keyCol,
            s"update_where cannot assign the key column '$keyCol' itself; " +
            "delete + insert for key rewrites")
          val setExpr = org.apache.spark.sql.functions.expr(
            input.getUTF8String(4).toString)
          val statsCol = GraftWrites.defaultStatsCol(TxLog.readAt(spark, dir).schema)
          // the update delta: matching rows with the assignment applied —
          // churn-sized by contract, rewritten into the table by key.
          // MATERIALIZED ONCE (localCheckpoint) before both the count and
          // the merge: re-evaluating the plan twice would let a
          // nondeterministic predicate/SET expression (or a concurrent
          // commit between the two runs) merge a different row set than
          // the one reported — the same re-evaluation hazard constraints
          // solve by validating the staged bytes.
          val updates = TxLog.readAt(spark, dir)
            .filter(org.apache.spark.sql.functions.coalesce(pred,
              org.apache.spark.sql.functions.lit(false)))
            .withColumn(setCol, setExpr)
            .localCheckpoint(true)
          val n = updates.count()
          if (n == 0L) InternalRow(TxLog.latestVersion(dir), 0L)
          else {
            val (v, _, _) = TxLog.mergeCow(spark, dir, updates, keyCol, statsCol)
            InternalRow(v, n)
          }
        }
      }
      // the OPTIMIZE/Z-ORDER maintenance shape from SQL: one
      // distributed rewrite of the live set (deletion vectors folded
      // in) into one file per cluster of the given expression — a
      // range- or Morton-derived cluster key restores footer-pruning
      // power to an arrival-order table (tx08/tx15's math)
      case "cluster_by" => new GraftProc("cluster_by",
        Array(param("table", StringType), param("cluster_expr", StringType),
          paramWithDefault("n_clusters", IntegerType, "8")),
        StructType(Seq(StructField("version", LongType, nullable = false),
          StructField("files_total", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val dir = table(input)
          val statsCol = GraftWrites.defaultStatsCol(TxLog.readAt(spark, dir).schema)
          val v = TxLog.compactClustered(spark, dir, statsCol,
            org.apache.spark.sql.functions.expr(input.getUTF8String(1).toString),
            math.max(1, input.getInt(2)))
          InternalRow(v, TxLog.snapshotAt(dir).files.size.toLong)
        }
      }
      // the SELF-DRIVING-TABLE hook: one call reads the log's file
      // metadata, DECIDES the maintenance, and commits it —
      //   - more live files than max_files AND overlapping stats ranges
      //     (>= 30% of adjacent sorted ranges intersect on the
      //     designated column => footer pruning is degraded) =>
      //     cluster_by into target_files range-disjoint files;
      //   - too many files but already-disjoint ranges (or no usable
      //     stats) => plain compact into target_files;
      //   - otherwise no rewrite ('none');
      // then a vacuum pass under the given retention reclaims dead
      // files either way. Every decision input is O(files) log
      // metadata — no data is read to decide — and the chosen action
      // is the same audited commit the explicit procedures make.
      case "maintain" => new GraftProc("maintain",
        Array(param("table", StringType),
          paramWithDefault("max_files", IntegerType, "8"),
          paramWithDefault("target_files", IntegerType, "4"),
          paramWithDefault("vacuum_keep", IntegerType, "1"),
          paramWithDefault("vacuum_min_age_ms", LongType, "86400000")),
        StructType(Seq(
          StructField("action", StringType, nullable = false),
          StructField("files_before", LongType, nullable = false),
          StructField("files_after", LongType, nullable = false),
          StructField("files_reclaimed", LongType, nullable = false),
          StructField("version", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val dir = table(input)
          val maxFiles = math.max(1, input.getInt(1))
          val target = math.max(1, input.getInt(2))
          val snap = TxLog.snapshotAt(dir)
          val before = snap.files.size
          val statsCol = GraftWrites.defaultStatsCol(TxLog.readAt(spark, dir).schema)
          // merge-on-read debt: every read of a DV'd file pays the
          // anti-join; once a quarter of the live set carries vectors,
          // folding them beats the read tax even under the file cap
          val dvFrac =
            if (before == 0) 0.0
            else snap.files.count(_.dv.isDefined).toDouble / before
          val action =
            if (before <= maxFiles && dvFrac >= 0.25) {
              TxLog.compact(spark, dir, statsCol, nParts = math.min(before, target)): Unit
              "compact"
            } else if (before <= maxFiles) "none"
            else {
              val sorted = snap.files.sortBy(f => (f.minKey, f.maxKey))
              val statsUsable = sorted.forall(f =>
                f.minKey != Long.MinValue && f.maxKey != Long.MaxValue)
              val overlaps =
                if (!statsUsable) 0
                else sorted.sliding(2).count {
                  case Seq(a, b) => b.minKey <= a.maxKey
                  case _ => false
                }
              if (statsUsable && before > 1 &&
                  overlaps.toDouble >= 0.3 * (before - 1)) {
                val span = math.max(1L, sorted.map(_.maxKey).max + 1L)
                TxLog.compactClustered(spark, dir, statsCol,
                  org.apache.spark.sql.functions.expr(
                    s"(`$statsCol` * $target) div ${span}L"), target): Unit
                "cluster_by"
              } else {
                TxLog.compact(spark, dir, statsCol, nParts = target): Unit
                "compact"
              }
            }
          val reclaimed = TxLog.vacuum(dir,
            keepVersions = math.max(1, input.getInt(3)),
            minAgeMs = input.getLong(4)).size.toLong
          // derived-artifact upkeep: sibling bloom indexes
          // (<table>_bloom_<col>, the CALL bloom_index convention) are
          // refreshed so a compact/cluster_by rewrite doesn't leave the
          // new files unindexed (lookups stay correct either way —
          // unindexed files are conservatively scanned — this restores
          // their pruning power as part of the same maintenance pass)
          val prefix = s"${dir.getFileName}_bloom_"
          val siblings = Files.list(base)
          try {
            import scala.jdk.CollectionConverters._
            siblings.iterator().asScala
              .filter(p => p.getFileName.toString.startsWith(prefix) &&
                Files.isDirectory(p.resolve("_graft_log")))
              .foreach { ix =>
                val colName = ix.getFileName.toString.drop(prefix.length)
                graft.ops.BloomIndex.ensureIndexed(spark, dir, ix, colName): Unit
                // ...and the dead-row tail for compacted-away files is
                // dropped in the same pass, so the index stays
                // file-count-sized instead of history-sized
                graft.ops.BloomIndex.pruneStale(spark, dir, ix): Unit
              }
          } finally siblings.close()
          // ...and the text-index sibling (<table>_text_ix, the CALL
          // text_index convention): new corpus files get indexed (the
          // index's properties carry the id/text binding), then the
          // postings re-cluster into range-disjoint term_hash files with
          // DV sidecars folded in — without this, a long-lived index pays
          // one file per increment per term lookup (TextIndex.maintain)
          // ...but only when the index is self-describing: a legacy
          // index without the binding is SKIPPED (maintaining it under
          // guessed columns would corrupt postings — the owner records
          // the binding via ensureIndexed first)
          val tix = base.resolve(s"${dir.getFileName}_text_ix")
          if (Files.isDirectory(tix.resolve("_graft_log")) &&
              graft.ops.TextIndex.hasBinding(tix))
            graft.ops.TextIndex.maintain(spark, dir, tix,
              vacuumKeep = math.max(1, input.getInt(3)),
              vacuumMinAgeMs = input.getLong(4)): Unit
          // ...and the ANN sibling (<table>_ann_ix, the CALL ann_index
          // convention) gets the same cure: new corpus files assigned,
          // assignments re-clustered to one file per inverted list with
          // DV sidecars folded — without this a long-lived index pays
          // one file per increment per probed list (AnnIndex.maintain).
          // Same legacy fence: no binding → skipped, never guessed.
          val aix = base.resolve(s"${dir.getFileName}_ann_ix")
          if (Files.isDirectory(aix.resolve("_graft_log")) &&
              graft.ops.AnnIndex.hasBinding(aix))
            graft.ops.AnnIndex.maintain(spark, dir, aix,
              vacuumKeep = math.max(1, input.getInt(3)),
              vacuumMinAgeMs = input.getLong(4)): Unit
          InternalRow(UTF8String.fromString(action), before.toLong,
            TxLog.snapshotAt(dir).files.size.toLong, reclaimed,
            TxLog.latestVersion(dir))
        }
      }
      // zero-copy CLONE: the target's v0 hardlinks the source
      // snapshot's live files (TxLog.cloneTable — no bytes move), then
      // the two tables diverge independently. The target name takes
      // the same path fence as every other argument.
      case "clone" => new GraftProc("clone",
        Array(param("table", StringType), param("target", StringType)),
        StructType(Seq(StructField("version", LongType, nullable = false),
          StructField("files_linked", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val srcDir = table(input)
          val t = input.getUTF8String(1).toString
          require(t.nonEmpty && t != "." && t != ".." &&
            !t.contains('/') && !t.contains('\\'),
            s"illegal clone target '$t': must be a plain child name of the catalog base")
          val dst = base.resolve(t).normalize()
          require(dst.getParent == base.normalize(),
            s"clone target '$t' escapes catalog base $base")
          val v = TxLog.cloneTable(spark, srcDir, dst)
          InternalRow(v, TxLog.snapshotAt(dst).files.size.toLong)
        }
      }
      case "tag" => new GraftProc("tag",
        Array(param("table", StringType), param("name", StringType),
          param("version", LongType)),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow =
          InternalRow(TxLog.setTag(table(input),
            input.getUTF8String(1).toString, input.getLong(2)))
      }
      // PARTITION EVOLUTION: `CALL <cat>.set_partitioning('t', 'a,b')`
      // re-declares the identity partition columns future writes lay
      // data out by — one metadata commit, no file rewritten; '' (empty)
      // un-partitions future writes. Old files prune conservatively.
      case "set_partitioning" => new GraftProc("set_partitioning",
        Array(param("table", StringType), param("columns", StringType)),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val cols = input.getUTF8String(1).toString.split(",")
            .map(_.trim).filter(_.nonEmpty).toSeq
          InternalRow(TxLog.setPartitioning(table(input), cols))
        }
      }
      case other => throw new IllegalArgumentException(
        s"unknown procedure '$other' (have: ${All.mkString(", ")})")
    }
  }
}

package graft.catalog

import java.nio.file.Path
import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.TxLog

/** Catalog stand-in for a snapshot whose files carry merge-on-read
  * deletion vectors. A bare parquet scan cannot serve it (deleted rows
  * would resurface), so the catalog returns this schema-only table and
  * [[ResolveDvSnapshots]] — an analyzer rule registered through
  * [[graft.GraftExtensions]] — swaps the relation for the DV-applying logical
  * plan ([[TxLog.readAt]]: per-file broadcast anti-joins over the
  * churn-sized sidecar keys) before any scan is planned. Catalyst then
  * optimizes THAT plan as usual: user predicates and column pruning
  * flow through the anti-join to the underlying parquet scans, so the
  * SQL surface pays exactly what the API surface pays.
  *
  * If the extension is not registered the first read fails with an
  * instructive error instead of wrong results.
  */
private[catalog] case class GraftDvTable(
    tableName: String, dir: Path, snapVersion: Long, tableSchema: StructType)
  extends SupportsRead with TxLogWriteSupport {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override protected def pinnedSnapVersion: Option[Long] = Some(snapVersion)
  override def capabilities(): java.util.Set[TableCapability] = {
    val s = new java.util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.BATCH_WRITE) // row-level rewrites are real V2 writes
    s.add(TableCapability.TRUNCATE)
    s
  }

  /** LAZY refusal: the optimizer's V2ScanRelationPushDown instantiates
    * a builder for EVERY relation in the plan — including the bare
    * target of a DELETE command, which never builds a scan (the delete
    * executes through [[TxLogWriteSupport.deleteWhere]], itself
    * DV-aware). Only actually BUILDING a scan — a read that would
    * resurrect deleted rows — throws.
    *
    * EXCEPTION: a projection requesting the `_graft_file` group-id
    * column is the runtime group-filtering subquery of a row-level DML
    * rewrite (built in the OPTIMIZER, after ResolveDvSnapshots can
    * rewrite anything) — served by the DV-aware [[GraftRowLevelScan]]. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var wantsFile = false
      private var requested: StructType = tableSchema
      private var kept: Vector[graft.ops.TxLog.AddFile] =
        TxLog.snapshotAt(dir, Some(snapVersion)).files

      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        kept = kept.filter(f => filters.forall(GraftRowLevel.mayMatch(f, _,
          graft.ops.ColumnMapping.physicalOf(tableSchema, _))))
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      override def pruneColumns(s: StructType): Unit = {
        wantsFile = s.fieldNames.contains(GraftRowLevel.FileCol)
        requested = s
      }
      override def build(): org.apache.spark.sql.connector.read.Scan =
        if (wantsFile) new GraftRowLevelScan(dir, tableSchema, requested, kept)
        else throw new UnsupportedOperationException(
          s"$tableName@v$snapVersion carries merge-on-read deletion vectors; add " +
          "graft.GraftExtensions to spark.sql.extensions (or compact " +
          "the table / read via TxLog.readAt) to serve it")
    }
}

/** Iceberg-style METADATA TABLE of a TxLog table — `` lake.`t$history` ``
  * and `` lake.`t$files` `` are first-class SQL relations. Like
  * [[GraftDvTable]] it is schema-only; the analyzer rule materializes
  * the rows (log metadata — O(commits)/O(files), never data) as a
  * LocalRelation at analysis time. */
private[catalog] case class GraftMetaTable(
    tableName: String, dir: Path, kind: String, tableSchema: StructType)
  extends SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Collections.singleton(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new UnsupportedOperationException(
      s"$tableName is a TxLog metadata table; add graft.GraftExtensions to " +
      "spark.sql.extensions to serve it")
}

private[catalog] object GraftMetaTable {
  import org.apache.spark.sql.types._

  val HistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("n_adds", LongType, nullable = false),
    StructField("n_removes", LongType, nullable = false)))

  val FilesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("min_key", LongType, nullable = false),
    StructField("max_key", LongType, nullable = false),
    StructField("has_dv", BooleanType, nullable = false)))

  val TagsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  /** `` t$props ``: the table properties in force at the head. */
  val PropsSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  val TxnsSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("outcome", StringType, nullable = false),
    StructField("marker", StringType, nullable = false)))

  /** `` t$schema ``: the schema-change LOG — one row per column per
    * schema ERA (versions whose recorded schema differs from the
    * previous recording), with the column-mapping physical name so
    * renames are auditable from SQL. */
  val SchemaSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("ordinal", IntegerType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("physical", StringType, nullable = false)))

  def schemaFor(kind: String): StructType = kind match {
    case "history" => HistorySchema
    case "files" => FilesSchema
    case "tags" => TagsSchema
    case "props" => PropsSchema
    case "txns" => TxnsSchema
    case "schema" => SchemaSchema
    case other => throw new IllegalArgumentException(
      s"unknown metadata table '$$$other' " +
      "(have: $history, $files, $tags, $props, $txns, $schema)")
  }

  /** The rows, computed from log metadata only. */
  def rows(t: GraftMetaTable): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    t.kind match {
      case "history" =>
        TxLog.history(t.dir).map { case (v, op, na, nr) =>
          InternalRow(v, UTF8String.fromString(op), na, nr)
        }
      case "files" =>
        TxLog.snapshotAt(t.dir).files.sortBy(_.path).map { f =>
          InternalRow(UTF8String.fromString(f.path), f.rows, f.minKey, f.maxKey,
            f.dv.isDefined)
        }
      case "tags" =>
        TxLog.tags(t.dir).toSeq.sortBy(_._1).map { case (n, v) =>
          InternalRow(UTF8String.fromString(n), v)
        }
      case "props" =>
        TxLog.propsAt(t.dir).toSeq.sortBy(_._1).map { case (k, v) =>
          InternalRow(UTF8String.fromString(k), UTF8String.fromString(v))
        }
      case "txns" =>
        TxLog.txnCommits(t.dir).map { case (v, op, marker, outcome) =>
          InternalRow(v, UTF8String.fromString(op),
            UTF8String.fromString(outcome), UTF8String.fromString(marker))
        }
      case "schema" =>
        TxLog.schemaHistory(t.dir).flatMap { case (v, s) =>
          s.fields.zipWithIndex.map { case (f, i) =>
            InternalRow(v, i, UTF8String.fromString(f.name),
              UTF8String.fromString(f.dataType.catalogString),
              UTF8String.fromString(graft.ops.ColumnMapping.physical(f)))
          }
        }
    }
  }
}

/** Rewrites the catalog's schema-only stand-in tables into real plans,
  * preserving each relation's output attribute ids so every
  * already-resolved reference upstream keeps binding. Runs at analysis
  * time — before capability checks build scans:
  *
  *  - [[GraftDvTable]] (a snapshot carrying deletion vectors) becomes
  *    TxLog.readAt's merge-on-read plan, so `SELECT ... FROM lake.t
  *    [VERSION AS OF v]` is transparent SQL with pushdown intact;
  *  - [[GraftMetaTable]] (`$history`/`$files`) becomes a LocalRelation
  *    of log metadata rows.
  *
  * Versions were pinned when the catalog resolved the table, so the
  * rewrite is deterministic under concurrent commits. */
case class ResolveDvSnapshots(spark: SparkSession) extends Rule[LogicalPlan] {
  private def ready(p: LogicalPlan): Boolean =
    p.resolved && !p.exists(n => n.missingInput.nonEmpty)

  private def rewriteReads(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftDvTable] =>
      val t = r.table.asInstanceOf[GraftDvTable]
      // a relation extended with the `_graft_file` metadata column
      // (AddMetadataColumns ran because the query referenced it) is
      // served by the TAGGED read — the serving-file name computed at
      // the scan, before the DV anti-join
      val wantsFile = r.output.exists(_.name == GraftRowLevel.FileCol)
      val resolved = TxLog.readAt(spark, t.dir, Some(t.snapVersion),
          fileCol = if (wantsFile) Some(GraftRowLevel.FileCol) else None)
        .queryExecution.analyzed
      require(resolved.output.length == r.output.length,
        s"DV snapshot plan arity ${resolved.output.length} != relation ${r.output.length}")
      Project(r.output.zip(resolved.output).map { case (o, a) =>
        Alias(a, o.name)(exprId = o.exprId)
      }, resolved)
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftMetaTable] =>
      val t = r.table.asInstanceOf[GraftMetaTable]
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        r.output, GraftMetaTable.rows(t))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // a write/delete command's TARGET must stay the raw catalog
    // relation (the V2 planner matches on it to build the write exec);
    // only the command's READ side (its source query) is rewritten —
    // the write path itself is DV-safe (appends never resurrect rows;
    // TxLog.deleteWhere scans DV-aware)
    case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable if d.resolved =>
      // a DV-table DELETE is converted to the filter form HERE: the
      // optimizer's scan-pushdown would otherwise try to BUILD a scan
      // of the stand-in relation (Spark builds one for every relation,
      // even pure delete targets). Same conversion Spark's
      // OptimizeMetadataOnlyDeleteFromTable performs, done early.
      org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(d.table) match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftDvTable] =>
          import org.apache.spark.sql.catalyst.expressions.{And => CAnd}
          def split(e: org.apache.spark.sql.catalyst.expressions.Expression):
              Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
            case CAnd(l, rr) => split(l) ++ split(rr)
            case other => Seq(other)
          }
          // constant folding hasn't run at analysis time — collapse
          // foldable subtrees (CAST literals etc.) so translation sees
          // plain literals, exactly what the optimizer would produce
          def fold(e: org.apache.spark.sql.catalyst.expressions.Expression) =
            e.transformUp {
              case f if f.foldable &&
                  !f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
                org.apache.spark.sql.catalyst.expressions.Literal
                  .create(f.eval(org.apache.spark.sql.catalyst.InternalRow.empty), f.dataType)
            }
          val translated = split(d.condition).map(fold)
            .map(org.apache.spark.sql.graft.StreamingShims.translateFilter)
          if (translated.forall(_.isDefined))
            org.apache.spark.sql.catalyst.plans.logical.DeleteFromTableWithFilters(r,
              translated.map(f =>
                org.apache.spark.sql.graft.StreamingShims.filterToV2(f.get)))
          else
            // non-translatable predicate: leave the command for Spark's
            // RewriteDeleteFromTable — the group-based row-level rewrite
            // (GraftRowLevelOperation) is DV-aware and handles it
            d
        case _ => d
      }
    case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable => d
    // row-level DML targets must ALSO stay raw relations: Spark's
    // RewriteUpdateTable/RewriteMergeIntoTable match on the target
    // DataSourceV2Relation to build the group-based COW plan (the
    // row-level scan is itself DV-aware); only a MERGE's SOURCE side is
    // an ordinary read to rewrite
    case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable => u
    case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable =>
      m.copy(sourceTable = rewriteReads(m.sourceTable))
    case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
        if ready(w.query) =>
      w.withNewQuery(rewriteReads(w.query))
    case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand => w
    // swap only once the plan is SETTLED: a reference to the
    // `_graft_file` metadata column is 'resolved' (typed, bound to the
    // relation's metadataOutput) while still MISSING from the
    // relation's output until AddMetadataColumns extends it — swapping
    // in that window strands the reference, so wait for the iteration
    // where no operator has missing input
    case other if ready(other) => rewriteReads(other)
    case other => other
  }
}


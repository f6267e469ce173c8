package graft.sources

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graft.StreamingShims
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.ops.TxLog

/** Structured-Streaming TAIL of a TxLog table — the read-side twin of
  * the exactly-once writers (TxLog.streamingAppend / streamingApply):
  *
  * {{{
  *   spark.readStream.format("graft-lake").load(tablePath)
  *     ... .writeStream.option("checkpointLocation", ...).start()
  * }}}
  *
  * Offsets are COMMIT VERSIONS (one log number per micro-batch range),
  * so progress tracking is O(1) metadata: a batch is "the files added
  * by commits (start, end]", resolved from commit.json alone — never a
  * directory listing, never a data diff. This is the lakehouse
  * streaming model of Delta's streaming source (Armbrust, VLDB 2020
  * §4.3): the table IS the queue, retention is the log's, and a
  * consumer restarting from a checkpoint resumes at its version.
  *
  * Commit classification (via TxLog.commitActions): an append-class
  * commit — no removed files, no deletion vectors on its adds — streams
  * exactly its added files. Anything else (COW rewrite, compaction,
  * MOR delete/merge) CHANGES or rewrites existing data, which a
  * downstream incremental consumer cannot replay from files alone; by
  * default the source fails fast on such a commit, and with
  * `.option("skipChangeCommits", "true")` it skips them (the documented
  * contract for appends-plus-maintenance tables: compaction rewrites
  * carry no new rows, so skipping them keeps the stream exactly-once
  * on the appended data).
  *
  * Batches are built as a plain parquet read over the commits' file
  * list re-tagged streaming in place (StreamingShims) — pushdown,
  * pruning, and vectorized reading all apply; payload bytes never pass
  * through the driver.
  *
  * `.option("maxVersionsPerBatch", n)` bounds how many commits one
  * micro-batch covers (admission control, the version-grain analog of
  * maxFilesPerTrigger); under Trigger.AvailableNow the drain target is
  * frozen at start, so the run terminates even while writers keep
  * committing. `.option("startingVersion", v)` skips history before v.
  *
  * `.option("readChangeFeed", "true")` streams ROW-LEVEL CHANGES
  * instead of appended rows — Delta CDF's shape (`_change_type`
  * insert|delete, `_commit_version`): append commits emit inserts,
  * merge-on-read commits emit their dv-free adds as inserts plus the
  * newly-vectored keys as deletes (an update is its delete+insert
  * pair), compaction emits nothing, and copy-on-write commits fail
  * fast (their row delta is not recoverable from files alone). Feeding
  * this into TxLog.streamingApply on another table is lake-to-lake
  * replication with exactly-once on both hops.
  */
class LakeSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  private def tablePath(parameters: Map[String, String]): Path =
    Paths.get(parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-lake needs a table path: readStream.format(\"graft-lake\").load(path)")))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(
      LakeStreamSource.tableSchema(sqlContext.sparkSession, tablePath(parameters)))
    (shortName(),
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        LakeStreamSource.withCdfColumns(base)
      else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new LakeStreamSource(sqlContext.sparkSession, tablePath(parameters),
      skipChangeCommits = parameters.get("skipChangeCommits").exists(_.toBoolean),
      startingVersion = parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      maxVersionsPerBatch = parameters.get("maxVersionsPerBatch").map(_.toInt),
      readChangeFeed = parameters.get("readChangeFeed").exists(_.toBoolean))
}

object LakeStreamSource {
  /** The log's recorded schema (falls back to a live file's footer for
    * tables written before schema tracking). */
  private[sources] def tableSchema(spark: SparkSession, table: Path): StructType =
    TxLog.tableSchema(table, None).getOrElse {
      val snap = TxLog.snapshotAt(table)
      require(snap.files.nonEmpty,
        s"$table has no recorded schema and no files to derive one from")
      spark.read.parquet(table.resolve(snap.files.head.path).toString).schema
    }

  /** Change-feed batches carry the data columns plus Delta-CDF-style
    * change metadata. */
  private[sources] def withCdfColumns(base: StructType): StructType =
    StructType(base.fields
      :+ org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false)
      :+ org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false))
}

class LakeStreamSource(spark: SparkSession, table: Path,
    skipChangeCommits: Boolean, startingVersion: Long,
    maxVersionsPerBatch: Option[Int] = None,
    readChangeFeed: Boolean = false)
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{
    Offset => ConnectorOffset, ReadLimit, ReadMaxFiles}

  private val dataSchema: StructType = LakeStreamSource.tableSchema(spark, table)

  override val schema: StructType =
    if (readChangeFeed) LakeStreamSource.withCdfColumns(dataSchema) else dataSchema

  private def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => throw new IllegalStateException(s"unexpected offset $other")
  }

  private def cver(o: ConnectorOffset): Long = o match {
    case null => startingVersion - 1L
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong // LongOffset serializes as the bare number
  }

  override def getOffset: Option[Offset] = {
    val latest = TxLog.latestVersion(table)
    if (latest < startingVersion) None else Some(LongOffset(latest))
  }

  // ---- admission control: `maxVersionsPerBatch` caps how many commits
  // one micro-batch covers (the version-grain analog of the file
  // source's maxFilesPerTrigger). Under Trigger.AvailableNow the target
  // is FROZEN at stream start, so a drain terminates even while writers
  // keep committing — and with a cap of 1 each bronze commit replays as
  // its own batch, which is what gives a downstream exactly-once writer
  // commit-level restart granularity.
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(TxLog.latestVersion(table))

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerBatch.map(ReadLimit.maxFiles(_)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: ConnectorOffset, limit: ReadLimit): ConnectorOffset = {
    val from = cver(start)
    val latest = availableNowCap.getOrElse(TxLog.latestVersion(table))
    val capped = limit match {
      case m: ReadMaxFiles => math.min(latest, from + m.maxFiles())
      case _ => latest
    }
    if (capped <= from || capped < startingVersion) null else LongOffset(capped)
  }

  /** Can this source's frozen schema represent a commit written under
    * `commitSchema`? Compared by PHYSICAL column identity (name-mode
    * column mapping): a RENAME moves only the logical name, so commits
    * on either side of it carry the same physical columns and stream
    * seamlessly under the frozen names — while a genuinely new or
    * type-changed physical field is not representable (reading it under
    * the frozen schema would silently drop data) and fails the stream
    * for a restart. Older (physical-subset) schemas are fine — their
    * files null-fill the later columns. Unmapped tables compare by
    * name, exactly the historical rule. */
  private def representable(commitSchema: StructType): Boolean = {
    val byPhys = dataSchema.fields
      .map(f => graft.ops.ColumnMapping.physical(f) -> f.dataType).toMap
    commitSchema.fields.forall(f =>
      byPhys.get(graft.ops.ColumnMapping.physical(f)).contains(f.dataType))
  }

  /** Raw per-file scan under the frozen schema's PHYSICAL names — DV
    * key columns are recorded physical, so sidecar-driven filters apply
    * here, before [[logical]] projects to the SQL-visible names. */
  private def scanRaw(files: Seq[TxLog.AddFile]): DataFrame =
    spark.read.schema(graft.ops.ColumnMapping.physicalSchema(dataSchema))
      .parquet(files.map(f => table.resolve(f.path).toString): _*)

  private def logical(df: DataFrame): DataFrame =
    graft.ops.ColumnMapping.toLogical(df, dataSchema)

  private def scanFiles(files: Seq[TxLog.AddFile]): DataFrame = logical(scanRaw(files))

  /** Commit v's row-level changes as a SCAN-SHAPED plan (scans,
    * IN-list filters, unions — deliberately no joins and no except
    * algebra, which a streaming-tagged plan must not carry):
    *  - append-class commits: their files' rows as inserts;
    *  - compaction: layout-only, no logical change, nothing emitted;
    *  - merge-on-read commits: dv-free adds as inserts, plus each
    *    re-added file scanned raw and filtered to its NEWLY-vectored
    *    keys (TxLog.newlyDvKeys — driver-side sidecar diff,
    *    churn-sized) as deletes; an update is its delete+insert pair;
    *  - copy-on-write commits: the row-level delta is not recoverable
    *    from files alone (the Delta CDF position absent change files) —
    *    replay the writer's CDC sidecar; sidecar-less ones fail fast,
    *    or skip under skipChangeCommits;
    *  - restore: a metadata-only rollback whose delta spans two
    *    historical snapshots — fail fast (batch changeFeed covers it),
    *    or skip under skipChangeCommits.
    */
  private def cdfForVersion(v: Long): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val (op, adds, _) = TxLog.commitActions(table, v)
    op match {
      // metadata-only commits: no row-level change to emit
      case "compact" | "set-constraint" | "create" | "set-schema" | "set-tag"
         | "set-partitioning" | "set-props" => None
      // a clone's v0 is the target's initial load: its adds ARE the
      // table's first rows, append-class for the feed. Cloned adds KEEP
      // the source's deletion vectors (cloneTable hardlinks the DV
      // sidecars), so each dv-carrying file is scanned with its DV'd
      // keys filtered OUT (NOT-IN over the churn-sized sidecar — same
      // scan-shaped, join-free contract as the MOR branch below);
      // emitting them raw would resurrect deleted rows in any replica
      // built from the clone's feed. Plain appends never carry DVs.
      case "append" | "streaming-append" | "abandoned" | "txn-aborted" | "clone" =>
        if (adds.isEmpty) None
        else {
          val (dvd, plain) = adds.partition(_.dv.isDefined)
          val parts =
            (if (plain.isEmpty) Seq.empty else Seq(scanFiles(plain))) ++
            dvd.map { f =>
              val (kc, keys) = TxLog.dvKeysFor(table, f).get
              logical(scanRaw(Seq(f)).filter(!col(kc).cast("long").isin(keys: _*)))
            }
          Some(parts.reduce(_ unionByName _)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        }
      case "delete-mor" | "merge-mor" | "streaming-merge" =>
        val inserts = adds.filter(_.dv.isEmpty)
        val ins = if (inserts.isEmpty) Seq.empty else Seq(
          scanFiles(inserts).withColumn("_change_type", lit("insert")))
        val dels = TxLog.newlyDvKeys(table, v).map { case (f, kc, keys) =>
          logical(scanRaw(Seq(f)).filter(col(kc).cast("long").isin(keys: _*)))
            .withColumn("_change_type", lit("delete"))
        }
        val parts = ins ++ dels
        if (parts.isEmpty) None
        else Some(parts.reduce(_ unionByName _).withColumn("_commit_version", lit(v)))
      case "restore" =>
        // a restore is a metadata-only rollback: its row-level delta is
        // the diff between two historical snapshots, not derivable from
        // the commit's own adds (which may only re-instate DV'd entries)
        if (skipChangeCommits) None
        else throw new IllegalStateException(
          s"commit v$v of $table is a RESTORE; its row-level changes span " +
          "two historical snapshots and are not replayable as a change " +
          "feed — use TxLog.changeFeed(from, to) for the batch diff, or " +
          "set skipChangeCommits to ignore it")
      case other =>
        // COW commits record a CDC sidecar (the writer's own delta:
        // replaced rows as deletes + update rows as inserts) — a plain
        // scan of churn-sized data, same safety class as the branches
        // above. Only sidecar-less COW commits (older tables, foreign
        // writers) still fail fast.
        TxLog.commitCdcFile(table, v) match {
          case Some(name) =>
            // sidecars persist under physical names (+ _change_type,
            // which passes through the projection)
            Some(logical(spark.read.parquet(table.resolve(name).toString))
              .withColumn(
                "_commit_version", org.apache.spark.sql.functions.lit(v)))
          case None if skipChangeCommits => None
          case None => throw new IllegalStateException(
            s"commit v$v of $table is a copy-on-write '$other' without a CDC " +
            "sidecar; its row-level changes are not recoverable from files " +
            "alone — use TxLog.changeFeed for a batch diff, or set " +
            "skipChangeCommits to ignore it")
        }
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(ver).getOrElse(startingVersion - 1L)
    val to = ver(end)
    val vs = TxLog.versions(table).filter(v => v > from && v <= to)
    vs.foreach { v =>
      TxLog.tableSchema(table, Some(v)).filterNot(representable).foreach { s =>
        // Delta's rule: a schema evolution invalidates the running
        // stream's frozen schema; restarting re-resolves it (and the
        // old commits' subset schemas stay readable via null-fill)
        throw new IllegalStateException(
          s"commit v$v of $table evolved the table schema to " +
          s"${s.catalogString}, which this stream's schema " +
          s"${dataSchema.catalogString} cannot represent; restart the stream " +
          "to pick up the evolved schema")
      }
    }
    if (readChangeFeed) {
      val parts = vs.flatMap(cdfForVersion)
      if (parts.isEmpty) StreamingShims.emptyStreamingBatch(spark, schema)
      else StreamingShims.asStreamingBatch(spark, parts.reduce(_ unionByName _), this)
    } else {
      val adds = vs.flatMap { v =>
        val (op, commitAdds, removes) = TxLog.commitActions(table, v)
        val appendClass = removes.isEmpty && commitAdds.forall(_.dv.isEmpty)
        if (appendClass) commitAdds
        else if (skipChangeCommits) Vector.empty
        else throw new IllegalStateException(
          s"commit v$v of $table is a data-change commit (op=$op); a streaming " +
          "tail cannot replay it incrementally — set " +
          "option(\"skipChangeCommits\", \"true\") if such commits carry no new " +
          "rows for this table (e.g. compaction), or recompute downstream")
      }
      if (adds.isEmpty) StreamingShims.emptyStreamingBatch(spark, schema)
      else StreamingShims.asStreamingBatch(spark, scanFiles(adds), this)
    }
  }

  override def stop(): Unit = ()
}

package graft.ops

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Minimal ACID table format on parquet — the transaction-log pattern of
  * Delta Lake (Armbrust et al., "Delta Lake: High-Performance ACID Table
  * Storage over Cloud Object Stores", VLDB 2020). The reference pipeline
  * appends documents to a NoSQL store with no snapshot/versioning story
  * (mongodb/data_repo.rs:20-70 inserts, nothing reads back consistently);
  * at lake scale the same need — atomic multi-file commits, snapshot
  * isolation for concurrent readers, time travel, small-file compaction,
  * stats-based file skipping — is solved by a log of file-level actions,
  * which is what this module provides, pure-JVM on the Hadoop FS API.
  *
  * Layout (all under the table directory):
  *   _graft_log/v<%020d>/commit.json      — one commit: adds + removes
  *   _graft_log/v<%020d>/checkpoint.json  — full live set, every 10th
  *   data files: <uuid>.parquet, written by executor-parallel Spark jobs
  *
  * Commit protocol: a writer claims version V by atomically creating the
  * directory `v<%020d>` (POSIX mkdir is create-exclusive; on an object
  * store you would use a conditional PUT or a log-store service, per the
  * published Delta protocol). The loser of a race gets
  * FileAlreadyExistsException, re-reads the snapshot, revalidates, and
  * retries at V+1 — classic optimistic concurrency. commit.json is
  * written via temp-file + ATOMIC_MOVE inside the claimed directory, so
  * readers never observe a partial commit: a version exists only once
  * its commit.json does.
  *
  * Scale shapes (100 TB):
  *  - the log is METADATA-sized: O(files) JSON, not O(rows). Snapshot
  *    replay from the latest checkpoint reads <= 10 commit files no
  *    matter how long the table's history is.
  *  - per-file (rows, min, max) stats come from the parquet FOOTERS
  *    (ParquetFileReader), not a data scan — stats collection after an
  *    append reads O(files) footers, each a few KB.
  *  - file skipping: a key-range read intersects the predicate with each
  *    file's [min,max] in the DRIVER over the metadata only; a 100 TB
  *    table with range-clustered files answers a narrow range query by
  *    scanning a handful of files (LakeQueries.tx05 gates the math).
  *  - copy-on-write merge/delete rewrite ONLY the files whose stats
  *    range can contain an affected key (then an exact membership probe
  *    narrows further) — at scale an upsert of a small delta touches a
  *    small fraction of files, never the whole table.
  *
  * == Transaction boundary: single-table by default, multi-table opt-in ==
  *
  * The default unit of atomicity is ONE COMMIT ON ONE TABLE — the same
  * position the published Delta protocol takes (Armbrust et al. §3.2:
  * "transactions can only be performed within a single table"), and the
  * right default because the multi-table patterns the pipelines here
  * need mostly compose WITHOUT cross-table coordination:
  *
  *  - IDEMPOTENT BATCH TAGS (`batchId` on streamingCommit): a fan-out
  *    job writing N tables retries each table's commit independently;
  *    replays cannot double-apply, so the fan-out converges to
  *    exactly-once per table (sim08 gates this through a restart);
  *  - the MEDALLION chain (tx17): downstream tables derive from
  *    upstream SNAPSHOTS, so cross-table consistency is by construction
  *    "table B as of table A's version V" — pin V, not a 2PC;
  *  - TAGS as cross-table release points (sql10): tag each table after
  *    its commit lands and readers address the consistent set by name.
  *
  * When those are NOT enough (the transfer shape: rows must leave one
  * table and appear in another with no observable in-between),
  * [[transact]] provides a true atomic multi-table transaction via
  * commit-marker two-phase commit. The round-10 objection to building
  * it — that a coordinator object taxes `snapshotAt`, the hottest
  * metadata path, for every reader forever — is answered by making the
  * tax STRICTLY OPT-IN and then amortized to zero:
  *
  *  - ordinary commits carry no `txn` field; readers pay one null
  *    check on an already-parsed node — no extra I/O, ever;
  *  - a txn-flagged commit resolves its marker ONCE per JVM (the
  *    single `outcome` file is created create-exclusive, so it is
  *    immutable and cacheable — [[outcomeOf]]);
  *  - orphaned coordinators cannot wedge readers: a pending marker
  *    older than [[StaleClaimMs]] is aborted by the first reader to
  *    link the outcome file, the same lease discipline as stale
  *    commit claims.
  */
object TxLog {

  /** File-level action: a live data file with its footer stats.
    * minKey/maxKey cover the table's DESIGNATED stats column
    * (Long.MinValue/MaxValue sentinels when the file has none); `cols`
    * carries per-column [min,max] for every integer-typed column (up to
    * [[MaxStatsCols]], the Delta-style cap) so range reads can prune on
    * ANY recorded column, not just the designated one.
    *
    * `dv` names this file's deletion-vector sidecar (merge-on-read: the
    * file's rows minus the DV'd keys are the live rows — see
    * [[deleteMor]]); a re-add of the same path with a new dv REPLACES
    * the log entry, so DV updates are pure metadata commits. `part`
    * carries the file's hive-style partition-column values (the Delta
    * paper's partitionValues, its primary pruning axis) — equality
    * predicates on partition columns prune on this map alone. */
  final case class AddFile(path: String, rows: Long, minKey: Long, maxKey: Long,
      cols: Map[String, (Long, Long)] = Map.empty,
      dv: Option[String] = None, part: Map[String, String] = Map.empty,
      strCols: Map[String, (String, String)] = Map.empty)

  private val MaxStatsCols = 16

  // --------------------------------------------------- string footer stats

  /** Truncation budget for string stats (code points) — Delta's rule:
    * a full min/max of a long text column would bloat every commit, so
    * the recorded min is a PREFIX (still a valid lower bound) and the
    * recorded max is the prefix with its last code point incremented
    * (a strict upper bound for every string sharing the prefix). */
  private val StrStatsCp = 16

  /** Code-point order — the SAME total order parquet's UTF-8 byte-wise
    * unsigned min/max comparison induces (UTF-8 byte order = code point
    * order), used for BOTH truncation and pruning so the two can never
    * disagree. Java's String.compareTo (UTF-16 units) would misorder
    * supplementary planes against the footer stats. */
  private[ops] def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return java.lang.Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    java.lang.Integer.compare(a.length - i, b.length - j)
  }

  private[ops] def truncMin(s: String): String = {
    val cps = s.codePoints().toArray
    if (cps.length <= StrStatsCp) s
    else new String(cps, 0, StrStatsCp)
  }

  /** Upper bound after truncation: drop everything past the budget and
    * increment the LAST incrementable code point (skipping the
    * surrogate gap — those code points never occur in valid strings but
    * must not be produced either). None when every prefix code point is
    * already U+10FFFF — no safe bound exists and the file simply
    * records no max (kept-when-absent conservatism). */
  private[ops] def truncMaxPlus(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    if (cps.length <= StrStatsCp) Some(s)
    else {
      val p = cps.take(StrStatsCp)
      var i = StrStatsCp - 1
      while (i >= 0 && p(i) >= 0x10FFFF) i -= 1
      if (i < 0) None
      else {
        val bumped = if (p(i) + 1 == 0xD800) 0xE000 else p(i) + 1
        Some(new String(p.updated(i, bumped), 0, i + 1))
      }
    }
  }

  final case class Snapshot(version: Long, files: Vector[AddFile])

  private val CheckpointEvery = 10

  /** Live-set size above which a checkpoint SHARDS its file list.
    * A checkpoint is the log folded at its version ([[stateAt]]): the
    * live files plus the scalar fields protocol, tags, constraints,
    * batchMax, partitionCols, props (the table properties, written
    * when any are set) and sources (the source-file names, written when
    * any are recorded), and the txn outcomes decided so far.
    * A sharded `checkpoint.json` keeps every scalar but carries
    * `filesRef` — a list of `checkpoint.d/part-NNNNN.jsonl` shards,
    * one AddFile JSON per line — instead of the inline `files` array.
    * At 100 TB (~10^6 AddFiles) a single-document checkpoint is a
    * driver-memory and single-threaded-parse bottleneck on BOTH ends;
    * shards stream out bounded and parse back in parallel. A checkpoint
    * missing `batchMax` or `partitionCols` (both always written) predates
    * those fields and never seeds the fold. A missing `props` means no
    * properties and a missing `sources` no source files: no commit that
    * sets either predates its field. The first
    * sharded checkpoint grows the table protocol with the `shardedCheckpoint`
    * reader+writer feature IN THE SAME COMMIT (tx26's gate machinery),
    * so a pre-upgrade engine refuses the table by name instead of
    * misreading it. Inline checkpoints remain the format for small
    * tables and every pre-upgrade log stays readable forever.
    * `private[graft] var`: a test seam (specs and the tx27 gate lower it
    * to exercise the boundary without 10^5-file fixtures). */
  private[graft] var CheckpointInlineMax: Int = 512
  private val CheckpointShardLines = 4096

  private val mapper = new ObjectMapper()

  private def listDir(p: Path): Vector[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toVector finally s.close()
  }

  private def logDir(table: Path): Path = table.resolve("_graft_log")
  private def vName(v: Long): String = f"v$v%020d"
  private def versionDir(table: Path, v: Long): Path = logDir(table).resolve(vName(v))

  // ---------------------------------------------------------------- log IO

  private def writeJsonAtomic(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.getParent.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  private def addToNode(a: AddFile): java.util.Map[String, Object] =
    (Map[String, Object]("path" -> a.path, "rows" -> java.lang.Long.valueOf(a.rows),
      "min" -> java.lang.Long.valueOf(a.minKey), "max" -> java.lang.Long.valueOf(a.maxKey),
      "cols" -> a.cols.map { case (c, (lo, hi)) =>
        c -> Map[String, Object]("min" -> java.lang.Long.valueOf(lo),
          "max" -> java.lang.Long.valueOf(hi)).asJava
      }.asJava)
      ++ (if (a.strCols.isEmpty) Map.empty[String, Object]
          else Map("scols" -> a.strCols.map { case (c, (lo, hi)) =>
            c -> Map[String, Object]("min" -> lo, "max" -> hi).asJava
          }.asJava))
      ++ a.dv.map(d => "dv" -> (d: Object))
      ++ (if (a.part.isEmpty) Map.empty[String, Object]
          else Map("part" -> (a.part.asJava: Object)))).asJava

  /** A JSON string array as a Seq; empty when the field is absent. */
  private def strings(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    Option(n).fold(Seq.empty[String])(_.elements().asScala.map(_.asText).toSeq)

  private def nodeToAdd(n: com.fasterxml.jackson.databind.JsonNode): AddFile = {
    val cols = Option(n.get("cols")).map { cn =>
      cn.fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("min").asLong, e.getValue.get("max").asLong)
      }.toMap
    }.getOrElse(Map.empty[String, (Long, Long)])
    val part = Option(n.get("part")).map { pn =>
      pn.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty[String, String])
    // absent in pre-string-stats logs: empty map, every read stays
    // conservative (kept-when-absent) — old logs remain fully readable
    val strCols = Option(n.get("scols")).map { sn =>
      sn.fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("min").asText, e.getValue.get("max").asText)
      }.toMap
    }.getOrElse(Map.empty[String, (String, String)])
    AddFile(n.get("path").asText, n.get("rows").asLong,
      n.get("min").asLong, n.get("max").asLong, cols,
      Option(n.get("dv")).map(_.asText), part, strCols)
  }

  // ------------------------------------------- multi-table txn resolution

  private val OutcomeCacheEntries = 65536
  private val txnOutcomes = new StampedCache[String, Unit, String](OutcomeCacheEntries)

  private def readUtf8(f: Path): String =
    new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)

  /** The transaction's outcome ("committed" | "aborted") from its
    * marker, resolving the in-doubt window exactly like stale commit
    * claims: a PENDING marker younger than [[StaleClaimMs]] is an
    * in-flight coordinator — wait briefly; older (or vanished) means a
    * crashed coordinator — any reader may abort it by
    * create-exclusive'ing the single `outcome` file. Whoever links
    * first decides; the loser reads the decision. The coordinator
    * publishes every participant commit BEFORE trying
    * outcome=committed, so "aborted" can never void a partially-read
    * transaction: either all participant commits are no-ops or none.
    * Readers go through [[outcomeOf]], which asks the marker last. */
  private def resolveTxn(markerDir: Path): String = {
    val outcomeF = markerDir.resolve("outcome")
    val deadline = System.currentTimeMillis() + StaleClaimMs + 60_000L
    while (true) {
      if (Files.exists(outcomeF)) return readUtf8(outcomeF)
      val pendingF = markerDir.resolve("pending")
      // exists-then-mtime is a TOCTOU pair: pending may vanish between
      // the two calls (coordinator cleanup / table drop) — a vanished
      // marker is STALE, same as the !exists branch, never an error
      val stale = try {
        !Files.exists(pendingF) || (System.currentTimeMillis() -
          Files.getLastModifiedTime(pendingF).toMillis > StaleClaimMs)
      } catch { case _: java.nio.file.NoSuchFileException => true }
      if (stale) {
        Files.createDirectories(markerDir)
        publishExclusive(outcomeF, "aborted".getBytes(
          java.nio.charset.StandardCharsets.UTF_8)): Unit // loop re-reads the winner
      } else if (System.currentTimeMillis() > deadline) {
        throw new IllegalStateException(
          s"transaction marker $markerDir stuck pending past the staleness lease")
      } else Thread.sleep(25)
    }
    throw new IllegalStateException("unreachable")
  }

  /** The reading table's OWN durable replica of a txn outcome:
    * `_graft_log/_txnout/<txnId>`. The coordinator writes one per
    * participant at decision time, and any reader that resolves through
    * the marker replicates the answer here — so once a transaction is
    * decided AND observed, resolution never again depends on the
    * sibling table that happens to host the marker directory (which
    * could be dropped, moved or renamed out from under us, retroactively
    * voiding a committed transfer). A replica lives until the CHECKPOINT
    * FOLD supersedes it ([[txnOutcomesUpTo]]): once the newest
    * checkpoint records the outcome, the replica is redundant durable
    * state and [[vacuum]] reclaims it — time travel to pre-checkpoint
    * txn commits stays sibling-independent through the folded record,
    * and `_txnout` stops accreting one file per transaction forever at
    * streaming-transaction rates. */
  private def txnOutLocal(table: Path, txnId: String): Path =
    logDir(table).resolve("_txnout").resolve(txnId)

  private[ops] def replicateOutcome(table: Path, txnId: String, outcome: String): Unit =
    try {
      val f = txnOutLocal(table, txnId)
      Files.createDirectories(f.getParent)
      publishExclusive(f, outcome.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort: marker still decides

  /** Non-blocking outcome peek: this table's replica, then the marker's
    * outcome file; None while the transaction is genuinely undecided.
    * Used by the CHECKPOINT FOLD, which must never block a commit on an
    * in-flight sibling transaction. */
  private def peekOutcome(table: Path, markerDir: Path): Option[String] = {
    val localF = txnOutLocal(table, markerDir.getFileName.toString)
    val of = markerDir.resolve("outcome")
    try {
      if (Files.exists(localF)) Some(readUtf8(localF))
      else if (Files.exists(of)) Some(readUtf8(of))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Commit `v` exactly as published — no txn resolution. */
  private def rawCommit(table: Path, v: Long): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(Files.readAllBytes(versionDir(table, v).resolve("commit.json")))

  /** The newest checkpoint among `vs` at or below `v` that `usable`
    * accepts, with its parsed `checkpoint.json` — the one place the log
    * looks for and reads a checkpoint manifest. */
  private def newestCheckpoint(table: Path, vs: Vector[Long], v: Long,
      usable: com.fasterxml.jackson.databind.JsonNode => Boolean = _ => true)
      : Option[(Long, com.fasterxml.jackson.databind.JsonNode)] =
    vs.reverseIterator
      .filter(cv => cv <= v && Files.exists(versionDir(table, cv).resolve("checkpoint.json")))
      .map(cv => cv -> mapper.readTree(
        Files.readAllBytes(versionDir(table, cv).resolve("checkpoint.json"))))
      .find(c => usable(c._2))

  /** A checkpoint's folded txn outcomes, txnId -> outcome. */
  private def foldedOutcomes(ck: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    Option(ck.get("txnOutcomes")).fold(Map.empty[String, String])(
      _.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)

  /** Folded txn outcomes at or below `v` (the batch-id-watermark
    * precedent applied to `_txnout` growth): the newest checkpoint's
    * fold + the txn-referenced commits after it, plus a retry of the
    * markers that were still PENDING at that checkpoint — so a txn
    * decided between two checkpoints is folded by the later one, and
    * the replay bound stays O(checkpoint interval) commit reads.
    * Returns (txnId -> outcome, still-pending marker paths). Once a
    * txn is folded, its per-table `_txnout` replica file is redundant
    * durable state and [[vacuum]] reclaims it; time travel to the
    * pre-checkpoint txn commit stays sibling-independent through the
    * folded record. */
  private def txnOutcomesUpTo(table: Path, vs: Vector[Long],
      v: Long): (Map[String, String], Vector[String]) = {
    val ck = newestCheckpoint(table, vs, v)
    val basePending = ck.flatMap(c => Option(c._2.get("txnPending")))
      .fold(Vector.empty[String])(_.elements().asScala.map(_.asText).toVector)
    val from = ck.fold(0L)(_._1 + 1)
    val fresh = vs.filter(cv => cv >= from && cv <= v)
      .flatMap(cv => Option(rawCommit(table, cv).get("txn")).map(_.asText))
    var resolved = ck.fold(Map.empty[String, String])(c => foldedOutcomes(c._2))
    val stillPending = Vector.newBuilder[String]
    (basePending ++ fresh).distinct.foreach { mp =>
      val markerDir = java.nio.file.Paths.get(mp)
      peekOutcome(table, markerDir) match {
        case Some(o) => resolved += (markerDir.getFileName.toString -> o)
        case None => stillPending += mp
      }
    }
    (resolved, stillPending.result())
  }

  /** The outcome of the transaction at `markerDir`, as `table` resolves
    * it: (1) the once-per-JVM cache, (2) THIS table's own `_txnout`
    * replica, (3) its newest checkpoint's fold — the record left when
    * vacuum reclaimed the replica — and only then (4) the marker
    * directory, whose answer is replicated into (2). So the sibling
    * table hosting the marker is consulted at most once per table per
    * transaction, and never once a replica or fold records it (a
    * dropped sibling must not turn a committed transfer into an abort).
    * Every reader of txn commits resolves through here. */
  private def outcomeOf(table: Path, markerDir: Path): String =
    txnOutcomes.getOrPut(table, markerDir.toString, ()) {
      val txnId = markerDir.getFileName.toString
      val localF = txnOutLocal(table, txnId)
      if (Files.exists(localF)) readUtf8(localF)
      else newestCheckpoint(table, versions(table), Long.MaxValue)
        .flatMap(c => foldedOutcomes(c._2).get(txnId))
        .getOrElse {
          val r = resolveTxn(markerDir)
          replicateOutcome(table, txnId, r)
          r
        }
    }

  private val NodeCacheEntries = 200000
  private val nodeCache =
    new StampedCache[Long, (Long, Long), com.fasterxml.jackson.databind.JsonNode](NodeCacheEntries)

  private def commitStamp(f: Path): (Long, Long) = {
    val a = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
    (a.size(), a.lastModifiedTime().toMillis)
  }

  /** Read commit `v` with multi-table-transaction resolution applied: a
    * commit carrying a `txn` marker reference is effective only once its
    * transaction committed ([[outcomeOf]]); an aborted one reads as an
    * empty no-op (op "txn-aborted" — the multi-table sibling of
    * "abandoned"). Ordinary commits pay a single null field check,
    * nothing else — the reader tax the design doc above requires to be
    * zero. */
  private def commitNode(table: Path, v: Long): com.fasterxml.jackson.databind.JsonNode =
    nodeCache.getOrPut(table, v, commitStamp(versionDir(table, v).resolve("commit.json"))) {
      val node = rawCommit(table, v)
      Option(node.get("txn")) match {
        case Some(m) if outcomeOf(table, java.nio.file.Paths.get(m.asText)) != "committed" =>
          mapper.readTree(commitBytes(v, "txn-aborted", Nil, Nil, None, None, Map.empty))
        case _ => node
      }
    }

  /** The files ADDED by commit `v` — log metadata only, one commit
    * read. Block-max retrieval uses this as the slice→file binding
    * (TextIndex: a dictionary slice written alongside postings commit
    * `v` covers exactly `v`'s added files while those files live). An
    * aborted multi-table txn commit resolves to a no-op here like
    * everywhere else (commitNode applies the outcome). */
  def addsAt(table: Path, v: Long): Vector[AddFile] =
    commitNode(table, v).get("adds").elements().asScala.map(nodeToAdd).toVector

  /** BENCH/TEST seam: commit fabricated `adds` without any data file
    * existing. Snapshot RESOLUTION is pure log metadata, so the
    * checkpoint-format bench (graft.tools.CheckpointBench) measures it
    * against 10^5-entry logs without paying minutes of irrelevant tiny
    * parquet writes. Never use on a table a reader will scan. */
  private[graft] def commitSynthetic(table: Path, adds: Seq[AddFile],
      removes: Seq[String] = Nil): Long = {
    Files.createDirectories(logDir(table))
    commitRetry(table, "append", adds, removes)(_ => true)
  }

  /** Committed versions present in the log, ascending. A version counts
    * only once its commit.json is visible (see commit protocol above). */
  def versions(table: Path): Vector[Long] = {
    val ld = logDir(table)
    if (!Files.isDirectory(ld)) Vector.empty
    else listDir(ld)
      .filter(p => p.getFileName.toString.startsWith("v") &&
        Files.exists(p.resolve("commit.json")))
      .map(p => p.getFileName.toString.drop(1).toLong)
      .sorted
  }

  def latestVersion(table: Path): Long = versions(table).lastOption.getOrElse(-1L)

  // --------------------------------------------------------------- protocol

  /** The table's feature contract (Delta's protocol action, feature-name
    * form): a READER feature names log content a scanner must understand
    * to produce correct rows (a DV-ignorant reader would resurrect
    * deleted rows; a mapping-ignorant one would read physical columns);
    * a WRITER feature names an invariant a committer must maintain.
    * Readers/writers refuse unknown required features BY NAME instead of
    * silently misreading — the one failure mode a foreign or older
    * binary must never have. */
  final case class Protocol(readerFeatures: Set[String], writerFeatures: Set[String]) {
    def isEmpty: Boolean = readerFeatures.isEmpty && writerFeatures.isEmpty
  }
  object Protocol { val Empty: Protocol = Protocol(Set.empty, Set.empty) }

  /** Features THIS engine understands. String footer stats and
    * partitionValues are deliberately NOT features: both are ignorable
    * hints (skipping metadata; partition columns are retained in the
    * data files), harmless to a reader that does not know them. */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "changeDataFeed", "shardedCheckpoint")
  val SupportedWriterFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "changeDataFeed", "shardedCheckpoint")

  private def protocolOfNode(
      n: com.fasterxml.jackson.databind.JsonNode): Option[Protocol] =
    Option(n.get("protocol")).map(p =>
      Protocol(strings(p.get("readerFeatures")).toSet, strings(p.get("writerFeatures")).toSet))

  private def protocolToNode(p: Protocol): Object =
    Map[String, Object](
      "readerFeatures" -> p.readerFeatures.toSeq.sorted.asJava,
      "writerFeatures" -> p.writerFeatures.toSeq.sorted.asJava).asJava

  /** Protocol in force AT `version` (latest when None) — per-version,
    * so time travel to a pre-upgrade snapshot works under the old
    * contract; a table with no protocol action (every pre-upgrade log)
    * is Empty and readable by anything. A field of the log fold
    * ([[stateAt]]), with no reader gate: the reader and writer gates
    * read it, and each refuses an unknown feature by name. */
  def protocolAt(table: Path, version: Option[Long] = None): Protocol =
    stateOf(table, version).protocol

  /** Refuse-by-name reader gate, called on every snapshot replay. */
  private def requireReadable(table: Path, version: Long, p: Protocol): Unit = {
    val unknown = p.readerFeatures -- SupportedReaderFeatures
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"table $table (version $version) requires reader feature(s) " +
          s"${unknown.toSeq.sorted.mkString(", ")} this engine does not support; " +
          "upgrade the engine — reading anyway would silently misread the data")
  }

  /** Refuse-by-name writer gate, checked before any commit attempt. */
  private def requireWritable(table: Path): Unit = {
    val unknown = protocolAt(table).writerFeatures -- SupportedWriterFeatures
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"table $table requires writer feature(s) " +
          s"${unknown.toSeq.sorted.mkString(", ")} this engine does not support; " +
          "writing anyway could break the invariant those features guard")
  }

  /** Grow the table's protocol (one metadata commit; shrinking is not a
    * thing — a feature once required stays required for old snapshots). */
  def upgradeProtocol(table: Path, readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty): Long = {
    val cur = protocolAt(table)
    val grown = Protocol(cur.readerFeatures ++ readerFeatures,
      cur.writerFeatures ++ writerFeatures)
    commitRetry(table, "protocol", Nil, Nil,
      extra = Map("protocol" -> protocolToNode(grown)))(_ => true)
  }

  /** A checkpoint's live file list: the inline `files` array, or the
    * sharded `filesRef` JSONL parts parsed in PARALLEL (one line = one
    * AddFile; ObjectMapper is thread-safe for reads) — snapshot
    * resolution stays wall-clock-bounded by shards/cores instead of a
    * single-threaded million-entry JSON tree. Shard names are validated
    * against traversal (they come from our own manifest, but a log is
    * just files on disk). */
  private def checkpointFiles(table: Path, v: Long,
      node: com.fasterxml.jackson.databind.JsonNode): Vector[AddFile] =
    Option(node.get("files")) match {
      case Some(f) => f.elements().asScala.map(nodeToAdd).toVector
      case None =>
        val refsNode = Option(node.get("filesRef")).getOrElse(
          throw new IllegalStateException(
            s"checkpoint v$v of $table has neither files nor filesRef"))
        val vd = versionDir(table, v)
        val refs = refsNode.elements().asScala.map(_.asText).toVector
        refs.foreach(r => require(!r.contains("..") && !r.startsWith("/"),
          s"checkpoint v$v of $table names an out-of-log shard '$r'"))
        val out = new Array[Vector[AddFile]](refs.size)
        refs.indices.toVector.asJava.parallelStream().forEach { i =>
          out(i) = Files.readAllLines(vd.resolve(refs(i))).asScala.iterator
            .filter(_.nonEmpty)
            .map(l => nodeToAdd(mapper.readTree(l))).toVector
        }
        out.toVector.flatten
    }

  // ------------------------------------------------------------- log fold

  /** The log folded at `snapshot.version`: the live files plus every
    * scalar a checkpoint carries. Snapshot, protocol, tags, constraints,
    * the streaming batch watermark, the partitioning, the table
    * properties and the source-file names ([[sourcesAt]]) are all
    * fields of this one fold ([[stateAt]]); the public readers are
    * accessors. */
  private final case class State(snapshot: Snapshot, protocol: Protocol,
      tags: Map[String, Long], constraints: Map[String, String],
      batchMax: Option[Long], partitionCols: Seq[String], props: Map[String, String],
      sources: Set[String])

  private val EmptyState = State(Snapshot(-1L, Vector.empty), Protocol.Empty, Map.empty,
    Map.empty, None, Nil, Map.empty, Set.empty)

  private val StateCacheEntries = 1024
  private val stateCache = new StampedCache[Unit, (Long, Long), State](StateCacheEntries)

  /** The state after every committed version in `vs` at or below `v`
    * (EmptyState when there is none). The seed is the cached state when
    * its stamp matches and it is not newer; else the newest checkpoint
    * that records `batchMax` and `partitionCols` (in an older one their
    * absence would read as "no batch committed" / "unpartitioned", so
    * such a checkpoint is skipped for the next older one or v0). The
    * commits after the seed replay through [[commitNode]], so the fold
    * is txn-resolved, and a fresh and an incremental fold apply the same
    * commits in the same order: identical `files`, same order. */
  private def stateAt(table: Path, vs: Vector[Long], v: Long): State = {
    val upTo = vs.filter(_ <= v)
    if (upTo.isEmpty) return EmptyState
    val target = upTo.last
    val cached = stateCache.get(table, ())((stamp, s) =>
      vs.contains(s.snapshot.version) && versionStamp(table, s.snapshot.version) == stamp)
    val base = cached.filter(_.snapshot.version <= target)
    if (base.exists(_.snapshot.version == target)) return base.get
    val seed = base.getOrElse(newestCheckpoint(table, vs, target,
        ck => ck.has("batchMax") && ck.has("partitionCols")) match {
      case Some((cv, ck)) =>
        State(Snapshot(cv, checkpointFiles(table, cv, ck)),
          protocolOfNode(ck).getOrElse(Protocol.Empty),
          Option(ck.get("tags")).fold(Map.empty[String, Long])(
            _.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap),
          Option(ck.get("constraints")).fold(Map.empty[String, String])(
            _.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap),
          Some(ck.get("batchMax").asLong).filter(_ >= 0L), strings(ck.get("partitionCols")),
          upsertProps(Map.empty, ck.get("props")), strings(ck.get("sources")).toSet)
      case None => EmptyState
    })
    // the live map is built only once a replayed commit touches files
    var live: scala.collection.mutable.LinkedHashMap[String, AddFile] = null
    var s = seed
    upTo.filter(_ > seed.snapshot.version).foreach { cv =>
      val n = commitNode(table, cv)
      val (removes, adds) = (n.get("removes"), n.get("adds"))
      if (!removes.isEmpty || !adds.isEmpty) {
        if (live == null) live = scala.collection.mutable.LinkedHashMap.from(
          seed.snapshot.files.iterator.map(a => a.path -> a))
        removes.elements().asScala.foreach(r => live -= r.asText)
        adds.elements().asScala.foreach { f => val a = nodeToAdd(f); live += (a.path -> a) }
      }
      s = State(s.snapshot, protocolOfNode(n).getOrElse(s.protocol), // writers only grow it
        Option(n.get("tagName")).fold(s.tags)(t =>
          s.tags + (t.asText -> n.get("tagVersion").asLong)),
        Option(n.get("constraintName")).fold(s.constraints)(c =>
          s.constraints + (c.asText -> n.get("constraintExpr").asText)),
        Option(n.get("batchId")).map(_.asLong).fold(s.batchMax)(b =>
          Some(s.batchMax.fold(b)(math.max(_, b)))),
        n.get("op").asText match {
          // the create-time declaration, then Iceberg-style evolution
          case "create" if cv == 0L => strings(n.get("partitionCols"))
          case "set-partitioning" => strings(n.get("partitionCols"))
          // a clone is its table's v0 and carries the source's columns
          case "clone" => strings(n.get("partitionCols"))
          case _ => s.partitionCols
        },
        upsertProps(s.props, n.get("props")),
        n.get("op").asText match {
          // a clone or restore carries the whole set it establishes
          case "clone" | "restore" => strings(n.get("sources")).toSet
          case _ => s.sources ++ strings(n.get("sources"))
        })
    }
    val out = s.copy(snapshot =
      Snapshot(target, if (live == null) seed.snapshot.files else live.values.toVector))
    if (!cached.exists(_.snapshot.version > target))
      stateCache.put(table, (), versionStamp(table, target), out)
    out
  }

  /** `props` with a commit's or checkpoint's `props` object applied:
    * each key is set to its value, and a null value removes the key. */
  private def upsertProps(props: Map[String, String],
      n: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    if (n == null) props
    else n.fields().asScala.foldLeft(props) { (m, e) =>
      if (e.getValue.isNull) m - e.getKey else m + (e.getKey -> e.getValue.asText)
    }

  /** A commit's `extra` entry carrying `props` (none when empty). */
  private def propsExtra(props: Map[String, String]): Map[String, Object] =
    if (props.isEmpty) Map.empty else Map("props" -> (props.asJava: Object))

  /** A commit's or checkpoint's `extra` entry carrying source-file names
    * (none when empty). */
  private def sourcesExtra(names: Iterable[String]): Map[String, Object] =
    if (names.isEmpty) Map.empty else Map("sources" -> (names.toSeq.sorted.asJava: Object))

  /** [[stateAt]] at `version` (latest when None). */
  private def stateOf(table: Path, version: Option[Long]): State =
    stateAt(table, versions(table), version.getOrElse(Long.MaxValue))

  /** Stamp of `table`'s commit.json at `v` — (-1, -1) when unreadable
    * (a vanished log), which can never equal a real stamp. */
  private[ops] def versionStamp(table: Path, v: Long): (Long, Long) =
    try commitStamp(versionDir(table, v).resolve("commit.json"))
    catch { case _: java.io.IOException => (-1L, -1L) }

  /** The live files at `version` (latest when None): the log fold
    * ([[stateAt]]) behind the refuse-by-name reader gate. */
  def snapshotAt(table: Path, version: Option[Long] = None): Snapshot = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val target = version.getOrElse(vs.last)
    require(vs.contains(target), s"version $target not in log (have ${vs.mkString(",")})")
    val s = stateAt(table, vs, target)
    requireReadable(table, target, s.protocol)
    s.snapshot
  }

  /** Publish `bytes` as `target` with CREATE-EXCLUSIVE semantics: the
    * content is fully written to a temp file first, then hard-LINKED
    * into place — link(2) is atomic and FAILS if the target exists,
    * unlike rename(2), which silently replaces. This is what makes a
    * published commit immutable: neither a resumed stale claimant nor
    * a reclaimer can ever overwrite it. Returns false if someone else
    * published first (or the claim dir vanished under us). */
  private def publishExclusive(target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = target.getParent.resolve(s".tmp-${UUID.randomUUID()}")
    try {
      Files.write(tmp, bytes)
      try { Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } catch { case _: java.nio.file.NoSuchFileException => false }
    finally { Files.deleteIfExists(tmp): Unit }
  }

  private def claimDir(vd: Path): Boolean =
    try { Files.createDirectory(vd); true } // atomic create-exclusive claim
    catch { case _: java.nio.file.FileAlreadyExistsException => false
            case _: java.nio.file.NoSuchFileException => false }

  private def commitBytes(v: Long, op: String, adds: Seq[AddFile],
      removes: Seq[String], batchId: Option[Long], schema: Option[StructType],
      extra: Map[String, Object]): Array[Byte] = {
    val base = Map[String, Object](
      "version" -> java.lang.Long.valueOf(v), "op" -> op,
      "adds" -> adds.map(addToNode).asJava,
      "removes" -> removes.asJava)
    mapper.writeValueAsBytes((base
      ++ batchId.map(b => "batchId" -> (java.lang.Long.valueOf(b): Object))
      ++ schema.map(s => "schema" -> (s.json: Object))
      ++ extra).asJava)
  }

  private def publishCommit(table: Path, vd: Path, v: Long, op: String,
      adds: Seq[AddFile], removes: Seq[String], batchId: Option[Long],
      schema: Option[StructType], extra: Map[String, Object] = Map.empty,
      // a multi-table coordinator publishes with checkpoint=false: the
      // checkpoint's fold would block on its OWN pending marker
      checkpoint: Boolean = true): Boolean = {
    // AUTO-DECLARATION: a commit that first USES a gated capability
    // grows the protocol in the SAME commit (no extra version — version
    // arithmetic downstream stays intact). Once declared, later uses
    // add nothing.
    // sharding decision made BEFORE publish so the protocol feature
    // lands in the same commit the sharded checkpoint belongs to; the
    // projected live count reads the prior state (the cached head)
    val willCheckpoint = checkpoint && v % CheckpointEvery == 0 && v > 0
    val willShard = willCheckpoint && {
      val prior = stateAt(table, versions(table), v - 1).snapshot.files.map(_.path).toSet
      (prior -- removes ++ adds.map(_.path)).size > CheckpointInlineMax
    }
    val implied = (if (adds.exists(_.dv.isDefined)) Set("deletionVectors") else Set.empty[String]) ++
      (if (extra.contains("cdcFile")) Set("changeDataFeed") else Set.empty[String]) ++
      (if (schema.exists(ColumnMapping.stamped)) Set("columnMapping") else Set.empty[String]) ++
      (if (willShard) Set("shardedCheckpoint") else Set.empty[String])
    val extraP =
      if (implied.isEmpty || extra.contains("protocol")) extra
      else {
        val cur = protocolAt(table)
        if (implied.subsetOf(cur.readerFeatures) && implied.subsetOf(cur.writerFeatures)) extra
        else extra + ("protocol" -> protocolToNode(
          Protocol(cur.readerFeatures ++ implied, cur.writerFeatures ++ implied)))
      }
    val ok = publishExclusive(vd.resolve("commit.json"),
      commitBytes(v, op, adds, removes, batchId, schema, extraP))
    if (ok && willCheckpoint) {
      val vs = versions(table)
      val st = stateAt(table, vs, v)
      val snap = st.snapshot
      // file list: inline for small tables, sharded JSONL above the
      // threshold (shards written BEFORE the manifest — a crash in
      // between leaves no checkpoint, and replay-from-commits is
      // always correct). The decision follows `willShard`, which is
      // what the protocol declaration above gated.
      val fileEntries: Map[String, Object] =
        if (!willShard) Map("files" -> (snap.files.map(addToNode).asJava: Object))
        else {
          val shardDir = vd.resolve("checkpoint.d")
          Files.createDirectories(shardDir)
          val refs = snap.files.grouped(CheckpointShardLines).zipWithIndex.map {
            case (group, i) =>
              val name = f"part-$i%05d.jsonl"
              writeJsonAtomic(shardDir.resolve(name),
                group.map(a => mapper.writeValueAsString(addToNode(a)))
                  .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
              s"checkpoint.d/$name"
          }.toVector
          Map("filesRef" -> (refs.asJava: Object),
            "filesCount" -> (java.lang.Long.valueOf(snap.files.size): Object))
        }
      // the scalar fields of the fold, so every one of them replays at
      // most CheckpointEvery commits. batchMax (Delta's txn
      // appId/version watermark; -1 = no batch commits below) and
      // partitionCols are ALWAYS written: their absence marks a
      // checkpoint that predates them, which the fold never seeds from.
      // The RESOLVED multi-table txn outcomes (with the still-pending
      // markers carried forward for the next checkpoint to retry) make
      // pre-checkpoint `_txnout` replicas vacuumable.
      val (txo, txp) = txnOutcomesUpTo(table, vs, v)
      val ck = (fileEntries
        ++ Map[String, Object]("version" -> java.lang.Long.valueOf(v),
        "batchMax" -> java.lang.Long.valueOf(st.batchMax.getOrElse(-1L)),
        "partitionCols" -> (st.partitionCols.asJava: Object))
        ++ (if (st.constraints.isEmpty) Map.empty[String, Object]
            else Map("constraints" -> (st.constraints.asJava: Object)))
        ++ (if (st.tags.isEmpty) Map.empty[String, Object]
            else Map("tags" -> (st.tags.view.mapValues(java.lang.Long.valueOf(_): Object)
              .toMap.asJava: Object)))
        ++ propsExtra(st.props)
        ++ sourcesExtra(st.sources)
        ++ (if (txo.isEmpty) Map.empty[String, Object]
            else Map("txnOutcomes" -> (txo.asJava: Object)))
        ++ (if (txp.isEmpty) Map.empty[String, Object]
            else Map("txnPending" -> (txp.asJava: Object)))
        // absent protocol = Empty, the pre-upgrade shape
        ++ (if (st.protocol.isEmpty) Map.empty[String, Object]
            else Map("protocol" -> protocolToNode(st.protocol)))).asJava
      writeJsonAtomic(vd.resolve("checkpoint.json"), mapper.writeValueAsBytes(ck))
    }
    ok
  }

  /** Resolve an orphan claim by publishing an EMPTY no-op commit into
    * it — never by deleting, so a published commit can never disappear
    * and a resumed claimant's own publish simply fails create-exclusive
    * and retries at a fresh version. */
  private def publishAbandoned(table: Path, vd: Path, v: Long): Unit =
    publishCommit(table, vd, v, "abandoned", Nil, Nil, None, None): Unit

  /** Claim exactly version `v`; false if someone else got there first.
    * `batchId` tags the commit with a streaming batch id (see
    * [[streamingAppend]]); `schema` records the table schema as of this
    * commit (the metadata the reads resolve against — see
    * [[tableSchema]]). */
  def tryCommit(table: Path, v: Long, op: String,
      adds: Seq[AddFile], removes: Seq[String], batchId: Option[Long] = None,
      schema: Option[StructType] = None,
      extra: Map[String, Object] = Map.empty): Boolean = {
    Files.createDirectories(logDir(table))
    val vd = versionDir(table, v)
    claimDir(vd) && publishCommit(table, vd, v, op, adds, removes, batchId, schema, extra)
  }

  // --------------------------------------------- multi-table transactions

  /** One participant operation of a multi-table transaction. */
  sealed trait TxnOp { def table: Path }
  /** Atomic append of `df` to `table` (schema-enforced, constraint-
    * checked on the staged bytes, footer stats promoted — the same
    * pipeline as [[append]]). `batchId` tags the commit with a
    * streaming batch id so a transaction driven per micro-batch can be
    * made exactly-once: the driver checks [[isBatchCommitted]] on the
    * tagged participant before staging, and a redelivered batch skips
    * the WHOLE transaction (the tag resolves with the txn — an aborted
    * transaction's tag never advances the watermark). */
  final case class TxnAppend(table: Path, df: DataFrame, statsCol: String,
      nParts: Int = 1, batchId: Option[Long] = None) extends TxnOp
  /** Atomic merge-on-read delete of `keys` from `table` (DV sidecars,
    * no file rewrite — the same pipeline as [[deleteMor]], `carry` and
    * `props` included: `props` runs on the probe taken under the claim
    * fence, so the properties it derives from the frozen head are
    * exact). */
  final case class TxnDeleteMor(table: Path, keys: DataFrame, keyCol: String,
      carry: Seq[String] = Nil,
      props: Array[Row] => Map[String, String] = _ => Map.empty) extends TxnOp
  /** Atomic MERGE (upsert) of `df` into `table` as a transaction
    * participant: rows whose `keyCol` already exists are replaced
    * (merge-on-read — the old versions are DV'd out, zero files
    * rewritten) and new keys are inserted, in ONE commit of this
    * table. Delete-then-insert-all semantics: every row of `df` lands;
    * every pre-existing row sharing a key with `df` is removed. The
    * expensive half (staging `df`) happens in PREPARE before any claim
    * is held; only the churn-sized DV computation runs under the
    * fence. */
  final case class TxnMerge(table: Path, df: DataFrame, keyCol: String,
      statsCol: String, nParts: Int = 1) extends TxnOp

  /** Claim `table`'s next version, resolving stale squatters, until
    * `deadline`. The caller holds the claim on return. */
  private def acquireClaim(table: Path, deadline: Long): (Long, Path) = {
    Files.createDirectories(logDir(table))
    while (true) {
      val v = latestVersion(table) + 1
      val vd = versionDir(table, v)
      if (claimDir(vd)) return (v, vd)
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"transaction lost the claim race on $table past the lease deadline")
      reclaimIfStale(table, v)
    }
    throw new IllegalStateException("unreachable")
  }

  /** ATOMIC MULTI-TABLE TRANSACTION — all participating tables observe
    * every operation or none, across crashes, with zero read-path cost
    * for ordinary commits (see the design discussion in the object
    * scaladoc). One operation per table; returns table -> committed
    * version. The protocol is commit-marker two-phase commit on the
    * log's own primitives:
    *
    *  1. PREPARE (no locks held): every append's data is staged,
    *     constraint-checked and stats-promoted into its table dir —
    *     the expensive distributed I/O happens before any claim.
    *  2. CLAIM each participant's next version in CANONICAL PATH ORDER
    *     (resource ordering = deadlock freedom when transactions
    *     overlap); a held claim freezes that table's log.
    *  3. Under the fence: schemas re-validated, merge-on-read DVs
    *     computed against the now-frozen snapshots.
    *  4. A marker directory (in the first participant's log) gets a
    *     `pending` file naming all participants.
    *  5. Every participant's commit.json is published carrying a `txn`
    *     reference to the marker. These commits are IN-DOUBT: readers
    *     resolve them through [[resolveTxn]].
    *  6. THE ATOMIC DECISION: `outcome` is created create-exclusive
    *     ("committed"). A crashed coordinator's pending marker is
    *     aborted by any reader after [[StaleClaimMs]] through the same
    *     create-exclusive file — exactly one outcome can ever exist,
    *     and every participant commit flips with it, atomically.
    *
    * Crash matrix: before step 5 — claims resolve as abandoned no-ops;
    * during step 5 — published commits abort with the marker, unpublished
    * claims resolve as abandoned (all-or-nothing holds: nothing
    * committed); after step 6 — all commits were already published, the
    * decision makes them all effective at once. */
  def transact(spark: SparkSession, ops: Seq[TxnOp]): Map[Path, Long] = {
    require(ops.nonEmpty, "transact: no operations")
    // canonicalize through symlinks where possible: two spellings of
    // ONE table must collapse to one key (the distinct check) and one
    // claim-order position (deadlock freedom depends on every
    // transaction sorting the same directory identically)
    def canon(p: Path): Path =
      try { if (Files.exists(p)) p.toRealPath() else p.toAbsolutePath.normalize }
      catch { case _: java.io.IOException => p.toAbsolutePath.normalize }
    val keyed = ops.map(o => canon(o.table) -> o)
    require(keyed.map(_._1).distinct.size == ops.size,
      "transact: one operation per table per transaction")
    val ordered = keyed.sortBy(_._1.toString).map(_._2)
    // feature gate every participant BEFORE staging: refusal must come
    // while nothing is claimed and nothing is staged
    ordered.foreach(o => if (versions(o.table).nonEmpty) requireWritable(o.table))

    // ---- 1. PREPARE: stage append/merge data before holding any claim
    def stageFor(table: Path, df: DataFrame, statsCol: String,
        nParts: Int): Seq[AddFile] = {
      Files.createDirectories(table)
      validateSchema(tableSchema(table), df.schema, allowEvolution = false): Unit
      val partCols = partitionColsOf(table)
      if (partCols.nonEmpty)
        // a hive-partitioned participant keeps its layout (and its
        // partition-pruned reads) through the transaction
        stagePartitioned(spark, df, table, partCols, statsCol,
          clusterCol = None, nParts = nParts)
      else {
        val stage = table.resolve(s".stage-${UUID.randomUUID()}")
        phys(if (nParts > 0) df.repartition(nParts) else df, table)
          .write.mode("overwrite").parquet(stage.toString)
        enforceConstraintsStaged(spark, table, stage)
        promoteStaged(spark, stage, table, statsCol)
      }
    }
    val prepared: Seq[(TxnOp, Seq[AddFile])] = ordered.map {
      case a: TxnAppend => (a, stageFor(a.table, a.df, a.statsCol, a.nParts))
      case m: TxnMerge =>
        require(versions(m.table).nonEmpty, s"transact: no committed versions in ${m.table}")
        (m, stageFor(m.table, m.df, m.statsCol, m.nParts))
      case d: TxnDeleteMor =>
        require(versions(d.table).nonEmpty, s"transact: no committed versions in ${d.table}")
        (d, Nil)
    }

    val deadline = System.currentTimeMillis() + StaleClaimMs + 60_000L
    var claimed = Vector.empty[(TxnOp, Long, Path)]
    var markerDir: Path = null
    try {
      // ---- 2. CLAIM in canonical order
      prepared.foreach { case (op, _) =>
        val (v, vd) = acquireClaim(op.table, deadline)
        claimed :+= ((op, v, vd))
      }
      // ---- 3. finalize actions under the fence
      val staged = prepared.toMap
      val actions = claimed.map {
        case (a: TxnAppend, v, vd) =>
          val schemaNow = validateSchema(tableSchema(a.table), a.df.schema,
            allowEvolution = false)
          (a: TxnOp, v, vd, staged(a), "append", Some(schemaNow), Map.empty[String, Object])
        case (m: TxnMerge, v, vd) =>
          val schemaNow = validateSchema(tableSchema(m.table), m.df.schema,
            allowEvolution = false)
          // the frozen snapshot lists only COMMITTED files — the staged
          // new rows are invisible to it, so the DVs cover exactly the
          // pre-merge holders of the merged keys
          val snap = snapshotAt(m.table)
          val d = morDelta(spark, m.table, snap, morKeys(m.df, m.keyCol), m.keyCol)
          (m: TxnOp, v, vd, d.dvAdds ++ staged(m), "merge-mor", Some(schemaNow),
            Map.empty[String, Object])
        case (d: TxnDeleteMor, v, vd) =>
          val snap = snapshotAt(d.table) // frozen: we hold the next-version claim
          val delta = morDelta(spark, d.table, snap, morKeys(d.keys, d.keyCol), d.keyCol,
            d.carry)
          (d: TxnOp, v, vd, delta.dvAdds, "delete-mor", None, propsExtra(d.props(delta.probed)))
      }
      // ---- 4. marker PENDING in the first participant's log
      markerDir = logDir(actions.head._1.table)
        .resolve("_txn").resolve(UUID.randomUUID().toString)
      Files.createDirectories(markerDir)
      val participants = actions.map { case (op, v, _, _, _, _, _) =>
        Map[String, Object]("table" -> op.table.toAbsolutePath.normalize.toString,
          "version" -> java.lang.Long.valueOf(v)).asJava
      }.asJava
      Files.write(markerDir.resolve("pending"),
        mapper.writeValueAsBytes(Map("participants" -> participants).asJava)): Unit
      // ---- 5. publish every participant commit, txn-flagged
      val markerRef = markerDir.toAbsolutePath.normalize.toString
      actions.foreach { case (op, v, vd, adds, opName, schemaNow, props) =>
        val bid = op match { case a: TxnAppend => a.batchId; case _ => None }
        val ok = publishCommit(op.table, vd, v, opName, adds, Nil, bid, schemaNow,
          extra = props + ("txn" -> markerRef), checkpoint = false)
        if (!ok) throw new IllegalStateException(
          s"transact: publish lost its claim on ${op.table} v$v (stalled past the lease)")
      }
      // ---- 6. the atomic decision
      val won = publishExclusive(markerDir.resolve("outcome"),
        "committed".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val outcome = if (won) "committed"
        else readUtf8(markerDir.resolve("outcome"))
      if (outcome != "committed") throw new IllegalStateException(
        "transact: aborted by a lease-expiry resolver before the decision landed")
      actions.foreach(x => txnOutcomes.put(x._1.table, markerRef, (), "committed"))
      // replicate the decision into EVERY participant's own log before
      // returning: a transaction that completed can then never be
      // retroactively voided by the marker-hosting table being dropped,
      // moved or renamed — each survivor resolves from its own _txnout
      val txnId = markerDir.getFileName.toString
      actions.foreach(x => replicateOutcome(x._1.table, txnId, "committed"))
      actions.map(x => (x._1.table, x._2)).toMap
    } catch {
      case scala.util.control.NonFatal(e) =>
        // decide ABORT first (voids any published participant commit),
        // then resolve unpublished claims as abandoned no-ops
        if (markerDir != null && !Files.exists(markerDir.resolve("outcome")))
          publishExclusive(markerDir.resolve("outcome"), "aborted".getBytes(
            java.nio.charset.StandardCharsets.UTF_8)): Unit
        if (markerDir != null) {
          // replicate whatever the marker now says (ours or a racing
          // resolver's) so abort resolution is also sibling-independent
          val decided = try readUtf8(markerDir.resolve("outcome"))
            catch { case _: java.io.IOException => null }
          if (decided != null)
            claimed.foreach(x => replicateOutcome(x._1.table,
              markerDir.getFileName.toString, decided))
        }
        claimed.foreach { case (op, v, vd) =>
          if (!Files.exists(vd.resolve("commit.json")))
            publishAbandoned(op.table, vd, v)
        }
        throw e
    }
  }

  /** How long a claimed-but-unpublished version dir may block the log
    * before a retrying writer resolves it as an abandoned no-op commit.
    * A writer that pauses longer than this mid-commit loses its claim —
    * the lease discipline every log-store commit protocol documents. */
  private[ops] var StaleClaimMs: Long = 10 * 60 * 1000L

  /** Optimistic-retry commit with CLAIM-FENCED validation: the version
    * directory is claimed FIRST; because any other commit would need
    * that same next version, holding the claim freezes the log — the
    * snapshot `validate` sees cannot change before our publish, closing
    * the validate-then-claim race. On validation failure the claim is
    * resolved as an abandoned no-op (never left to squat) and the
    * commit throws. A claim squatted by a crashed writer is resolved
    * the same way after [[StaleClaimMs]]; before that the loop backs
    * off briefly. */
  def commitRetry(table: Path, op: String, adds: Seq[AddFile], removes: Seq[String],
      maxAttempts: Int = 60, batchId: Option[Long] = None,
      schema: => Option[StructType] = None,
      extra: Map[String, Object] = Map.empty)(
      validate: Option[Snapshot] => Boolean): Long = {
    // time-based bound: the loop must be able to OUTLAST a crashed
    // writer's full staleness lease (plus margin) — an attempt-count
    // bound alone would report a spurious 'lost races' outage for the
    // whole lease window. maxAttempts still floors the live-contention
    // patience when the lease is configured very short.
    val deadline = System.currentTimeMillis() + StaleClaimMs + 60_000L
    // feature gate BEFORE any claim: an engine that does not understand
    // a required writer feature must refuse, not commit-and-corrupt
    requireWritable(table)
    var attempt = 0
    while (attempt < maxAttempts || System.currentTimeMillis() < deadline) {
      val v = latestVersion(table) + 1
      Files.createDirectories(logDir(table))
      val vd = versionDir(table, v)
      if (claimDir(vd)) {
        // EVERYTHING between claim and publish is fenced: a failing
        // validate, a throwing schema thunk, a vacuumed-away add file, or
        // an unexpected publish error all resolve the claim as an
        // abandoned no-op commit instead of squatting it for the full
        // staleness lease (which would block every other writer).
        val published = try {
          val snap = if (v == 0) None else Some(snapshotAt(table))
          if (!validate(snap))
            throw new IllegalStateException(s"commit '$op' no longer valid at version $v")
          // the recorded schema is (re)computed UNDER the claim fence: a
          // concurrent schema-evolving commit that landed since our first
          // read must not be shadowed by a stale pre-evolution schema
          val schemaNow = schema
          // a writer that stalled between promote and commit may have had
          // its (snapshot-unreferenced) files reclaimed by a concurrent
          // vacuum; publishing would produce an unreadable snapshot, so
          // verify every add is still on disk and fail THIS write instead
          // ...including DV sidecars: an AddFile whose .dv.json was
          // reclaimed is just as unreadable as one whose parquet was
          val gone = adds.flatMap(a => a.path +: a.dv.toSeq)
            .filterNot(p => Files.exists(table.resolve(p)))
          if (gone.nonEmpty)
            throw new IllegalStateException(s"commit '$op': data files vanished " +
              s"(vacuumed?) before commit: ${gone.mkString(", ")}")
          publishCommit(table, vd, v, op, adds, removes, batchId, schemaNow, extra)
        } catch { case e: Throwable => publishAbandoned(table, vd, v); throw e }
        if (published) return v
        // publish lost create-exclusive: we stalled past the lease and a
        // reclaimer resolved our claim — retry at a fresh version
      } else reclaimIfStale(table, v)
      attempt += 1
    }
    throw new IllegalStateException(s"commit '$op' lost the commit race past the lease deadline")
  }

  /** Blocked at version v: either a live writer is about to publish it
    * (back off briefly — its commit.json advances latestVersion) or a
    * crashed writer's orphan claim is squatting (resolve as abandoned
    * after the staleness window; publishing is atomic create-exclusive,
    * so this can never clobber a commit that lands concurrently). */
  private def reclaimIfStale(table: Path, v: Long): Unit = {
    val vd = versionDir(table, v)
    if (Files.isDirectory(vd) && !Files.exists(vd.resolve("commit.json"))) {
      val age = try System.currentTimeMillis() -
        Files.getLastModifiedTime(vd).toMillis catch { case _: java.io.IOException => 0L }
      if (age > StaleClaimMs) publishAbandoned(table, vd, v)
      else Thread.sleep(25)
    }
  }

  // ------------------------------------------------------- schema metadata

  /** The table schema as of `version` (latest when None): the newest
    * schema-carrying commit at or below it. Reads resolve against THIS —
    * metadata, not file footers — so a snapshot read never pays a
    * footer-merge pass (`mergeSchema`) over 100k files. */
  def tableSchema(table: Path, version: Option[Long] = None): Option[StructType] = {
    val vs = versions(table)
    val upTo = version.getOrElse(if (vs.isEmpty) -1L else vs.last)
    vs.filter(_ <= upTo).reverse.iterator.flatMap { v =>
      // through commitNode, NOT a raw commit.json read: an ABORTED
      // multi-table transaction's append must not establish or advance
      // the table schema (its txn-aborted replay carries no schema)
      val node = commitNode(table, v)
      Option(node.get("schema")).map(s => DataType.fromJson(s.asText).asInstanceOf[StructType])
    }.nextOption()
  }

  /** The SCHEMA CHANGE LOG: every version whose recorded schema DIFFERS
    * from the previous recording, with its schema — the `` t$schema ``
    * metadata table's source. One commit read per version (the
    * [[history]] cost), txn-resolved like [[tableSchema]] so an aborted
    * transaction's append never shows as a schema era. */
  def schemaHistory(table: Path): Seq[(Long, StructType)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, StructType)]
    var last: Option[StructType] = None
    versions(table).foreach { v =>
      Option(commitNode(table, v).get("schema"))
        .map(s => DataType.fromJson(s.asText).asInstanceOf[StructType])
        .foreach { s =>
          if (!last.contains(s)) { out += ((v, s)); last = Some(s) }
        }
    }
    out.toSeq
  }

  /** Schema ENFORCEMENT + optional additive EVOLUTION (the Delta write
    * contract): every written field must match the table schema by name
    * and type; brand-new fields are appended to the table schema only
    * when `allowEvolution` is set, and a type conflict is refused
    * always. Returns the (possibly evolved) table schema to record. */
  private def validateSchema(current: Option[StructType], incoming: StructType,
      allowEvolution: Boolean): StructType = current match {
    case None => incoming
    case Some(cur) =>
      val curByName = cur.fields.map(f => f.name -> f).toMap
      val conflicts = incoming.fields.filter(f =>
        curByName.get(f.name).exists(_.dataType != f.dataType))
      if (conflicts.nonEmpty)
        throw new IllegalArgumentException(
          s"schema type conflict on ${conflicts.map(_.name).mkString(", ")}: " +
          s"table has ${conflicts.map(f => curByName(f.name).dataType).mkString(", ")}, " +
          s"write has ${conflicts.map(_.dataType).mkString(", ")}")
      val newFields = incoming.fields.filterNot(f => curByName.contains(f.name))
      if (newFields.nonEmpty && !allowEvolution)
        throw new IllegalArgumentException(
          s"write adds fields ${newFields.map(_.name).mkString(", ")} " +
          "not in the table schema; pass allowEvolution=true to evolve")
      // a column-mapped table's new fields need FRESH physical names
      // minted under a single commit — write-time evolution would mint
      // one per validation call; route through ALTER TABLE ADD COLUMN
      if (newFields.nonEmpty && ColumnMapping.stamped(cur))
        throw new IllegalArgumentException(
          s"table uses column mapping: evolve with ALTER TABLE ADD COLUMN / " +
          s"TxLog.addColumn, then write (write adds ${newFields.map(_.name).mkString(", ")})")
      StructType(cur.fields ++ newFields.map(_.copy(nullable = true)))
  }

  /** Canonical LOGICAL merge-on-read scan of exactly `files` — every
    * internal read of live data files MUST go through this:
    *
    *  - the parquet read resolves against the log's schema as of
    *    `version` (latest when None), under its PHYSICAL column names —
    *    a bare spark.read.parquet over mixed-schema files would infer
    *    from one file and silently DROP later-evolved columns, and a
    *    column-mapped table's files only know physical names;
    *  - deletion vectors apply on the raw physical frame (DV key
    *    columns are recorded physical for exactly this reason);
    *  - the result projects to the LOGICAL names of the schema at
    *    `version` (identity for unmapped tables — the historical plan,
    *    byte for byte).
    *
    * `fileCol` optionally tags each row with its serving file name,
    * computed AT THE SCAN (before the DV anti-join). Falls back to
    * footer inference for tables written before schema tracking. */
  private def scanFiles(spark: SparkSession, table: Path, files: Seq[AddFile],
      version: Option[Long] = None, fileCol: Option[String] = None): DataFrame = {
    val schemaOpt = tableSchema(table, version)
    val reader = schemaOpt match {
      case Some(s) => spark.read.schema(ColumnMapping.physicalSchema(s))
      case None => spark.read
    }
    val raw0 = reader.parquet(files.map(f => table.resolve(f.path).toString): _*)
    val raw = fileCol.fold(raw0)(c =>
      raw0.withColumn(c, element_at(split(input_file_name(), "/"), -1)))
    val dvApplied = applyDvs(spark, table, files, raw)
    schemaOpt.fold(dvApplied)(s => ColumnMapping.toLogical(dvApplied, s))
  }

  // ------------------------------------------------------- CHECK constraints

  /** Record a CHECK constraint on the table — a named SQL boolean
    * expression every FUTURE write of new rows must satisfy (Delta's
    * `ALTER TABLE ADD CONSTRAINT ... CHECK`). The constraint is itself
    * a commit (op `set-constraint`, no files), so it is ordered with
    * every other commit, travels with time travel, and replays from
    * checkpoints like the rest of the state. SQL-standard semantics: a
    * row violates only when the expression is FALSE — NULL passes.
    * Existing rows are NOT re-validated (the Delta behavior is to scan
    * and reject; our writes-only contract is documented — validate the
    * table first if needed). Re-setting a name replaces its expression.
    * The expression is resolved against the table schema NOW, so a
    * typo fails fast here rather than at the next write. */
  def setConstraint(spark: SparkSession, table: Path, name: String, sqlExpr: String): Long = {
    require(name.nonEmpty && !name.contains('\n'), s"bad constraint name '$name'")
    tableSchema(table).foreach { s =>
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
        .filter(expr(sqlExpr)).queryExecution.analyzed: Unit // unresolvable -> throws here
    }
    commitRetry(table, "set-constraint", Nil, Nil,
      extra = Map("constraintName" -> name, "constraintExpr" -> sqlExpr))(_ => true)
  }

  /** Named TAGS over versions (Iceberg's tag refs): `set-tag` is a
    * COMMIT (ordered with every other commit, audited, checkpoint-
    * folded), so the tag table is itself time-travel-consistent and
    * repointing a tag is one more commit — never an in-place mutation.
    * `VERSION AS OF 'release-1'` in the SQL catalog resolves through
    * [[tags]]. A numeric name is refused (it would shadow version
    * numbers in the SQL surface). */
  def setTag(table: Path, name: String, version: Long): Long = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"tag name '$name' must not be numeric (it would shadow a version number)")
    require(versions(table).contains(version),
      s"cannot tag unknown version $version of $table")
    commitRetry(table, "set-tag", Nil, Nil,
      extra = Map("tagName" -> name,
        "tagVersion" -> (java.lang.Long.valueOf(version): Object)))(_ => true)
  }

  /** The tags in force at `version` (latest when None): a field of the
    * log fold ([[stateAt]]). */
  def tags(table: Path, version: Option[Long] = None): Map[String, Long] =
    stateOf(table, version).tags

  /** The constraints in force at `version` (latest when None): a field
    * of the log fold ([[stateAt]]). */
  def constraints(table: Path, version: Option[Long] = None): Map[String, String] =
    stateOf(table, version).constraints

  /** TABLE PROPERTIES (Delta's `metaData.configuration`): string
    * key/values that ride the commits they describe. A commit's `props`
    * object upserts its keys (a null value removes one), the checkpoint
    * records the folded map, and the state at a version is a field of
    * the log fold ([[stateAt]]) — so a derived artifact's scalars (a
    * text index's corpus statistics, an index's column binding) are
    * read from the same snapshot version as the rows they describe, and
    * change in the same atomic commit. Empty for a table that never set
    * one. */
  def propsAt(table: Path, version: Option[Long] = None): Map[String, String] =
    stateOf(table, version).props

  /** SOURCE FILES: the names of the input files a derived table has
    * consumed — an index's corpus watermark. A commit's `sources` array
    * adds its names; a `clone` or `restore` commit carries the whole set
    * it establishes (a clone the source's, a restore the target
    * version's, so files consumed after that version are consumed
    * again). The checkpoint records the folded set, and the set at a
    * version is a field of the log fold ([[stateAt]]), so it advances
    * in the same atomic commit as the rows derived from those files.
    * Empty for a table that never recorded one. */
  def sourcesAt(table: Path, version: Option[Long] = None): Set[String] =
    stateOf(table, version).sources

  /** A commit that changes only properties and source files (op
    * `set-props`, no data files). */
  def setProps(table: Path, props: Map[String, String], sources: Seq[String] = Nil): Long =
    commitRetry(table, "set-props", Nil, Nil,
      extra = propsExtra(props) ++ sourcesExtra(sources))(_ => true)

  /** Validate a write's NEW rows against the table's constraints — ONE
    * combined filter pass over the WRITE-sized delta (never the table),
    * however many constraints are set. Violation = expression FALSE
    * (NULL passes). On violation only, a per-constraint re-probe names
    * the offenders (exceptional path, clarity over speed). */
  private def enforceConstraints(table: Path, df: DataFrame): Unit = {
    val cons = constraints(table)
    if (cons.nonEmpty) {
      val pass = cons.values.map(e => coalesce(expr(e), lit(true))).reduce(_ and _)
      if (df.filter(not(pass)).limit(1).count() > 0) {
        val names = cons.collect { case (name, e)
          if df.filter(not(coalesce(expr(e), lit(true)))).limit(1).count() > 0 => s"'$name' ($e)" }
        throw new IllegalArgumentException(
          s"CHECK constraint ${names.mkString(", ")} violated by the write; no data was committed")
      }
    }
  }

  /** Constraint check against the STAGED parquet (post-write,
    * pre-commit): validates exactly the bytes the commit would publish —
    * a nondeterministic input (rand(), changing source) can no longer
    * pass validation yet stage different rows — and replaces a full
    * re-evaluation of the write's input plan with a columnar scan of
    * the churn-sized stage. On violation the stage is deleted; nothing
    * was committed. */
  private def enforceConstraintsStaged(spark: SparkSession, table: Path, stage: Path): Unit =
    if (constraints(table).nonEmpty) {
      // staged files carry PHYSICAL names; constraint expressions are
      // written against logical names — project before validating
      try enforceConstraints(table, {
        val raw = spark.read.parquet(stage.toString)
        tableSchema(table).fold(raw)(s => ColumnMapping.toLogical(raw, s))
      })
      catch { case e: Throwable => deleteRecursively(stage); throw e }
    }

  // --------------------------------------------------------- column mapping

  /** Convert a LOGICAL-named frame to the table's physical column names
    * at the parquet write boundary (identity for unmapped tables —
    * every staged write funnels through this). */
  private def phys(df: DataFrame, table: Path): DataFrame =
    tableSchema(table).fold(df)(s => ColumnMapping.toPhysical(df, s))

  /** Physical name of the table's logical column `name` (identity for
    * unmapped tables / unknown names). */
  private def physName(table: Path, name: String): String =
    tableSchema(table).fold(name)(ColumnMapping.physicalOf(_, name))

  // ------------------------------------------------------------- file stats

  /** Footer-only stats for one parquet file: row count from block
    * metadata, min/max of `statsCol` from the column-chunk statistics.
    * No data pages are read. The footer is opened with `conf`
    * ([[ParquetOpen.footer]]), so a caller promoting many files takes
    * one Hadoop configuration for all of them. */
  def footerStats(conf: Configuration, file: Path, statsCol: String): AddFile = {
    val reader = ParquetOpen.footer(conf, new HPath(file.toString))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      // one footer pass collects [min,max] for EVERY integer column,
      // plus TRUNCATED [min,max+1) for every string (UTF-8 binary) one
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      val sacc = scala.collection.mutable.Map.empty[String, (String, String)]
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          val st = c.getStatistics
          if (st != null && st.hasNonNullValue) {
            val range: Option[(Long, Long)] = (st.genericGetMin, st.genericGetMax) match {
              case (lo: java.lang.Long, hi: java.lang.Long) => Some((lo, hi))
              case (lo: java.lang.Integer, hi: java.lang.Integer) =>
                Some((lo.longValue, hi.longValue))
              case _ => None
            }
            range.foreach { case (lo, hi) =>
              val cur = acc.getOrElse(name, (Long.MaxValue, Long.MinValue))
              acc(name) = (math.min(cur._1, lo), math.max(cur._2, hi))
            }
            (st.genericGetMin, st.genericGetMax) match {
              case (lo: org.apache.parquet.io.api.Binary, hi: org.apache.parquet.io.api.Binary)
                  if c.getPrimitiveType.getLogicalTypeAnnotation ==
                    org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
                val (los, his) = (lo.toStringUsingUTF8, hi.toStringUsingUTF8)
                val cur = sacc.get(name)
                sacc(name) = (
                  cur.map(_._1).filter(cpCompare(_, los) <= 0).getOrElse(los),
                  cur.map(_._2).filter(cpCompare(_, his) >= 0).getOrElse(his))
              case _ => ()
            }
          }
        }
      }
      // cap at MaxStatsCols TOTAL with the DESIGNATED column always
      // ranked first — evicting it would silently disable all file
      // skipping, and naively re-adding it would exceed the documented
      // cap; string columns fill whatever slots remain
      val cols = (acc.get(statsCol).map(statsCol -> _).toSeq ++
        acc.toSeq.filter(_._1 != statsCol).sortBy(_._1))
        .take(MaxStatsCols).toMap
      val strCols = sacc.toSeq.sortBy(_._1)
        .take(math.max(0, MaxStatsCols - cols.size))
        .flatMap { case (name, (lo, hi)) =>
          truncMaxPlus(hi).map(hiB => name -> (truncMin(lo), hiB))
        }.toMap
      val (mn, mx) = cols.getOrElse(statsCol, (Long.MinValue, Long.MaxValue)) // unknown: never prunable
      AddFile(file.getFileName.toString, rows, mn, mx, cols, strCols = strCols)
    } finally reader.close()
  }

  // ----------------------------------------------------------------- writes

  /** Move every staged part file into the table root under a fresh UUID
    * name and return its footer-derived AddFile; the files stay
    * invisible to readers until a commit references them. */
  /** Shared per-file promote: fresh UUID name, atomic move into the
    * table root, footer stats — and a TOUCH of the file mtime, because
    * vacuum's retention window must measure time-since-PROMOTE: the
    * staged Spark write can itself run longer than the window, and
    * ATOMIC_MOVE preserves the stage-write mtime. */
  private def promoteParts(spark: SparkSession, parts: Vector[Path], table: Path,
      statsCol: String): Vector[AddFile] = {
    // footer stats are keyed by the names IN the file — physical names;
    // the caller's designated stats column is logical
    val physStats = physName(table, statsCol)
    val conf = spark.sessionState.newHadoopConf()
    parts.map { p =>
      val name = s"${UUID.randomUUID()}.parquet"
      val dest = table.resolve(name)
      Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      footerStats(conf, dest, physStats).copy(path = name)
    }.filter { a =>
      // zero-row part files (empty partitions/filters) carry no data and
      // would pollute the live set and file-count gates — drop them
      if (a.rows == 0L) { Files.deleteIfExists(table.resolve(a.path)); false }
      else true
    }
  }

  private def promoteStaged(spark: SparkSession, stage: Path, table: Path,
      statsCol: String): Vector[AddFile] = {
    val adds = promoteParts(spark,
      listDir(stage).filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString),
      table, statsCol)
    deleteRecursively(stage)
    adds
  }

  /** Write `df` as new data files (executor-parallel, `nParts` tasks) and
    * commit them as one atomic append. Files are staged under a private
    * directory, stats-read from their footers, then moved into the table
    * root under fresh UUID names before the commit makes them visible. */
  def append(spark: SparkSession, df: DataFrame, table: Path, statsCol: String,
      nParts: Int = 0, allowEvolution: Boolean = false): Long =
      Jobs.labeled(spark, s"txlog append ${table.getFileName}") {
    Files.createDirectories(table)
    validateSchema(tableSchema(table), df.schema, allowEvolution): Unit // fail fast pre-stage
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    val out = if (nParts > 0) df.repartition(nParts) else df
    phys(out, table).write.mode("overwrite").parquet(stage.toString)
    enforceConstraintsStaged(spark, table, stage)
    val adds = promoteStaged(spark, stage, table, statsCol)
    // schema is a BY-NAME argument, re-validated under the claim fence
    commitRetry(table, "append", adds, Nil,
      schema = Some(validateSchema(tableSchema(table), df.schema, allowEvolution)))(_ => true)
  }

  /** [[readFiles]]'s driver-local twin: `files` of `table` read ON THE
    * DRIVER with parquet-mr's Group reader
    * — no Spark job — for serving paths whose whole input is a few
    * footer-pruned files. Only `columns` (logical names) are read, under
    * their physical names; `eq` (a long column, a value) is pushed into
    * the reader (row-group stats, then record level); each file's
    * deletion vector drops its rows exactly as the merge-on-read scan's
    * per-file keyed anti-join does. Rows come back under the logical
    * names, null where a file predates a column. Supported types: long,
    * int, double, boolean and string, plus [[graft.functions.TopKAgg]]'s
    * pair array; any other column is refused by name. Every file opens
    * with the one session Hadoop configuration taken per call
    * ([[ParquetOpen.records]]), so a file costs its decode, not a parse
    * of Hadoop's default configuration. */
  def readLocal(spark: SparkSession, table: Path, files: Seq[AddFile],
      columns: Seq[String], eq: Option[(String, Long)] = None): Vector[org.apache.spark.sql.Row] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType}
    val schema = tableSchema(table).getOrElse(throw new IllegalStateException(
      s"readLocal: no recorded schema for $table"))
    def field(name: String): StructField = schema.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"readLocal: no column '$name' in $table"))
    val flat = Set[DataType](LongType, IntegerType, DoubleType, BooleanType, StringType)
    val fields = columns.map(field)
    fields.foreach(f => if (!flat(f.dataType) && f.dataType != graft.functions.TopKAgg.resultType)
      throw new IllegalArgumentException(s"readLocal supports long/int/double/boolean/" +
        s"string and top-k pair columns; '${f.name}' is ${f.dataType} — use readFiles"))
    val eqPhys = eq.map { case (c, v) =>
      require(field(c).dataType == LongType, s"readLocal: eq column '$c' must be a long")
      (ColumnMapping.physical(field(c)), v)
    }
    val dvs: Map[String, (String, Set[Long])] = files.flatMap(f =>
      dvKeysFor(table, f).map { case (kc, keys) => f.path -> ((kc, keys.toSet)) }).toMap
    val wanted = (fields.map(ColumnMapping.physical) ++ eqPhys.map(_._1) ++
      dvs.values.map(_._1)).toSet
    def value(g: Group, name: String, dt: DataType): Any =
      if (!g.getType.containsField(name) || g.getFieldRepetitionCount(name) == 0) null
      else dt match {
        case LongType => g.getLong(name, 0)
        case IntegerType => g.getInteger(name, 0)
        case DoubleType => g.getDouble(name, 0)
        case BooleanType => g.getBoolean(name, 0)
        case StringType => g.getString(name, 0)
        case org.apache.spark.sql.types.ArrayType(st: StructType, _) =>
          // Spark's 3-level list: a repeated group holding the element
          val list = g.getGroup(name, 0)
          (0 until list.getFieldRepetitionCount(0)).map { i =>
            val elem = list.getGroup(0, i).getGroup(0, 0)
            new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              st.fields.map(sf => value(elem, sf.name, sf.dataType)), st)
          }
        case other => throw new IllegalArgumentException(s"readLocal: '$name' is $other")
      }
    def key(g: Group, name: String): Option[Long] =
      if (!g.getType.containsField(name) || g.getFieldRepetitionCount(name) == 0) None
      else g.getType.getType(name).asPrimitiveType.getPrimitiveTypeName match {
        case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 =>
          Some(g.getInteger(name, 0).toLong)
        case _ => Some(g.getLong(name, 0))
      }
    val out = StructType(fields.map(_.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val conf = spark.sessionState.newHadoopConf()
    val filter = eqPhys.fold(FilterCompat.NOOP) { case (c, v) =>
      FilterCompat.get(FilterApi.eq(FilterApi.longColumn(c), java.lang.Long.valueOf(v)))
    }
    files.toVector.flatMap { f =>
      val reader = ParquetOpen.records(conf, new HPath(table.resolve(f.path).toString),
        new ProjectedGroupRead(wanted)).withFilter(filter).useRecordFilter().build()
      val dv = dvs.get(f.path)
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .filter(g => dv.forall { case (kc, keys) => !key(g, kc).exists(keys) })
        .map(g => new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          fields.map(sf => value(g, ColumnMapping.physical(sf), sf.dataType)).toArray, out))
        .toVector
      finally reader.close()
    }
  }

  /** Group read support projecting each file onto the wanted physical
    * columns IT has — a column the file predates is simply absent (read
    * back as null), never a schema-mismatch failure. */
  private final class ProjectedGroupRead(wanted: Set[String])
      extends org.apache.parquet.hadoop.example.GroupReadSupport {
    override def init(ctx: org.apache.parquet.hadoop.api.InitContext)
        : org.apache.parquet.hadoop.api.ReadSupport.ReadContext = {
      val fs = ctx.getFileSchema
      val have = fs.getFields.asScala.filter(f => wanted(f.getName))
      // a projection onto none of the file's columns still needs one
      // column to count its rows by
      val cols = if (have.nonEmpty) have else fs.getFields.asScala.find(_.isPrimitive).toSeq
      new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(
        new org.apache.parquet.schema.MessageType(fs.getName, cols.asJava))
    }
  }

  /** Create an EMPTY table: version 0 is a pure-metadata commit carrying
    * the schema (and, when given, the hive partition columns every later
    * SQL insert must lay data out by). The SQL `CREATE TABLE` surface —
    * also what CTAS calls before its insert. Fails if the directory
    * already has a log (Delta's create-if-absent rule). */
  def create(table: Path, schema: StructType, partCols: Seq[String] = Nil): Long = {
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' is not in the table schema"))
    Files.createDirectories(table)
    require(versions(table).isEmpty, s"table $table already has a transaction log")
    commitRetry(table, "create", Nil, Nil, schema = Some(schema),
      extra = if (partCols.isEmpty) Map.empty
        else Map("partitionCols" -> (partCols.asJava: Object)))(_.isEmpty)
  }

  /** The partition columns in force at `version` (latest when None):
    * the newest `set-partitioning` commit wins, else the [[create]]-time
    * declaration — the Iceberg PARTITION EVOLUTION resolution shape. A
    * field of the log fold ([[stateAt]]). */
  def partitionColsOf(table: Path, version: Option[Long] = None): Seq[String] =
    stateOf(table, version).partitionCols

  /** PARTITION EVOLUTION (the Iceberg `ALTER TABLE ... [ADD|DROP]
    * PARTITION FIELD` capability, identity transforms): re-declare the
    * partition columns FUTURE writes lay data out by, as one
    * metadata-only `set-partitioning` commit — no existing file is
    * rewritten or even touched. Old files keep the partition values of
    * their era; [[pruneFilesPart]] is conservative for files without a
    * value recorded for a predicate column, so reads across the
    * evolution boundary stay exact (old files are scanned, the residual
    * row filter applies) while new files prune sharply. An empty list
    * un-partitions future writes. Time travel resolves the partitioning
    * of its era ([[partitionColsOf]] is versioned).
    *
    * Columns must be physical-stable (never renamed under column
    * mapping): hive directory names and recorded partition values are
    * logical-keyed, and [[renameColumn]] refuses current partition
    * columns — evolution must not smuggle a renamed column in. */
  def setPartitioning(table: Path, partCols: Seq[String]): Long = {
    val cur = tableSchema(table).getOrElse(throw new IllegalStateException(
      s"table $table has no recorded schema"))
    partCols.foreach { c =>
      require(cur.fieldNames.contains(c),
        s"partition column '$c' is not in the table schema")
      require(ColumnMapping.physicalOf(cur, c) == c,
        s"'$c' was renamed under column mapping; partition values are " +
        "logical-keyed — partition by a physical-stable column")
    }
    require(partCols.distinct.size == partCols.size,
      s"duplicate partition columns: ${partCols.mkString(", ")}")
    commitRetry(table, "set-partitioning", Nil, Nil,
      extra = Map("partitionCols" -> (partCols.asJava: Object)))(_ => true)
  }

  /** Additive schema evolution as a PURE-METADATA commit (SQL `ALTER
    * TABLE ADD COLUMN`): the evolved schema is recorded in one
    * `set-schema` commit touching no data files. Readers resolve
    * against the log's schema, so every pre-evolution file null-fills
    * the new column — exactly the append-time evolution path
    * ([[validateSchema]]), made reachable without a write. The column
    * must be new and is always nullable (old rows have no value). */
  def addColumn(table: Path, name: String, dataType: DataType): Long = {
    val cur = tableSchema(table).getOrElse(throw new IllegalStateException(
      s"table $table has no recorded schema to evolve"))
    require(!cur.fieldNames.contains(name), s"column '$name' already exists")
    // once mapping is active the new column gets a FRESH physical name:
    // re-adding a renamed-away or dropped logical name must NOT read the
    // old physical column's values back out of pre-evolution files
    commitRetry(table, "set-schema", Nil, Nil,
      schema = Some(StructType(cur.fields :+ ColumnMapping.newField(cur, name, dataType))))(
      _ => true)
  }

  /** SQL `ALTER TABLE RENAME COLUMN old TO new` — a ONE-COMMIT metadata
    * change under column mapping (the published Delta column-mapping
    * design, name mode): the first rename STAMPS every column's current
    * name as its frozen PHYSICAL name (what the parquet files already
    * carry), then only the LOGICAL name moves. No data file, deletion
    * vector, CDC sidecar, or stats entry is rewritten — they are all
    * keyed by physical names, which never change. Time travel reads
    * each version under ITS schema's logical names.
    *
    * Refused for partition columns (their values are directory-level
    * layout, [[pruneFilesPart]] keys on them) and when a CHECK
    * constraint still references the old name (drop or re-set the
    * constraint first — the Delta rule). */
  def renameColumn(spark: SparkSession, table: Path, oldName: String,
      newName: String): Long = {
    val cur = tableSchema(table).getOrElse(throw new IllegalStateException(
      s"table $table has no recorded schema"))
    require(cur.fieldNames.contains(oldName), s"column '$oldName' does not exist")
    require(!cur.fieldNames.contains(newName), s"column '$newName' already exists")
    require(!newName.startsWith("__graft") && !newName.startsWith("_graft") &&
      newName != "_change_type" && !newName.startsWith("__"),
      s"'$newName' collides with reserved metadata column names")
    require(!partitionColsOf(table).contains(oldName),
      s"'$oldName' is a partition column: its values are directory-level " +
      "layout; rewrite the table to re-partition instead")
    val stamped = ColumnMapping.stamp(cur)
    val next = StructType(stamped.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    validateConstraintsUnder(spark, table, next,
      s"rename column '$oldName' to '$newName'")
    commitRetry(table, "set-schema", Nil, Nil, schema = Some(next))(_ => true)
  }

  /** SQL `ALTER TABLE DROP COLUMN` — one metadata commit: the logical
    * field disappears, old files keep the physical column (readers stop
    * projecting it), and a later re-ADD of the same name gets a fresh
    * physical name so dropped values never resurrect. Time travel to a
    * pre-drop version still serves the column.
    *
    * Refused for partition columns, for the last remaining column, when
    * a CHECK constraint references it, and while any LIVE deletion
    * vector keys on it (the DV anti-join must be able to read its key
    * column; `CALL compact` folds the vectors in, then drop). */
  def dropColumn(spark: SparkSession, table: Path, name: String): Long = {
    val cur = tableSchema(table).getOrElse(throw new IllegalStateException(
      s"table $table has no recorded schema"))
    require(cur.fieldNames.contains(name), s"column '$name' does not exist")
    require(cur.fields.length > 1, s"cannot drop '$name': it is the only column")
    require(!partitionColsOf(table).contains(name),
      s"'$name' is a partition column: rewrite the table to re-partition instead")
    val physDropped = ColumnMapping.physicalOf(cur, name)
    val dvKeyed = snapshotAt(table).files.flatMap(_.dv)
      .map(d => readDv(table, d)._1).distinct
    require(!dvKeyed.contains(physDropped),
      s"live deletion vectors key on '$name'; CALL compact to fold them " +
      "in, then drop the column")
    val next = StructType(ColumnMapping.stamp(cur).fields.filterNot(_.name == name))
    validateConstraintsUnder(spark, table, next, s"drop column '$name'")
    commitRetry(table, "set-schema", Nil, Nil, schema = Some(next))(_ => true)
  }

  /** Refuse a schema change that would break a recorded CHECK
    * constraint: every constraint expression must still resolve against
    * the candidate schema (the Delta rule — drop or re-set the
    * constraint first). */
  private def validateConstraintsUnder(spark: SparkSession, table: Path,
      next: StructType, what: String): Unit =
    constraints(table).foreach { case (n, ex) =>
      try spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), next)
        .filter(expr(ex)).queryExecution.analyzed: Unit
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"cannot $what: CHECK constraint '$n' ($ex) would no longer " +
          s"resolve — drop or re-set the constraint first (${e.getMessage})")
      }
    }

  /** Atomic REPLACE of the table's contents (SQL `INSERT OVERWRITE`):
    * new data staged and promoted exactly like [[append]], then ONE
    * commit removes every currently-live file and adds the new set.
    * Readers pinned at older versions keep their files (nothing is
    * deleted until vacuum); OCC is strict — any concurrent commit
    * invalidates the captured live set and the overwrite retries its
    * commit against the fresh snapshot's file list via the validator
    * failing (the caller re-runs). The change feed treats an overwrite
    * like a sidecar-less COW commit: not row-replayable, fail fast or
    * skip — the Delta CDF position for replaced-table commits. */
  def overwrite(spark: SparkSession, df: DataFrame, table: Path, statsCol: String,
      nParts: Int = 0): Long =
      Jobs.labeled(spark, s"txlog overwrite ${table.getFileName}") {
    Files.createDirectories(table)
    validateSchema(tableSchema(table), df.schema, allowEvolution = false): Unit
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    val out = if (nParts > 0) df.repartition(nParts) else df
    phys(out, table).write.mode("overwrite").parquet(stage.toString)
    enforceConstraintsStaged(spark, table, stage)
    val adds = promoteStaged(spark, stage, table, statsCol)
    val base = overwriteBase(table)
    commitRetry(table, "overwrite", adds, base.files.map(_.path),
      schema = Some(validateSchema(tableSchema(table), df.schema, allowEvolution = false))) {
      case Some(s) => s.version == base.version
      case None => base.version == -1L
    }
  }

  /** The live set an overwrite replaces: the head snapshot behind the
    * reader gate, or version -1 with no files when the log is empty (the
    * overwrite then creates the table). */
  private def overwriteBase(table: Path): Snapshot = {
    val s = stateOf(table, None)
    requireReadable(table, s.snapshot.version, s.protocol)
    s.snapshot
  }

  /** The clustered writers' shared staging: shuffle `df` (logical
    * names) on `clusterCol`, write it with a partitionBy split (one file
    * per non-empty cluster) and promote the files in cluster order. The
    * shuffle has no fixed count, so adaptive execution sizes it by the
    * data: hashing keeps a cluster in one partition and coalescing merges
    * whole partitions, so the layout does not change. Without coalescing
    * it is `nClusters` partitions. `constrained` checks the table's CHECK
    * constraints on the staged files (a rewrite skips them). */
  private def writeClustered(spark: SparkSession, df: DataFrame, table: Path,
      statsCol: String, clusterCol: Column, nClusters: Int,
      constrained: Boolean): Vector[AddFile] = {
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    val keyed = phys(df.withColumn("__cluster", clusterCol), table)
    val sql = spark.sessionState.conf
    val shuffled =
      if (sql.adaptiveExecutionEnabled && sql.coalesceShufflePartitionsEnabled)
        keyed.repartition(col("__cluster"))
      else keyed.repartition(nClusters, col("__cluster"))
    shuffled.write.partitionBy("__cluster").mode("overwrite").parquet(stage.toString)
    if (constrained) enforceConstraintsStaged(spark, table, stage)
    val parts = listDir(stage).filter(p => p.getFileName.toString.startsWith("__cluster="))
      .sortBy(_.getFileName.toString)
      .flatMap(d => listDir(d).filter(_.getFileName.toString.endsWith(".parquet")))
    val adds = promoteParts(spark, parts, table, statsCol)
    deleteRecursively(stage)
    adds
  }

  /** Clustered OVERWRITE: [[appendClustered]]'s one-job clustered
    * staging committed as ONE `overwrite` replacing the live set — the
    * maintenance rebuild shape (e.g. the text dictionary fold), which
    * previously paid a plain overwrite AND a compactClustered rewrite:
    * two full passes over the same rows for one final layout
    * (optimization r16, guide §1.2 "remove unnecessary passes").
    * `props` upserts table properties in the same commit. */
  def overwriteClustered(spark: SparkSession, df: DataFrame, table: Path,
      statsCol: String, clusterCol: Column, nClusters: Int,
      props: Map[String, String] = Map.empty): Long =
      Jobs.labeled(spark, s"txlog overwriteClustered ${table.getFileName}") {
    Files.createDirectories(table)
    validateSchema(tableSchema(table), df.schema, allowEvolution = false): Unit
    val adds = writeClustered(spark, df, table, statsCol, clusterCol, nClusters,
      constrained = true)
    val base = overwriteBase(table)
    commitRetry(table, "overwrite", adds, base.files.map(_.path),
      schema = Some(validateSchema(tableSchema(table), df.schema, allowEvolution = false)),
      extra = propsExtra(props)) {
      case Some(s) => s.version == base.version
      case None => base.version == -1L
    }
  }

  /** Clustered append: ONE distributed write producing one data file per
    * non-empty cluster of `clusterCol` (repartition on the cluster key +
    * a partitionBy split keeps co-hashed clusters in separate files), all
    * committed atomically. This is how a range/Z-clustered layout is
    * written at scale — a single job, not a job per cluster; with a
    * range-derived cluster key each file's footer [min,max] is exactly
    * its cluster's key range, which is what makes [[pruneFiles]] sharp.
    * The task count is set by adaptive execution from the data size, not
    * by `nClusters` (a 200-doc increment writes its clusters from one
    * task); `nClusters` bounds it when partition coalescing is off.
    * The cluster column is layout metadata (derivable from the data) and
    * is not stored in the files. `props` upserts table properties and
    * `sources` adds source-file names in the same commit ([[propsAt]],
    * [[sourcesAt]]). */
  def appendClustered(spark: SparkSession, df: DataFrame, table: Path, statsCol: String,
      clusterCol: Column, nClusters: Int, props: Map[String, String] = Map.empty,
      sources: Seq[String] = Nil): Long =
      Jobs.labeled(spark, s"txlog appendClustered ${table.getFileName}") {
    Files.createDirectories(table)
    validateSchema(tableSchema(table), df.schema, allowEvolution = false): Unit // fail fast
    val adds = writeClustered(spark, df, table, statsCol, clusterCol, nClusters,
      constrained = true)
    commitRetry(table, "append", adds, Nil,
      schema = Some(validateSchema(tableSchema(table), df.schema, allowEvolution = false)),
      extra = propsExtra(props) ++ sourcesExtra(sources))(
      _ => true)
  }

  /** Hive-style PARTITIONED append: one distributed write laying the
    * data out one file per (partition-tuple [, range/z cluster]) and
    * recording each file's partition values in the log — the Delta
    * protocol's partitionValues, its primary pruning axis (Armbrust
    * VLDB 2020 §3). The data files RETAIN the partition columns (the
    * hive directory level is written from stage-only `__p_` duplicates
    * that partitionBy strips), so snapshot reads stay plain parquet
    * scans and the partition predicate also applies as an exact
    * residual. An optional `clusterCol` range/z sub-clusters WITHIN
    * each partition, so footer [min,max] pruning composes with
    * partition pruning: a 100 TB table partitioned by day and clustered
    * by key answers (day = d AND key BETWEEN lo AND hi) from the
    * metadata alone. */
  def appendPartitioned(spark: SparkSession, df: DataFrame, table: Path,
      partCols: Seq[String], statsCol: String,
      clusterCol: Option[Column] = None, nParts: Int = 1): Long = {
    require(partCols.nonEmpty, "appendPartitioned needs at least one partition column")
    Files.createDirectories(table)
    validateSchema(tableSchema(table), df.schema, allowEvolution = false): Unit // fail fast
    val adds = stagePartitioned(spark, df, table, partCols, statsCol, clusterCol, nParts)
    commitRetry(table, "append", adds, Nil,
      schema = Some(validateSchema(tableSchema(table), df.schema, allowEvolution = false)))(
      _ => true)
  }

  /** Partitioned `INSERT OVERWRITE`: the same one-file-per-partition
    * staging as [[appendPartitioned]], committed as ONE `overwrite`
    * replacing the live set — so a partitioned table keeps its
    * partitionValues (and partition-pruned reads) through an overwrite
    * instead of degrading to unpartitioned files. */
  def overwritePartitioned(spark: SparkSession, df: DataFrame, table: Path,
      partCols: Seq[String], statsCol: String,
      clusterCol: Option[Column] = None, nParts: Int = 1): Long = {
    require(partCols.nonEmpty, "overwritePartitioned needs at least one partition column")
    Files.createDirectories(table)
    validateSchema(tableSchema(table), df.schema, allowEvolution = false): Unit
    val adds = stagePartitioned(spark, df, table, partCols, statsCol, clusterCol, nParts)
    val base = overwriteBase(table)
    commitRetry(table, "overwrite", adds, base.files.map(_.path),
      schema = Some(validateSchema(tableSchema(table), df.schema, allowEvolution = false))) {
      case Some(s) => s.version == base.version
      case None => base.version == -1L
    }
  }

  /** Shared partitioned staging: one distributed write under a private
    * dir, the hive layout walked into per-file partitionValues, files
    * promoted under fresh UUID names. Constraints validate the staged
    * bytes. */
  private def stagePartitioned(spark: SparkSession, df: DataFrame, table: Path,
      partCols: Seq[String], statsCol: String,
      clusterCol: Option[Column], nParts: Int): Vector[AddFile] = {
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    val dup = partCols.foldLeft(df)((d, c) => d.withColumn(s"__p_$c", col(c)))
    val pKeys = partCols.map(c => col(s"__p_$c"))
    val clustered = clusterCol match {
      case Some(c) => dup.withColumn("__cluster", c)
        .repartition(math.max(nParts, 1), pKeys :+ col("__cluster"): _*)
      case None => dup.repartition(math.max(nParts, 1), pKeys: _*)
    }
    val dirCols = partCols.map(c => s"__p_$c") ++ clusterCol.map(_ => "__cluster").toSeq
    phys(clustered, table).write.partitionBy(dirCols: _*).mode("overwrite").parquet(stage.toString)
    enforceConstraintsStaged(spark, table, stage)
    // walk the hive layout: each __p_ directory level fixes one
    // partition value; a __cluster level is layout-only metadata
    def leaves(p: Path, vals: Map[String, String]): Vector[(Path, Map[String, String])] =
      listDir(p).sortBy(_.getFileName.toString).flatMap { c =>
        val n = c.getFileName.toString
        if (Files.isDirectory(c) && n.contains("=")) {
          val Array(k, v) = n.split("=", 2)
          val vals2 = if (k.startsWith("__p_"))
            vals + (k.drop(4) -> unescapePathName(v))
          else vals
          leaves(c, vals2)
        } else if (n.endsWith(".parquet")) Vector((c, vals))
        else Vector.empty
      }
    val adds = leaves(stage, Map.empty).flatMap { case (file, vals) =>
      promoteParts(spark, Vector(file), table, statsCol).map(_.copy(part = vals))
    }
    deleteRecursively(stage)
    adds
  }

  /** Files of `snap` whose designated-column [min,max] can intersect
    * [lo,hi] — the driver-side, metadata-only skipping decision. */
  def pruneFiles(snap: Snapshot, lo: Long, hi: Long): Vector[AddFile] =
    snap.files.filter(f => f.maxKey >= lo && f.minKey <= hi)

  /** Column-aware skipping: keep a file iff the NAMED column's recorded
    * [min,max] can intersect [lo,hi]; a file with no stats for that
    * column (string column, all-null chunk, pre-stats commit) is kept —
    * pruning must only ever be conservative. */
  def pruneFilesOn(snap: Snapshot, colName: String, lo: Long, hi: Long): Vector[AddFile] =
    snap.files.filter(_.cols.get(colName).forall { case (mn, mx) => mx >= lo && mn <= hi })

  /** String-range skipping against the TRUNCATED footer stats: keep a
    * file iff [recorded-min, recorded-max-bound] can intersect
    * [lo, hi] under code-point order (the order the truncation was
    * computed in). The recorded min is a prefix (≤ every value) and
    * the recorded max a strict upper bound, so the filter is exactly
    * as conservative as the numeric one; a file with no stats for the
    * column (pre-string-stats commit, all-null chunk, evicted by the
    * 16-column cap) is kept. */
  def pruneFilesOnStr(snap: Snapshot, colName: String, lo: String, hi: String): Vector[AddFile] =
    snap.files.filter(_.strCols.get(colName).forall { case (mn, mx) =>
      cpCompare(mx, lo) >= 0 && cpCompare(mn, hi) <= 0 })

  /** Decode a hive partition-directory VALUE: only `%XX` escapes, never
    * `'+'` (Spark's escapePathName leaves `'+'` literal, so URLDecoder —
    * which maps `'+'` to a space — would record `"a+b"` as `"a b"` and
    * pruneFilesPart would then silently drop the file on an equality
    * read). Mirrors ExternalCatalogUtils.unescapePathName semantics. */
  private[ops] def unescapePathName(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length) {
        val code = try Integer.parseInt(v.substring(i + 1, i + 3), 16)
        catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition pruning: keep a file iff its recorded partition values
    * match every equality predicate; a file with no value recorded for a
    * predicate column (unpartitioned append into the same table) is
    * kept — conservative, the residual row filter keeps reads exact. */
  def pruneFilesPart(files: Vector[AddFile], eq: Map[String, String]): Vector[AddFile] =
    files.filter(f => eq.forall { case (c, v) => f.part.get(c).forall(_ == v) })

  // ------------------------------------------------------ deletion vectors

  /** Write a deletion-vector sidecar: the KEYS deleted from ONE data
    * file, as sorted int64s (the spirit of Delta/Iceberg's positional
    * bitmaps, keyed instead of positional so the vector is stable under
    * any parquet split). Sidecars are invisible until an AddFile's `dv`
    * references them; a later delete on the same file writes a NEW
    * sidecar with the union (sidecars, like data files, are immutable).
    * DVs are churn-sized by contract — a small scattered delete is KBs
    * of sidecar against TBs of untouched data. */
  private def writeDv(table: Path, keyCol: String, keys: Seq[Long]): String = {
    val name = s"${UUID.randomUUID()}.dv.json"
    val node = Map[String, Object]("keyCol" -> keyCol,
      "keys" -> keys.sorted.map(java.lang.Long.valueOf).asJava).asJava
    Files.write(table.resolve(name), mapper.writeValueAsBytes(node)): Unit
    name
  }

  private def readDv(table: Path, name: String): (String, Vector[Long]) = {
    val n = mapper.readTree(Files.readAllBytes(table.resolve(name)))
    (n.get("keyCol").asText, n.get("keys").elements().asScala.map(_.asLong).toVector)
  }

  /** A file's deletion-vector content, if it carries one — (keyCol,
    * deleted keys). Churn-sized by the MOR contract; the SQL row-level
    * scan uses it to drop DV'd rows file-locally while rewriting. */
  def dvKeysFor(table: Path, f: AddFile): Option[(String, Vector[Long])] =
    f.dv.map(readDv(table, _))

  /** Apply the files' deletion vectors to their scan: rows whose (file,
    * key) pair is DV'd drop out via ONE broadcast anti-join per DV key
    * column (in practice one). Per-file pairing — not a global key
    * anti-join — so a key re-inserted by a later append stays visible.
    * The pair set is churn-sized (collected sidecars), never data-sized. */
  private def applyDvs(spark: SparkSession, table: Path, files: Seq[AddFile],
      df: DataFrame): DataFrame = {
    val withDv = files.filter(_.dv.isDefined)
    if (withDv.isEmpty) return df
    val triples = withDv.flatMap { f =>
      val (kc, keys) = readDv(table, f.dv.get)
      keys.map(k => (kc, f.path, k))
    }
    import spark.implicits._
    val tagged = df.withColumn("__graft_file",
      element_at(split(input_file_name(), "/"), -1))
    triples.groupBy(_._1).toSeq.sortBy(_._1).foldLeft(tagged) {
      case (acc, (kc, rows)) =>
        val dvDf = rows.map(t => (t._2, t._3)).toDF("__dv_file", "__dv_key")
        acc.join(broadcast(dvDf),
          col("__graft_file") === col("__dv_file") &&
            col(kc).cast("long") === col("__dv_key"), "left_anti")
    }.drop("__graft_file")
  }

  /** Snapshot read, optionally time-traveled, key-range pruned, and/or
    * partition-pruned. Pruning filters the file LIST (metadata only);
    * the residual row predicates are still applied so the answer is
    * exact either way. Deletion vectors of the surviving files are
    * applied automatically (merge-on-read). */
  def readAt(spark: SparkSession, table: Path, version: Option[Long] = None,
      range: Option[(String, Long, Long)] = None,
      partitions: Map[String, String] = Map.empty,
      fileCol: Option[String] = None): DataFrame = {
    val snap = snapshotAt(table, version)
    val schemaOpt = tableSchema(table, Some(snap.version))
    // prune with the NAMED column's own stats — the designated-column
    // ranges would be wrong (non-conservative) for any other column.
    // Recorded stats are keyed by the footer's (physical) names.
    val keptR = range match {
      case Some((c, lo, hi)) =>
        pruneFilesOn(snap, schemaOpt.fold(c)(ColumnMapping.physicalOf(_, c)), lo, hi)
      case None => snap.files
    }
    val kept = pruneFilesPart(keptR, partitions)
    if (kept.isEmpty) {
      // schema-preserving empty relation: from the log schema if
      // recorded, else off any live file; a zero-file snapshot with no
      // recorded schema has no schema to offer
      val empty = schemaOpt match {
        case Some(s) =>
          spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
        case None if snap.files.nonEmpty =>
          spark.read.parquet(table.resolve(snap.files.head.path).toString).filter(lit(false))
        case None =>
          throw new IllegalStateException(
            s"snapshot v${snap.version} of $table has no files and no recorded schema")
      }
      return fileCol.fold(empty)(c => empty.withColumn(c, lit(null).cast("string")))
    }
    // LOGICAL merge-on-read scan (serving-file tag computed at the scan,
    // before the DV anti-join, same name rule as the log)
    val df0 = scanFiles(spark, table, kept, Some(snap.version), fileCol)
    val df = range match {
      case Some((c, lo, hi)) => df0.filter(col(c) >= lo && col(c) <= hi)
      case None => df0
    }
    partitions.foldLeft(df) { case (d, (c, v)) => d.filter(col(c) === lit(v)) }
  }

  /** Read exactly `files` of `table` — a caller-pruned subset of a live
    * snapshot (e.g. a bloom index's candidate files) — with their
    * deletion vectors applied. The file-pruned sibling of [[readAt]]:
    * same log-schema resolution, same merge-on-read semantics, so a
    * point lookup over a DV-carrying table can never resurrect deleted
    * rows. `files` must come from a snapshot of `table` (their `dv`
    * fields are what gets applied). */
  def readFiles(spark: SparkSession, table: Path, files: Seq[AddFile],
      version: Option[Long] = None): DataFrame = {
    if (files.isEmpty) {
      return tableSchema(table, version) match {
        case Some(s) =>
          spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
        case None => throw new IllegalStateException(
          s"readFiles: empty file set and no recorded schema for $table")
      }
    }
    scanFiles(spark, table, files, version)
  }

  /** Rewrite the current live set as `nParts` files in one commit.
    * Readers pinned at any older version still resolve their own file
    * list — compaction never mutates data files in place. Deletion
    * vectors are FOLDED IN: the rewrite reads the live rows (files minus
    * their DVs), so the compacted files carry no sidecars. Validates at
    * commit time that every file it replaces is still live WITH the same
    * DV it read — a concurrent merge-on-read delete must not be silently
    * resurrected by the rewrite. */
  def compact(spark: SparkSession, table: Path, statsCol: String, nParts: Int = 1): Long =
      Jobs.labeled(spark, s"txlog compact ${table.getFileName}") {
    val snap = snapshotAt(table)
    val removes = snap.files.map(_.path)
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    phys(scanFiles(spark, table, snap.files), table)
      .repartition(nParts)
      .write.mode("overwrite").parquet(stage.toString)
    val adds = promoteStaged(spark, stage, table, statsCol)
    val baseDv = snap.files.map(f => f.path -> f.dv).toMap
    commitRetry(table, "compact", adds, removes) {
      case None => false
      case Some(s) =>
        val liveDv = s.files.map(f => f.path -> f.dv).toMap
        removes.forall(p => liveDv.get(p).contains(baseDv(p)))
    }
  }

  /** CLUSTERED compaction — the `OPTIMIZE ... ZORDER BY` maintenance
    * shape: rewrite the live set (deletion vectors folded in) as one
    * file per equal-width cluster of `clusterCol` in a single
    * distributed write + one atomic commit. A streaming table ingests
    * in arrival order (no pruning power); this restores the
    * range/Z-clustered layout whose footer [min,max] makes
    * [[pruneFiles]] sharp, without blocking readers (old versions stay
    * pinned until vacuum). Same dv-identity validation as [[compact]].
    * As in [[appendClustered]], each non-empty cluster is one file and
    * adaptive execution sets the task count from the data size. */
  def compactClustered(spark: SparkSession, table: Path, statsCol: String,
      clusterCol: Column, nClusters: Int): Long =
      Jobs.labeled(spark, s"txlog compactClustered ${table.getFileName}") {
    val snap = snapshotAt(table)
    val removes = snap.files.map(_.path)
    val adds = writeClustered(spark, scanFiles(spark, table, snap.files), table, statsCol,
      clusterCol, nClusters, constrained = false)
    val baseDv = snap.files.map(f => f.path -> f.dv).toMap
    commitRetry(table, "compact", adds, removes) {
      case None => false
      case Some(s) =>
        val liveDv = s.files.map(f => f.path -> f.dv).toMap
        removes.forall(p => liveDv.get(p).contains(baseDv(p)))
    }
  }

  /** Copy-on-write MERGE (upsert): rows of `updates` replace same-key
    * rows; unmatched update keys are inserted. Only files that can
    * contain an affected key are rewritten:
    *   1. stats prune: files whose [min,max] intersects the updates' key
    *      envelope (driver metadata only);
    *   2. exact probe: one scan of ONLY those candidates, semi-joined
    *      (broadcast — the delta is small by contract) against the
    *      update keys, to the distinct containing files;
    *   3. rewrite: affected rows anti-join the update keys, union the
    *      full updates, new files, one commit of removes+adds.
    * Returns (version, filesRewritten, filesTotal). */
  /** OCC write-write conflict rule for key-rewrites (the shape of the
    * published Delta conflict checker): every file we replace must
    * still be live, AND no file added since our base snapshot may
    * contain an affected key — checked conservatively against the key
    * column's recorded range (no stats ⇒ assume conflict). Without the
    * second clause a concurrent append of an affected key would
    * survive an upsert (duplicate keys) or a delete (missed
    * right-to-be-forgotten row). */
  private[ops] def rewriteValidator(base: Snapshot, removes: Seq[String], keyCol: String,
      lo: Long, hi: Long): Option[Snapshot] => Boolean = {
    val basePaths = base.files.map(_.path).toSet
    val baseDv = base.files.map(f => f.path -> f.dv).toMap
    (snap: Option[Snapshot]) => snap match {
      case None => false
      case Some(s) =>
        val liveDv = s.files.map(f => f.path -> f.dv).toMap
        // dv-IDENTITY, not mere liveness: a concurrent merge-on-read
        // delete that re-added a file we are rewriting would be silently
        // resurrected if we only checked the path is still live
        removes.forall(p => liveDv.get(p).contains(baseDv.getOrElse(p, None))) &&
          !s.files.exists(f => !basePaths(f.path) &&
            f.cols.get(keyCol).forall { case (mn, mx) => mx >= lo && mn <= hi })
    }
  }

  /** Write a copy-on-write commit's CDC sidecar — the row-level
    * changes AS WRITTEN (data columns + `_change_type`), the Delta
    * `_change_data` design: a COW rewrite's delta is unrecoverable
    * from data files alone (carried-over rows drown it), so the writer
    * — who has the delta in hand anyway — persists it. Churn-sized by
    * construction (the replaced old rows + the update rows), hence the
    * single-file repartition(1). Never an AddFile: snapshots don't see
    * it; vacuum retains it while its commit is retained. */
  private def writeCdc(spark: SparkSession, table: Path, cdc: DataFrame): String = {
    val stage = table.resolve(s".cdc-${UUID.randomUUID()}")
    // cdc arrives LOGICAL-named (+ `_change_type`, which passes through);
    // sidecars persist under PHYSICAL names like every data file, so one
    // change feed read serves sidecars from before and after any rename
    phys(cdc, table).repartition(1).write.mode("overwrite").parquet(stage.toString)
    val part = listDir(stage).find(_.getFileName.toString.startsWith("part-")).get
    val name = s"${UUID.randomUUID()}.cdc.parquet"
    Files.move(part, table.resolve(name))
    deleteRecursively(stage)
    name
  }

  /** The CDC sidecar a copy-on-write commit recorded, if any — what
    * lets the streaming change feed replay COW commits exactly. */
  def commitCdcFile(table: Path, v: Long): Option[String] = {
    Option(rawCommit(table, v).get("cdcFile")).map(_.asText)
  }

  def mergeCow(spark: SparkSession, table: Path, updates: DataFrame, keyCol: String,
      statsCol: String, nParts: Int = 1): (Long, Int, Int) = {
    val snap = snapshotAt(table)
    validateSchema(tableSchema(table), updates.schema, allowEvolution = false): Unit
    enforceConstraints(table, updates)
    val bounds = updates.agg(min(col(keyCol)).cast("long"), max(col(keyCol)).cast("long")).head
    if (bounds.isNullAt(0)) return (snap.version, 0, snap.files.size) // empty delta
    // prune with the KEY column's own recorded stats — the designated
    // column's ranges would be non-conservative whenever keyCol differs
    val candidates = pruneFilesOn(snap, physName(table, keyCol),
      bounds.getLong(0), bounds.getLong(1))
    val affected: Vector[String] =
      if (candidates.isEmpty) Vector.empty
      else {
        // DV-aware probe: a row already deleted by a vector must not
        // flag its file as affected (nor be resurrected by the rewrite)
        val cand = scanFiles(spark, table, candidates, fileCol = Some("__file"))
        cand.select(col(keyCol), col("__file"))
          .join(broadcast(updates.select(col(keyCol)).distinct()), keyCol)
          .select("__file").distinct().collect().map(_.getString(0)).toVector.sorted
      }
    val affectedAdds = snap.files.filter(f => affected.contains(f.path))
    val affectedScan: Option[DataFrame] =
      if (affected.isEmpty) None
      else Some(scanFiles(spark, table, affectedAdds))
    val base = affectedScan match {
      case None => updates.filter(lit(false))
      case Some(s) =>
        s.join(broadcast(updates.select(col(keyCol)).distinct()), Seq(keyCol), "left_anti")
    }
    // updates may legitimately carry a SUBSET of an evolved schema —
    // missing columns null-fill (enforcement above already refused any
    // column not in the table schema or with a conflicting type)
    val rewritten = base.unionByName(updates, allowMissingColumns = true)
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    phys(rewritten, table).repartition(nParts).write.mode("overwrite").parquet(stage.toString)
    val adds = promoteStaged(spark, stage, table, statsCol)
    // CDC sidecar: replaced old rows as deletes + the update rows as
    // inserts (an update is its delete+insert pair, the CDC-minimal
    // encoding the batch change feed uses)
    val oldRows = affectedScan match {
      case None => updates.filter(lit(false))
      case Some(s) =>
        s.join(broadcast(updates.select(col(keyCol)).distinct()), Seq(keyCol), "left_semi")
    }
    val cdcName = writeCdc(spark, table,
      oldRows.withColumn("_change_type", lit("delete"))
        .unionByName(updates.withColumn("_change_type", lit("insert")),
          allowMissingColumns = true))
    val v = commitRetry(table, "merge", adds, affected,
      extra = Map("cdcFile" -> cdcName))(
      rewriteValidator(snap, affected, physName(table, keyCol),
        bounds.getLong(0), bounds.getLong(1)))
    (v, affected.size, snap.files.size)
  }

  /** ZERO-COPY table clone (the Delta CLONE shape, hardlink edition):
    * the target's v0 references the source snapshot's live files — and
    * because this log stores table-relative paths, the files are
    * HARDLINKED under the same names (same filesystem: one inode, no
    * bytes moved; DV sidecars included). The clone is immediately
    * independent: each table's later commits, compactions, and vacuums
    * touch only its own links (unlink decrements the refcount, the
    * other table's link keeps the inode alive). Schema, partition
    * columns, properties and source files carry over; CHECK constraints and tags are table-local
    * history and deliberately do NOT copy (set them on the clone if
    * wanted — the Delta position for properties is the same). On an
    * object store the analog is server-side copy or a manifest-level
    * shallow clone. Returns the clone's version (0). */
  def cloneTable(spark: SparkSession, src: Path, dst: Path): Long = {
    val snap = snapshotAt(src)
    require(versions(dst).isEmpty, s"clone target $dst already has a transaction log")
    Files.createDirectories(dst)
    snap.files.foreach { f =>
      Files.createLink(dst.resolve(f.path), src.resolve(f.path)): Unit
      f.dv.foreach(d =>
        if (!Files.exists(dst.resolve(d)))
          Files.createLink(dst.resolve(d), src.resolve(d)): Unit)
    }
    val partCols = partitionColsOf(src)
    commitRetry(dst, "clone", snap.files, Nil,
      schema = tableSchema(src, Some(snap.version)),
      extra = propsExtra(propsAt(src, Some(snap.version))) ++
        sourcesExtra(sourcesAt(src, Some(snap.version))) ++
        (if (partCols.isEmpty) Map.empty
         else Map("partitionCols" -> (partCols.asJava: Object))))(_.isEmpty)
  }

  /** Commit a GROUP-REPLACING rewrite whose new files were already
    * staged by an external distributed write — the SQL row-level DML
    * path (`UPDATE` / `MERGE INTO` / non-translatable `DELETE` through
    * [[graft.catalog.GraftRowLevelOperation]]): Spark's group-based
    * ReplaceData exec stages the rewritten rows of the affected files
    * under `stage` via executor-parallel parquet DataWriters, and this
    * turns them into ONE claim-fenced ACID commit:
    *
    *  - CHECK constraints validate the staged bytes (single pass, the
    *    same gate every other staged write pays);
    *  - files promote under fresh UUID names with footer stats;
    *  - a CDC sidecar is derived as the multiset delta old-vs-new
    *    (replaced files' live rows exceptAll new rows = deletes, the
    *    reverse = inserts — churn-sized: COW rewrites only affected
    *    files), so the change feed replays SQL DML like any other COW;
    *  - the commit validates DV-IDENTITY of every replaced file (a
    *    concurrent merge-on-read delete on a file we rewrote must fail
    *    this commit, not be silently resurrected).
    *
    * ISOLATION: with the default arguments this is SNAPSHOT isolation —
    * DV-identity OCC catches concurrent rewrites of the files we
    * replace, but files APPENDED between the operation's scan and its
    * commit are not examined. Callers wanting Delta's WRITE-SERIALIZABLE
    * contract for row-level DML pass `scanVersion` (the snapshot the
    * operation scanned) and `conflictsWith` (conservative stats-range
    * test against the operation's predicate): the commit then ABORTS
    * when the scan-to-commit window appended any file whose recorded
    * stats ranges may contain matching rows — rows the operation should
    * have seen but didn't. The SQL row-level DML path does exactly this.
    *
    * Returns (version, filesReplaced). An empty rewrite (no groups
    * matched) is a no-op: nothing commits, the current version returns. */
  def replaceStaged(spark: SparkSession, table: Path, stage: Path,
      removes: Seq[String], op: String, statsCol: String,
      scanVersion: Option[Long] = None,
      conflictsWith: AddFile => Boolean = _ => false): (Long, Int) = {
    val base = snapshotAt(table)
    val baseDv = base.files.map(f => f.path -> f.dv).toMap
    // a replaced file no longer live = a concurrent rewrite (compact,
    // merge, another DML) superseded the scanned snapshot — the same
    // OCC conflict the commit validator would catch, surfaced before
    // any staging I/O is paid and with the same abort contract
    val missing = removes.filterNot(baseDv.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"commit '$op' no longer valid: replaced files not live in " +
      s"v${base.version} of $table (concurrent rewrite): " +
      missing.take(3).mkString(", "))
    enforceConstraintsStaged(spark, table, stage)
    val adds = promoteStaged(spark, stage, table, statsCol)
    if (removes.isEmpty && adds.isEmpty) return (base.version, 0)
    val removedAdds = base.files.filter(f => removes.contains(f.path))
    val oldRows: Option[DataFrame] =
      if (removedAdds.isEmpty) None
      else Some(scanFiles(spark, table, removedAdds))
    val newRows: Option[DataFrame] =
      if (adds.isEmpty) None
      else Some(scanFiles(spark, table, adds))
    val deletes = (oldRows, newRows) match {
      case (Some(o), Some(n)) => Some(o.exceptAll(n))
      case (Some(o), None) => Some(o)
      case (None, _) => None
    }
    val inserts = (oldRows, newRows) match {
      case (Some(o), Some(n)) => Some(n.exceptAll(o))
      case (None, Some(n)) => Some(n)
      case (_, None) => None
    }
    val cdcParts =
      deletes.map(_.withColumn("_change_type", lit("delete"))).toSeq ++
      inserts.map(_.withColumn("_change_type", lit("insert"))).toSeq
    val cdcName = writeCdc(spark, table, cdcParts.reduce(_ unionByName _))
    // paths live at the operation's SCANNED snapshot: anything in the
    // commit-time snapshot outside this set appeared after the scan
    val scannedPaths: Option[Set[String]] =
      scanVersion.map(sv => snapshotAt(table, Some(sv)).files.map(_.path).toSet)
    val v = commitRetry(table, op, adds, removes,
      extra = Map("cdcFile" -> cdcName)) {
      case None => false
      case Some(s) =>
        val liveDv = s.files.map(f => f.path -> f.dv).toMap
        val dvIdentity =
          removes.forall(p => liveDv.get(p).contains(baseDv.getOrElse(p, None)))
        // write-serializable append check (see scaladoc): a file added
        // in the scan-to-commit window whose stats may match the
        // operation's predicate means the rewrite missed rows — abort
        val appendConflict = scannedPaths.exists { sp =>
          s.files.exists(f => !sp(f.path) && conflictsWith(f))
        }
        dvIdentity && !appendConflict
    }
    (v, removes.size)
  }

  /** Copy-on-write DELETE of keys (the GDPR / right-to-be-forgotten
    * primitive): same pruning discipline as mergeCow — only files whose
    * stats range can contain a deleted key are rewritten, everything
    * else is untouched metadata-side. Returns (version, filesRewritten,
    * filesTotal). */
  def deleteKeys(spark: SparkSession, table: Path, keys: DataFrame, keyCol: String,
      statsCol: String, nParts: Int = 1): (Long, Int, Int) = {
    val snap = snapshotAt(table)
    val bounds = keys.agg(min(col(keyCol)).cast("long"), max(col(keyCol)).cast("long")).head
    if (bounds.isNullAt(0)) return (snap.version, 0, snap.files.size)
    // prune with the KEY column's own recorded stats — the designated
    // column's ranges would be non-conservative whenever keyCol differs
    val candidates = pruneFilesOn(snap, physName(table, keyCol),
      bounds.getLong(0), bounds.getLong(1))
    val affected: Vector[String] =
      if (candidates.isEmpty) Vector.empty
      else {
        // DV-aware probe, same reason as mergeCow's
        val cand = scanFiles(spark, table, candidates, fileCol = Some("__file"))
        cand.select(col(keyCol), col("__file"))
          .join(broadcast(keys.select(col(keyCol)).distinct()), keyCol)
          .select("__file").distinct().collect().map(_.getString(0)).toVector.sorted
      }
    if (affected.isEmpty) return (snap.version, 0, snap.files.size)
    val affectedAdds = snap.files.filter(f => affected.contains(f.path))
    val affectedScan = scanFiles(spark, table, affectedAdds)
    val kept = affectedScan
      .join(broadcast(keys.select(col(keyCol)).distinct()), Seq(keyCol), "left_anti")
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    phys(kept, table).repartition(nParts).write.mode("overwrite").parquet(stage.toString)
    val adds = promoteStaged(spark, stage, table, statsCol)
    // CDC sidecar: the removed rows, as deletes
    val cdcName = writeCdc(spark, table, affectedScan
      .join(broadcast(keys.select(col(keyCol)).distinct()), Seq(keyCol), "left_semi")
      .withColumn("_change_type", lit("delete")))
    val v = commitRetry(table, "delete", adds, affected,
      extra = Map("cdcFile" -> cdcName))(
      rewriteValidator(snap, affected, physName(table, keyCol),
        bounds.getLong(0), bounds.getLong(1)))
    (v, affected.size, snap.files.size)
  }

  /** Predicate copy-on-write delete (SQL `DELETE FROM t WHERE p`):
    * ONE distributed pass finds the files containing a matching row
    * (predicate pushed into the parquet scan), then ONLY those files
    * are rewritten without their matches — a selective delete against a
    * 100 TB table rewrites the affected files, never the table. Rows
    * where the predicate is NULL are KEPT (SQL semantics). The removed
    * rows land as a CDC sidecar, so the change feed replays it. OCC is
    * strict (snapshot unchanged): an arbitrary predicate has no key
    * range to scope a finer conflict rule. Returns
    * (version, filesRewritten, filesTotal); no matches = no commit. */
  def deleteWhere(spark: SparkSession, table: Path, pred: Column, statsCol: String,
      nParts: Int = 1): (Long, Int, Int) = {
    val snap = snapshotAt(table)
    if (snap.files.isEmpty) return (snap.version, 0, 0)
    val hit = coalesce(pred, lit(false))
    val all = scanFiles(spark, table, snap.files, fileCol = Some("__file"))
    val affected = all.filter(hit)
      .select(col("__file"))
      .distinct().collect().map(_.getString(0)).toVector.sorted
    if (affected.isEmpty) return (snap.version, 0, snap.files.size)
    val affectedAdds = snap.files.filter(f => affected.contains(f.path))
    val affectedScan = scanFiles(spark, table, affectedAdds)
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    phys(affectedScan.filter(!hit), table).repartition(nParts)
      .write.mode("overwrite").parquet(stage.toString)
    val adds = promoteStaged(spark, stage, table, statsCol)
    val cdcName = writeCdc(spark, table,
      affectedScan.filter(hit).withColumn("_change_type", lit("delete")))
    val v = commitRetry(table, "delete", adds, affected,
      extra = Map("cdcFile" -> cdcName)) {
      case Some(s) => s.version == snap.version
      case None => false
    }
    (v, affected.size, snap.files.size)
  }

  /** RESTORE the table to an earlier version's state as a NEW commit
    * (Delta RESTORE): metadata-only — adds re-instate the target
    * snapshot's entries (with their recorded stats and deletion
    * vectors), removes drop everything the target didn't have. History
    * is preserved: time travel still sees every version including the
    * pre-restore state, and the restore itself is one more auditable
    * commit. The target's SCHEMA, properties ([[propsAt]]) and source
    * files ([[sourcesAt]]) are restored with it; CHECK constraints and
    * tags stay (Delta semantics).
    * Fails fast if any restored file was vacuumed away, and under
    * strict OCC (any concurrent commit re-derives the diff). */
  def restore(spark: SparkSession, table: Path, toVersion: Long): Long = {
    val target = snapshotAt(table, Some(toVersion))
    // verify data files AND their DV sidecars — vacuum treats both as
    // referenced, so restore must fail fast on either being reclaimed
    // (a published snapshot must never throw at readAt time)
    val gone = target.files.flatMap(f => f.path +: f.dv.toSeq)
      .filterNot(p => Files.exists(table.resolve(p)))
    require(gone.isEmpty,
      s"cannot restore to v$toVersion: files vacuumed away: ${gone.mkString(", ")}")
    val base = snapshotAt(table)
    val baseBy = base.files.map(f => f.path -> f).toMap
    val targetBy = target.files.map(f => f.path -> f).toMap
    // (path, dv, stats) identity: an entry changed in ANY way is
    // re-added from the target; removes are processed before adds in
    // snapshot replay, so a path in both lists resolves to the target's
    val adds = target.files.filterNot(f => baseBy.get(f.path).contains(f))
    val removes = base.files.filterNot(f => targetBy.get(f.path).contains(f)).map(_.path)
    // the target's properties, and a null (remove) for each key set since
    val (targetProps, baseProps) = (propsAt(table, Some(toVersion)), propsAt(table, Some(base.version)))
    val props = targetProps.filter { case (k, v) => !baseProps.get(k).contains(v) } ++
      (baseProps.keySet -- targetProps.keySet).map(_ -> (null: String))
    commitRetry(table, "restore", adds, removes,
      schema = tableSchema(table, Some(toVersion)),
      extra = propsExtra(props) ++ sourcesExtra(sourcesAt(table, Some(toVersion)))) {
      case Some(s) => s.version == base.version
      case None => base.version == -1L
    }
  }

  // ------------------------------------------------- merge-on-read writes

  /** OCC rule for merge-on-read commits: every file whose DV we extend
    * must still be live with the SAME dv we based the union on (a
    * concurrent DV writer's keys must not be lost), and no file added
    * since our base snapshot may contain an affected key (same clause as
    * [[rewriteValidator]]; the key range is the driver-held keys'). */
  private def morValidator(base: Snapshot, touched: Set[String], table: Path,
      keyCol: String, keys: Array[Long]): Option[Snapshot] => Boolean = {
    val basePaths = base.files.map(_.path).toSet
    val baseDv = base.files.map(f => f.path -> f.dv).toMap
    val pk = physName(table, keyCol)
    val (lo, hi) = (keys.min, keys.max)
    (snap: Option[Snapshot]) => snap match {
      case None => false
      case Some(s) =>
        val liveDv = s.files.map(f => f.path -> f.dv).toMap
        touched.forall(p => liveDv.get(p).contains(baseDv.getOrElse(p, None))) &&
          !s.files.exists(f => !basePaths(f.path) &&
            f.cols.get(pk).forall { case (mn, mx) => mx >= lo && mn <= hi })
    }
  }

  /** The delta's distinct non-null keys, sorted, held on the driver. The
    * keys are churn-sized by the MOR contract, so the collect takes the
    * cast, non-null key column as is and the dedup runs on the driver (a
    * Spark `distinct` would add a shuffle job). A local key frame folds
    * to a LocalRelation and collects with no Spark job at all. */
  private[ops] def morKeys(changeKeys: DataFrame, keyCol: String): Array[Long] = {
    val keys = changeKeys.select(col(keyCol).cast("long").as("__k"))
      .filter(col("__k").isNotNull).collect().map(_.getLong(0)).distinct
    java.util.Arrays.sort(keys)
    keys
  }

  /** The probe every merge-on-read write shares: the snapshot's live
    * (DV-applied) rows whose key is in `keys`, as distinct rows of
    * (file, key, `carry` columns...). ONE Spark job: the candidate files
    * are pruned on the key column's footer range, the key set filters
    * the scan as an `isin` (Catalyst makes it an InSet and pushes it into
    * the parquet reader), and the churn-sized result is deduplicated on
    * the driver. */
  private[ops] def morProbe(spark: SparkSession, table: Path, snap: Snapshot,
      keys: Array[Long], keyCol: String, carry: Seq[String] = Nil): Array[Row] = {
    if (keys.isEmpty || snap.files.isEmpty) return Array.empty
    val candidates = pruneFilesOn(snap, physName(table, keyCol), keys.min, keys.max)
    if (candidates.isEmpty) return Array.empty
    scanFiles(spark, table, candidates, fileCol = Some("__file"))
      .filter(col(keyCol).cast("long").isin(keys.map(Long.box).toSeq: _*))
      .select(col("__file") +: col(keyCol).cast("long") +: carry.map(col): _*)
      .collect().distinct
  }

  /** The DV re-adds and the touched files of a merge-on-read write of
    * `keys` against `snap`, with the probed rows they came from. */
  private final case class MorDelta(probed: Array[Row], dvAdds: Vector[AddFile],
      touched: Set[String])

  private def morDelta(spark: SparkSession, table: Path, snap: Snapshot,
      keys: Array[Long], keyCol: String, carry: Seq[String] = Nil): MorDelta = {
    val probed = morProbe(spark, table, snap, keys, keyCol, carry)
    val matches = probed.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).distinct.sorted.toVector).toMap
    MorDelta(probed, extendDvs(table, snap, matches, keyCol), matches.keySet)
  }

  /** Extend each matched file's deletion vector with its matched keys:
    * new immutable sidecar = old DV keys ∪ new keys; the returned
    * AddFiles re-enter the log with the new dv (replacing the old
    * entries — pure metadata, zero data rewritten), in snapshot order:
    * file names are random, their position in the log is not. */
  private def extendDvs(table: Path, snap: Snapshot, matches: Map[String, Vector[Long]],
      keyCol: String): Vector[AddFile] =
    snap.files.filter(f => matches.contains(f.path)).map { f =>
      val newKeys = matches(f.path)
      val existing = f.dv.map(readDv(table, _)._2).getOrElse(Vector.empty)
      // DVs apply to the RAW physical scan, so the key column is
      // recorded under its physical name (identity for unmapped tables)
      f.copy(dv = Some(writeDv(table, physName(table, keyCol),
        (existing ++ newKeys).distinct)))
    }

  /** What a merge-on-read delete did: the commit version (the base
    * snapshot's when no live row held a key), the files whose deletion
    * vector it extended, the live file count, and the probed rows —
    * (file, key, carried columns...) per distinct live row that held a
    * deleted key, read before the delete. */
  final case class MorDelete(version: Long, dvFiles: Int, filesTotal: Int,
      probed: Array[Row])

  /** Merge-on-READ delete: instead of copy-on-write rewriting every file
    * that contains a deleted key ([[deleteKeys]]), write a churn-sized
    * deletion-vector sidecar per affected file and re-commit the file
    * entries with the new dv — a 1-row delete against a 100 TB table
    * writes O(1) bytes of data and rewrites ZERO files; readers apply
    * the vectors, and the next [[compact]] folds them in. The key column
    * must be integral (same domain as the footer stats). The keys are
    * driver-held, so the whole delete is one Spark job (the probe);
    * `carry` names columns of the deleted rows to return with them
    * (the text index takes each deleted doc's length this way), and
    * `props` maps the probed rows to the table properties the delete
    * commit upserts ([[propsAt]]; the text index's statistics shrink in
    * the commit that deletes the postings). No live row holding a key =
    * no commit. */
  def deleteMor(spark: SparkSession, table: Path, keys: Array[Long], keyCol: String,
      carry: Seq[String] = Nil,
      props: Array[Row] => Map[String, String] = _ => Map.empty): MorDelete =
      Jobs.labeled(spark, s"txlog deleteMor ${table.getFileName}") {
    val snap = snapshotAt(table)
    val d = morDelta(spark, table, snap, keys, keyCol, carry)
    if (d.dvAdds.isEmpty) return MorDelete(snap.version, 0, snap.files.size, d.probed)
    val v = commitRetry(table, "delete-mor", d.dvAdds, Nil, extra = propsExtra(props(d.probed)))(
      morValidator(snap, d.touched, table, keyCol, keys))
    MorDelete(v, d.dvAdds.size, snap.files.size, d.probed)
  }

  /** [[deleteMor]] of a key frame's distinct non-null keys. Returns
    * (version, filesRewritten = 0, dvFilesTouched, filesTotal). */
  def deleteMor(spark: SparkSession, table: Path, keys: DataFrame, keyCol: String):
      (Long, Int, Int, Int) = Jobs.labeled(spark, s"txlog deleteMor ${table.getFileName}") {
    val d = deleteMor(spark, table, morKeys(keys, keyCol), keyCol)
    (d.version, 0, d.dvFiles, d.filesTotal)
  }

  /** Merge-on-READ MERGE (upsert): same result as [[mergeCow]] — update
    * rows replace same-key rows, unmatched keys insert — but the matched
    * old rows are deletion-vectored instead of rewritten, and the full
    * update set lands as fresh files: the write cost is
    * O(delta + sidecars), never O(affected files). Returns
    * (version, filesRewritten = 0, dvFilesTouched, filesTotal). */
  def mergeMor(spark: SparkSession, table: Path, updates: DataFrame, keyCol: String,
      statsCol: String, nParts: Int = 1): (Long, Int, Int, Int) = {
    val snap = snapshotAt(table)
    validateSchema(tableSchema(table), updates.schema, allowEvolution = false): Unit
    enforceConstraints(table, updates)
    val keys = morKeys(updates, keyCol)
    if (keys.isEmpty) return (snap.version, 0, 0, snap.files.size) // empty delta
    val d = morDelta(spark, table, snap, keys, keyCol)
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    phys(updates, table).repartition(nParts).write.mode("overwrite").parquet(stage.toString)
    val adds = promoteStaged(spark, stage, table, statsCol)
    val v = commitRetry(table, "merge-mor", d.dvAdds ++ adds, Nil)(
      morValidator(snap, d.touched, table, keyCol, keys))
    (v, 0, d.dvAdds.size, snap.files.size)
  }

  /** TIMESTAMP AS OF resolution, Delta's rule (Armbrust VLDB 2020 §2):
    * the snapshot at time t is the LATEST commit whose timestamp is
    * <= t, the commit timestamp being the commit file's modification
    * time (no schema change, works for every table ever written; a
    * clock-skewed object store would need monotonized times, noted in
    * the Delta paper too). Errors before the first commit. */
  def versionAtTimestamp(table: Path, tsMillis: Long): Long = {
    val fit = versions(table).filter(v =>
      Files.getLastModifiedTime(versionDir(table, v).resolve("commit.json"))
        .toMillis <= tsMillis)
    require(fit.nonEmpty,
      s"no commit in $table at or before ${java.time.Instant.ofEpochMilli(tsMillis)}")
    fit.max
  }

  /** One commit's recorded actions — (op, adds, removed paths),
    * metadata-only. The streaming tail (graft.sources.LakeStreamSource)
    * classifies commits with this: an append-class commit (no removes,
    * no deletion vectors on its adds) contributes exactly its added
    * files to a micro-batch; anything else is a data-change commit. */
  def commitActions(table: Path, v: Long): (String, Vector[AddFile], Vector[String]) = {
    val node = commitNode(table, v) // txn-resolved: aborted reads as a no-op
    (node.get("op").asText,
      node.get("adds").elements().asScala.map(nodeToAdd).toVector,
      node.get("removes").elements().asScala.map(_.asText).toVector)
  }

  /** The keys NEWLY deletion-vectored by commit `v`, per re-added file:
    * (file, keyCol, keys) with keys = dv(v) \ dv(v-1). Driver-side and
    * churn-sized (sidecars are KBs by contract) — this is what lets the
    * streaming change feed surface a merge-on-read commit's deletes as
    * a plain scan + IN-list filter, no join and no except algebra. */
  def newlyDvKeys(table: Path, v: Long): Seq[(AddFile, String, Vector[Long])] = {
    val prev: Map[String, Option[String]] =
      if (v == 0) Map.empty
      else snapshotAt(table, Some(v - 1)).files.map(f => f.path -> f.dv).toMap
    commitActions(table, v)._2.filter(_.dv.isDefined).flatMap { f =>
      val (kc, keys) = readDv(table, f.dv.get)
      val old = prev.get(f.path).flatten
        .map(d => readDv(table, d)._2.toSet).getOrElse(Set.empty[Long])
      val fresh = keys.filterNot(old)
      if (fresh.isEmpty) None else Some((f, kc, fresh))
    }
  }

  /** Multi-table-transaction visibility (the `$txns` metadata table):
    * every commit of this table that carries a txn marker reference,
    * with its ORIGINAL op (before no-op resolution), the marker path,
    * and the transaction's resolved outcome. Resolution uses the same
    * lease discipline as reads, so listing a table with an orphaned
    * in-flight txn resolves (aborts) it rather than blocking forever. */
  def txnCommits(table: Path): Seq[(Long, String, String, String)] =
    versions(table).flatMap { v =>
      val node = rawCommit(table, v)
      Option(node.get("txn")).map { m =>
        (v, node.get("op").asText, m.asText, outcomeOf(table, java.nio.file.Paths.get(m.asText)))
      }
    }

  /** Commit history (DESCRIBE HISTORY): one (version, op, n_adds,
    * n_removes) tuple per committed version, metadata-only. */
  def history(table: Path): Seq[(Long, String, Long, Long)] =
    versions(table).map { v =>
      val node = commitNode(table, v) // aborted txns display as no-ops
      (v, node.get("op").asText,
        node.get("adds").size().toLong, node.get("removes").size().toLong)
    }

  // ------------------------------------------------- streaming exactly-once

  /** Streaming batch ids already recorded in the log. O(commits) commit
    * reads — use [[isBatchCommitted]] on the hot path; this full-history
    * form exists for audits and tests. */
  def committedBatchIds(table: Path): Set[Long] =
    versions(table).flatMap { v =>
      val node = commitNode(table, v) // txn-resolved, like the watermark
      Option(node.get("batchId")).map(_.asLong)
    }.toSet

  /** Restart-dedup check in O(checkpoint interval): Structured
    * Streaming delivers batches in order, so every committed id is at
    * or below the checkpointed watermark except the trailing commits —
    * id <= watermark means "already committed" (an id the sink never
    * committed can only be above the watermark, because batch n+1 is
    * only delivered after batch n's sink call returned). A 100k-commit
    * streaming table answers this from <= CheckpointEvery file reads,
    * not 100k. The watermark is the log fold's `batchMax`, txn-resolved:
    * an ABORTED multi-table transaction's batch tag never advances it
    * (the batch would be skipped on redelivery and silently lost). */
  def isBatchCommitted(table: Path, batchId: Long): Boolean =
    stateOf(table, None).batchMax.exists(batchId <= _)

  /** Shared claim-fenced exactly-once commit loop for streaming sinks.
    * CLAIM-FENCED duplicate check: only after holding the claim on
    * latest+1 is the batch-id set stable (no other commit can land
    * until we publish or abandon), so check-then-publish has no TOCTOU
    * window. A detected duplicate SKIPS — abandon the claim, run
    * `cleanup` (delete the batch's orphaned artifacts), return None;
    * throwing would fail the whole streaming query on what is, by
    * contract, a benign redelivery. A FAILING `validate` (a real OCC
    * conflict) throws instead — nothing was committed, so the streaming
    * engine's retry of the batch stays exactly-once. Same time-based
    * bound as commitRetry: the loop must OUTLAST a crashed writer's
    * full staleness lease — an attempt-count bound alone would fail
    * every batch for the whole lease window. Contract: ONE streaming
    * query writes a given table (two queries' batch ids would collide —
    * the Delta appId refinement); ids are monotone, so dedup is the
    * O(checkpoint-interval) [[isBatchCommitted]] watermark check. */
  private def streamingCommit(table: Path, batchId: Long, op: String,
      adds: Seq[AddFile], schema: => StructType,
      validate: Option[Snapshot] => Boolean, cleanup: () => Unit): Option[Long] = {
    val deadline = System.currentTimeMillis() + StaleClaimMs + 60_000L
    var attempt = 0
    while (attempt < 60 || System.currentTimeMillis() < deadline) {
      val v = latestVersion(table) + 1
      Files.createDirectories(logDir(table))
      val vd = versionDir(table, v)
      if (claimDir(vd)) {
        if (isBatchCommitted(table, batchId)) {
          publishAbandoned(table, vd, v)
          cleanup()
          return None
        }
        val published = try { // same fence as commitRetry: never squat the claim
          val snapNow = if (v == 0) None else Some(snapshotAt(table))
          if (!validate(snapNow))
            throw new IllegalStateException(
              s"streaming batch $batchId '$op' conflicts with a concurrent commit")
          publishCommit(table, vd, v, op, adds, Nil, Some(batchId), Some(schema))
        } catch { case e: Throwable => publishAbandoned(table, vd, v); throw e }
        if (published) return Some(v)
      } else reclaimIfStale(table, v)
      attempt += 1
    }
    throw new IllegalStateException(
      s"streaming batch $batchId lost the commit race past the lease deadline")
  }

  /** Exactly-once foreachBatch sink: Structured Streaming re-delivers
    * the in-flight batch after a restart, so an idempotent sink must
    * recognize a batch it already committed. Each streaming append
    * records its batchId in the commit; a redelivered batch is skipped
    * (returns None). Use from foreachBatch:
    * {{{ q.foreachBatch((df, id) => TxLog.streamingAppend(spark, df, id, table, "k")) }}} */
  def streamingAppend(spark: SparkSession, batch: DataFrame, batchId: Long,
      table: Path, statsCol: String, nParts: Int = 1): Option[Long] =
      Jobs.labeled(spark, s"txlog streamingAppend ${table.getFileName}") {
    if (isBatchCommitted(table, batchId)) return None
    Files.createDirectories(table)
    validateSchema(tableSchema(table), batch.schema, allowEvolution = false): Unit // fail fast
    enforceConstraints(table, batch)
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    val out = if (nParts > 0) batch.repartition(nParts) else batch
    phys(out, table).write.mode("overwrite").parquet(stage.toString)
    val adds = promoteStaged(spark, stage, table, statsCol)
    streamingCommit(table, batchId, "streaming-append", adds,
      validateSchema(tableSchema(table), batch.schema, allowEvolution = false),
      _ => true,
      () => adds.foreach(a => Files.deleteIfExists(table.resolve(a.path)): Unit))
  }

  /** Exactly-once streaming CDC APPLY — the composition of the two
    * pillars: a stream of change rows (insert/update/delete, tagged by
    * `opCol`) lands in the ACID table as ONE merge-on-read commit per
    * micro-batch, tagged with the batch id. Non-delete rows upsert
    * (matched old rows are deletion-vectored, the new rows land as a
    * fresh file); delete rows extend the vectors only. A redelivered
    * batch (engine restart) is recognized by its batch id under the
    * claim fence and skipped, so the table equals the batch recompute
    * of the whole change stream no matter where the restart hit.
    * Contract: at most one change row per key per batch — pre-compact
    * upstream (e.g. latest-by-sequence per key) when the source can
    * carry more. Use from foreachBatch:
    * {{{ q.foreachBatch((df, id) =>
    *       TxLog.streamingApply(spark, df, id, table, "op", "k", "k")) }}} */
  def streamingApply(spark: SparkSession, batch: DataFrame, batchId: Long,
      table: Path, opCol: String, keyCol: String, statsCol: String,
      nParts: Int = 1): Option[Long] = {
    Files.createDirectories(table)
    if (isBatchCommitted(table, batchId)) return None
    val baseSnap = if (versions(table).isEmpty) Snapshot(-1L, Vector.empty)
      else snapshotAt(table)
    val upserts = batch.filter(col(opCol) =!= "delete").drop(opCol)
    validateSchema(tableSchema(table), upserts.schema, allowEvolution = false): Unit
    enforceConstraints(table, upserts)
    // driver-held keys supply bounds + probe set (the deleteMor discipline)
    val keys = morKeys(batch, keyCol)
    val d = morDelta(spark, table, baseSnap, keys, keyCol)
    val stage = table.resolve(s".stage-${UUID.randomUUID()}")
    phys(upserts, table).repartition(math.max(nParts, 1))
      .write.mode("overwrite").parquet(stage.toString)
    val adds = promoteStaged(spark, stage, table, statsCol)
    val validator: Option[Snapshot] => Boolean =
      if (keys.isEmpty) _ => true
      else {
        val mor = morValidator(baseSnap, d.touched, table, keyCol, keys)
        // claiming v0 over an EMPTY base is the expected first-commit
        // state, not a conflict (morValidator's None=conflict rule is
        // for bases that HAD commits when the write began)
        snapNow => (baseSnap.version == -1L && snapNow.isEmpty) || mor(snapNow)
      }
    streamingCommit(table, batchId, "streaming-merge", d.dvAdds ++ adds,
      validateSchema(tableSchema(table), upserts.schema, allowEvolution = false),
      validator,
      // a redelivered batch's orphans are the NEW artifacts only: the
      // fresh data files and the new sidecars — never the dvAdds' data
      // paths, which are the table's own live files
      () => {
        adds.foreach(a => Files.deleteIfExists(table.resolve(a.path)): Unit)
        d.dvAdds.foreach(_.dv.foreach(dv => Files.deleteIfExists(table.resolve(dv)): Unit))
      })
  }

  // ------------------------------------------------------------ change feed

  /** Row-level change feed between two versions, derived from the FILE
    * diff: rows appearing only in files added across (fromVersion,
    * toVersion] are `insert`s, rows appearing only in removed files are
    * `delete`s; rows a copy-on-write rewrite carried over unchanged
    * cancel out of both sides. The EXCEPT runs over the TOUCHED files
    * only — at 100 TB the feed's cost tracks the churn between the two
    * versions, never the table size. Updates surface as delete+insert
    * pairs of the same key (the CDC-minimal encoding downstream
    * incremental consumers re-merge). */
  def changeFeed(spark: SparkSession, table: Path, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val fromS = snapshotAt(table, Some(fromVersion))
    val toS = snapshotAt(table, Some(toVersion))
    // file identity is (path, dv): a merge-on-read delete re-adds the
    // same path with a new vector, so the file enters BOTH diff sides
    // and the exceptAll below cancels the carried-over rows, leaving
    // exactly the newly-DV'd rows as deletes — same algebra as a
    // copy-on-write rewrite
    val fromBy = fromS.files.map(f => f.path -> f.dv).toMap
    val toBy = toS.files.map(f => f.path -> f.dv).toMap
    val addedFiles = toS.files.filter(f => !fromBy.get(f.path).contains(f.dv)).sortBy(_.path)
    val removedFiles = fromS.files.filter(f => !toBy.get(f.path).contains(f.dv)).sortBy(_.path)
    def rows(files: Vector[AddFile]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(scanFiles(spark, table, files, Some(toVersion)))
    (rows(addedFiles), rows(removedFiles)) match {
      case (None, None) =>
        // no churn: an empty feed with the change-typed schema
        val any = readAt(spark, table, Some(toVersion)).filter(lit(false))
        any.withColumn("_change_type", lit("insert"))
      case (added, removed) =>
        val ins = (added, removed) match {
          case (Some(a), Some(r)) => a.exceptAll(r)
          case (Some(a), None) => a
          case (None, _) => added.getOrElse(removed.get).filter(lit(false))
        }
        val del = (added, removed) match {
          case (Some(a), Some(r)) => r.exceptAll(a)
          case (None, Some(r)) => r
          case (_, None) => added.get.filter(lit(false))
        }
        ins.withColumn("_change_type", lit("insert"))
          .unionByName(del.withColumn("_change_type", lit("delete")))
    }
  }

  // ----------------------------------------------------------------- vacuum

  /** Delete data files unreferenced by the snapshots of the most recent
    * `keepVersions` committed versions — the storage-reclaim half of
    * compaction/merge (their old files stay on disk for time travel
    * until vacuumed). Time travel to vacuumed-away versions becomes
    * unreadable, exactly like VACUUM in the published Delta protocol.
    *
    * `minAgeMs` is the retention guard the Delta protocol documents:
    * an IN-FLIGHT writer's promoted-but-uncommitted files are on disk
    * and referenced by no snapshot — deleting them would corrupt the
    * commit that is about to reference them. Only files older than the
    * window (file mtime) are eligible. The default is 24 HOURS — far
    * above the commit lease, because nothing bounds a writer's
    * promote-to-commit gap (Delta defaults to 7 days for the same
    * reason); commitRetry additionally re-verifies its adds still
    * exist under the claim fence, so a write that DOES straddle the
    * window fails cleanly instead of publishing an unreadable
    * snapshot. Returns the deleted names. */
  def vacuum(table: Path, keepVersions: Int = 1,
      minAgeMs: Long = 24 * 60 * 60 * 1000L): Vector[String] = {
    val vs = versions(table)
    // TAGGED versions are retention roots (Iceberg's rule): a named ref
    // is a promise that `VERSION AS OF 'name'` stays readable, so its
    // snapshot survives any keepVersions window until the tag is
    // repointed or the version drops out of the tag table
    val retained = (vs.takeRight(math.max(1, keepVersions)) ++
      tags(table).values.filter(vs.contains)).distinct.sorted
    // a retained snapshot references its data files AND their DV
    // sidecars; a retained COMMIT additionally references its CDC
    // sidecar (the change feed must stay replayable over the window)
    val referenced = retained.flatMap(v =>
      snapshotAt(table, Some(v)).files.flatMap(f => f.path +: f.dv.toSeq)).toSet ++
      retained.flatMap(v => commitCdcFile(table, v))
    val cutoff = System.currentTimeMillis() - minAgeMs
    val onDisk = listDir(table)
      .filter(p => Files.isRegularFile(p) && (p.getFileName.toString.endsWith(".parquet")
        || p.getFileName.toString.endsWith(".dv.json")))
      .filter(p => (try Files.getLastModifiedTime(p).toMillis
        catch { case _: java.io.IOException => Long.MaxValue }) <= cutoff)
      .map(_.getFileName.toString)
    val doomed = onDisk.filterNot(referenced).sorted
    doomed.foreach(f => Files.deleteIfExists(table.resolve(f)))
    // `_txnout` outcome replicas whose transaction the newest checkpoint
    // has FOLDED are redundant durable state (resolution reads the fold
    // before ever touching the sibling marker) — without this they
    // accrete one tiny file per transaction forever at streaming-txn
    // rates. Same age guard: a replica being written concurrently with
    // its fold is left for the next pass.
    val txnOutDir = logDir(table).resolve("_txnout")
    val reclaimed: Vector[String] =
      if (!Files.isDirectory(txnOutDir)) Vector.empty
      else {
        val folded = newestCheckpoint(table, versions(table), Long.MaxValue)
          .fold(Set.empty[String])(c => foldedOutcomes(c._2).keySet)
        listDir(txnOutDir)
          .filter(p => folded.contains(p.getFileName.toString))
          .filter(p => (try Files.getLastModifiedTime(p).toMillis
            catch { case _: java.io.IOException => Long.MaxValue }) <= cutoff)
          .map { p => Files.deleteIfExists(p); s"_txnout/${p.getFileName}" }
          .sorted
      }
    doomed ++ reclaimed
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Recursive delete for callers cleaning up whole table directories
    * (e.g. temp tables built inside gated queries). A table re-created
    * under `p` is a new incarnation, so every cached entry of a table
    * under `p` is dropped ([[StampedCache.dropUnder]]). */
  def deleteTree(p: Path): Unit = {
    deleteRecursively(p)
    StampedCache.dropUnder(p)
  }
}

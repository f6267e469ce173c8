package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** PER-FILE BLOOM-FILTER INDEX — Delta's bloom filter index re-expressed
  * as a persisted, versioned, incrementally-maintained lake artifact
  * (the sim07 "index is a table" move applied to point lookups).
  *
  * Footer [min,max] stats prune RANGE predicates on clustered columns;
  * they are useless for point lookups on a column the layout was not
  * clustered by (every file's range covers the probe). A bloom filter
  * per data file answers "can this file contain value v?" with no false
  * negatives and ~fpp false positives, so a needle-in-100TB lookup
  * scans the one file holding the needle instead of all of them.
  *
  * Design, scale-first:
  *  - the index IS a TxLog table: one row per indexed data file
  *    (data_file, n_rows, m_bits, k, bits BINARY) — committed, versioned
  *    and time-travelable like any other table; ~2 bytes/row indexed at
  *    the default 16 bits/key, i.e. file-count-sized rows with KB-sized
  *    payloads, the same metadata class as the log itself;
  *  - BUILD is one distributed scan: values hash ONCE in codegen'd SQL
  *    (xxhash64 twice — the Kirsch-Mitzenmacher double-hashing trick
  *    derives all k probes from two hashes), bitsets assemble per
  *    partition in mapPartitions (genuine per-partition imperative
  *    work) and OR-merge per file — bit-OR is commutative, so the
  *    result is deterministic under any partitioning;
  *  - INCREMENTAL maintenance: [[ensureIndexed]] diffs the index
  *    against the table snapshot and indexes only NEW files (an append
  *    indexes the appended files, never rebuilds); rows for compacted-
  *    away files go stale harmlessly — pruning intersects candidates
  *    with the LIVE snapshot;
  *  - LOOKUP is distributed-then-control-plane: membership tests run
  *    IN the index scan's executors (the bitsets never leave them —
  *    collecting 2 MiB/file bitsets driver-side would be fatal at
  *    100k-file scale), only file-count-sized (name, verdict) pairs
  *    reach the driver, and only surviving files are scanned — with
  *    deletion vectors applied and the exact residual filter
  *    re-applied, so a false positive costs one extra file scan, never
  *    a wrong answer.
  */
object BloomIndex {

  private val Seed = 0x6210f5L // second-hash salt (arbitrary, fixed)

  /** The k probe positions for a value hashed to (h1, h2) — shared by
    * the executor-side build and the driver-side membership test, so
    * the two can never disagree. */
  private[ops] def bitPositions(h1: Long, h2: Long, m: Int, k: Int): Array[Int] = {
    val out = new Array[Int](k)
    var i = 0
    while (i < k) {
      val h = h1 + i.toLong * h2
      out(i) = (((h % m) + m) % m).toInt
      i += 1
    }
    out
  }

  /** Default single-file bitset cap: 2 MiB. Files with ≫1M keys
    * saturate it — bits/key degrades SILENTLY below the requested
    * budget, so the index records `n_keys` per row and blix06 audits
    * the degraded regime explicitly. */
  val DefaultCapBits: Int = 1 << 24

  private def nextPow2(x: Long, capBits: Int): Int = {
    var m = 64L
    while (m < x) m <<= 1
    math.min(m, capBits.toLong).toInt
  }

  /** Build bloom rows for `files` of `table` over string column
    * `valueCol`: one output row per file. One scan of exactly those
    * files; hashing in codegen, bitsets in mapPartitions. */
  private def bloomRows(spark: SparkSession, table: Path, files: Seq[TxLog.AddFile],
      valueCol: String, bitsPerKey: Int, k: Int,
      capBits: Int = DefaultCapBits): DataFrame = {
    import spark.implicits._
    // m per file from the LOG's row counts (no extra counting pass)
    val mByFile: Map[String, Int] =
      files.map(f => f.path -> nextPow2(f.rows.max(1L) * bitsPerKey, capBits)).toMap
    val bc = spark.sparkContext.broadcast(mByFile)
    val kk = k
    // raw (footer-named) read: a column-mapped table's files carry the
    // PHYSICAL name; the index rows themselves are column-name-free
    // (hashes of VALUES), so a later rename needs no index rebuild
    val physCol = TxLog.tableSchema(table)
      .map(ColumnMapping.physicalOf(_, valueCol)).getOrElse(valueCol)
    val tagged = spark.read
      .parquet(files.map(f => table.resolve(f.path).toString): _*)
      .select(
        element_at(split(input_file_name(), "/"), -1).as("data_file"),
        xxhash64(col(physCol)).as("h1"),
        xxhash64(col(physCol), lit(Seed)).as("h2"))
      .as[(String, Long, Long)]
    val partial: Dataset[(String, Array[Byte])] = tagged.mapPartitions { it =>
      val local = scala.collection.mutable.HashMap.empty[String, Array[Byte]]
      it.foreach { case (f, h1, h2) =>
        val m = bc.value(f)
        val bits = local.getOrElseUpdate(f, new Array[Byte](m / 8))
        bitPositions(h1, h2, m, kk).foreach { p =>
          bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
        }
      }
      local.iterator
    }
    // exact distinct-key count per file — recorded so the EFFECTIVE
    // bits/key (m / n_keys) is auditable where the cap saturates a
    // filter: requested bits/key is a lie there, and blix06 gates the
    // degraded regime against the (1 - e^(-k n/m))^k bound it implies
    val keyCounts = tagged.toDF("data_file", "h1", "h2")
      .groupBy("data_file")
      .agg(countDistinct(struct(col("h1"), col("h2"))).as("n_keys"))
    partial.groupByKey(_._1)
      .reduceGroups { (a, b) =>
        val merged = a._2.clone()
        var i = 0
        while (i < merged.length) { merged(i) = (merged(i) | b._2(i)).toByte; i += 1 }
        (a._1, merged)
      }
      .map(_._2)
      .toDF("data_file", "bits")
      .join(broadcast(files.map(f =>
          (f.path, f.rows, mByFile(f.path), kk)).toDF("data_file", "n_rows", "m_bits", "k")),
        "data_file")
      .join(broadcast(keyCounts), "data_file")
      .select(col("data_file"), col("n_rows"), col("n_keys"), col("m_bits"), col("k"),
        xxhash64(col("data_file")).as("file_hash"), col("bits"))
  }

  /** Bring `index` up to date with `table`'s CURRENT snapshot: bloom
    * rows are appended for live data files not yet indexed (first call
    * = full build). Returns the number of files newly indexed. */
  def ensureIndexed(spark: SparkSession, table: Path, index: Path,
      valueCol: String, bitsPerKey: Int = 16, k: Int = 7,
      capBits: Int = DefaultCapBits): Int = {
    val live = TxLog.snapshotAt(table).files
    // the watermark is the index's own data_file column: file-count-sized,
    // read on the driver (no Spark job), deletion vectors applied
    val indexed: Set[String] =
      if (TxLog.versions(index).isEmpty) Set.empty
      else TxLog.readLocal(spark, index, TxLog.snapshotAt(index).files, Seq("data_file"))
        .map(_.getString(0)).toSet
    val fresh = live.filterNot(f => indexed.contains(f.path))
    if (fresh.isEmpty) return 0
    TxLog.append(spark,
      bloomRows(spark, table, fresh, valueCol, bitsPerKey, k, capBits),
      index, "file_hash", nParts = 1): Unit
    fresh.size
  }

  /** Point-lookup file pruning: the LIVE data files of `table` that may
    * contain `probe` according to the index (no false negatives; a file
    * with no index row — e.g. appended since the last ensureIndexed —
    * is conservatively kept). The membership tests run DISTRIBUTED: the
    * bitsets (up to 2 MiB/file — driver-fatal at 100k-file scale if
    * collected) stay in the executors' index scan, and only the
    * file-count-sized (data_file, mayContain) verdict pairs come back —
    * the same size class as the snapshot metadata every query already
    * reads. Returns (candidate files, total live files). */
  def candidateFiles(spark: SparkSession, table: Path, index: Path,
      probe: String, version: Option[Long] = None): (Vector[TxLog.AddFile], Int) = {
    import spark.implicits._
    // the probe hashes through SPARK's xxhash64 (one control-plane row)
    // so the membership tests bit-match the executor-built filters
    val hr = spark.range(1)
      .select(xxhash64(lit(probe)), xxhash64(lit(probe), lit(Seed))).head
    val (h1, h2) = (hr.getLong(0), hr.getLong(1))
    val verdicts: Map[String, Boolean] = TxLog.readAt(spark, index)
      .select("data_file", "m_bits", "k", "bits")
      .as[(String, Int, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (f, m, k, bits) =>
          (f, bitPositions(h1, h2, m, k)
            .forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0))
        }
      }
      .collect().toMap // names + booleans only, never the bitsets
    val live = TxLog.snapshotAt(table, version).files
    (live.filter(f => verdicts.getOrElse(f.path, true)).toVector, live.size)
  }

  /** Drop index rows for data files no longer LIVE in `table` (rows go
    * stale when compaction/clustering rewrites files — harmless for
    * correctness since pruning intersects with the live snapshot, but
    * at 100 TB a weekly-compacted table would otherwise accrete an
    * unbounded dead-row tail that every lookup scan pays for). The
    * delete is merge-on-read keyed by `file_hash` (the index's integer
    * stats column): O(stale) sidecar bytes, zero files rewritten, and
    * the index table's own next compact folds them in. A (vanishingly
    * unlikely) xxhash64 collision between a stale and a live file name
    * would make the delete overreach onto the live row, so colliding
    * hashes are conservatively skipped — a stale row is harmless, a
    * missing live row is only a lost prune, but the guard keeps even
    * that from silently changing pruning power. Returns the number of
    * stale rows dropped. */
  def pruneStale(spark: SparkSession, table: Path, index: Path): Int = {
    if (TxLog.versions(index).isEmpty) return 0
    val live = TxLog.snapshotAt(table).files.map(_.path).toSet
    // file-count-sized metadata: names + hashes only, never the bitsets
    val rows = TxLog.readAt(spark, index).select("data_file", "file_hash")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val liveHashes = rows.filter(r => live.contains(r._1)).map(_._2).toSet
    val stale = rows.filter(r => !live.contains(r._1))
      .map(_._2).distinct.filterNot(liveHashes.contains)
    if (stale.isEmpty) return 0
    TxLog.deleteMor(spark, index, stale, "file_hash"): Unit
    stale.length
  }

  /** Measured false-positive rate: for `probes` (values known to be
    * ABSENT from the indexed column), the fraction of (probe, file)
    * membership tests that fire. All probes hash in ONE control-plane
    * job (so the audit pays one job, not one per probe); the bit tests
    * run driver-side against the file-count-sized index rows. Returns
    * (firedTests, totalTests). The theoretical bound at the default
    * 16 bits/key, k=7 is ~6e-4 per test — the audit's gate claim. */
  def measureFpp(spark: SparkSession, index: Path, probes: Seq[String]): (Long, Long) = {
    import spark.implicits._
    val hashes = probes.toDF("p")
      .select(xxhash64(col("p")), xxhash64(col("p"), lit(Seed)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // probe hashes broadcast (probe-count-sized); the bitsets stay in
    // the executors — each index row reduces to its fired-test count
    val bc = spark.sparkContext.broadcast(hashes)
    val perRow = TxLog.readAt(spark, index)
      .select("m_bits", "k", "bits")
      .as[(Int, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (m, k, bits) =>
          bc.value.count { case (h1, h2) =>
            bitPositions(h1, h2, m, k)
              .forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)
          }.toLong
        }
      }
    val r = perRow.agg(coalesce(sum(col("value")), lit(0L)), count(lit(1))).head
    (r.getLong(0), r.getLong(1) * probes.size)
  }

  /** PER-FILE fpp audit rows: for `probes` (values known absent), each
    * index row's fired-test count plus the row's recorded n_keys/m_bits
    * — the saturated-regime audit needs the per-file rate, because an
    * aggregate average hides one cap-degraded file among healthy ones.
    * Bitsets stay in the executors; one KB-sized row per indexed file
    * returns. */
  def measureFppPerFile(spark: SparkSession, index: Path,
      probes: Seq[String]): DataFrame = {
    import spark.implicits._
    val hashes = probes.toDF("p")
      .select(xxhash64(col("p")), xxhash64(col("p"), lit(Seed)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bc = spark.sparkContext.broadcast(hashes)
    TxLog.readAt(spark, index)
      .select("data_file", "n_keys", "m_bits", "k", "bits")
      .as[(String, Long, Int, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (f, nk, m, k, bits) =>
          val fired = bc.value.count { case (h1, h2) =>
            bitPositions(h1, h2, m, k)
              .forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)
          }
          (f, nk, m, k, fired.toLong, bc.value.length.toLong)
        }
      }
      .toDF("data_file", "n_keys", "m_bits", "k", "fired", "total")
  }

  /** The point lookup itself: scan only the index's candidate files,
    * re-apply the exact predicate (false positives cost one file scan,
    * never a wrong row). Candidates read through [[TxLog.readFiles]],
    * which applies their deletion-vector sidecars — so on a
    * merge-on-read table the lookup honors row-level deletes instead of
    * resurrecting DV'd rows. */
  def lookup(spark: SparkSession, table: Path, index: Path, valueCol: String,
      probe: String): (DataFrame, Int, Int) = {
    val (cands, total) = candidateFiles(spark, table, index, probe)
    val df = TxLog.readFiles(spark, table, cands)
    (df.filter(col(valueCol) === lit(probe)), cands.size, total)
  }
}

package graft.ops

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Filesystem-level contracts of the transaction log: atomic commit
  * claims under a race, partial-commit invisibility, optimistic-retry
  * append concurrency, time-travel pinning across compaction, checkpoint
  * replay equivalence, footer-only stats, and the copy-on-write
  * pruning guarantee (merge touches only files that can contain an
  * affected key). LakeQueries/tx01-tx05 gate the data semantics against
  * DuckDB; this spec covers what SQL cannot see. */
class TxLogSpec extends SparkSpec {

  private def freshTable(): Path =
    Files.createTempDirectory("graft_txspec").resolve("tbl")

  private def idsDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("doc_id").withColumn("payload", concat(lit("v"), col("doc_id")))
  }

  test("txlog: atomic version claim — exactly one of two racing commits wins") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1) // v0
    val latch = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val results = (0 until 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          latch.await(5, TimeUnit.SECONDS)
          TxLog.tryCommit(table, 1L, s"racer$i", Nil, Nil)
        }
      })
    }
    latch.countDown()
    val wins = results.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(wins.count(identity) == 1, s"expected exactly one winner, got $wins")
    assert(TxLog.latestVersion(table) == 1L)
  }

  test("txlog: a claimed version without commit.json is invisible to readers") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1) // v0
    // simulate a writer that claimed v1 and died before publishing
    Files.createDirectory(table.resolve("_graft_log").resolve(f"v${1L}%020d"))
    assert(TxLog.versions(table) == Vector(0L))
    assert(TxLog.snapshotAt(table).version == 0L)
    assert(TxLog.readAt(spark, table).count() == 5L)
  }

  test("txlog: a STALE orphan claim is reclaimed so writers stay live") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1) // v0
    val orphan = table.resolve("_graft_log").resolve(f"v${1L}%020d")
    Files.createDirectory(orphan)
    // backdate past the staleness window: a crashed writer, long gone
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - TxLog.StaleClaimMs - 1000))
    // without reclaim this would burn every retry on the blocked v1;
    // the orphan is resolved as an abandoned NO-OP commit (never
    // deleted — a resumed claimant can't clobber a published commit),
    // so the append lands at v2
    val v = TxLog.append(spark, idsDf(5L to 9L), table, "doc_id", nParts = 1)
    assert(v == 2L, s"append must resolve the stale v1 claim and land at v2, got v$v")
    assert(TxLog.readAt(spark, table).count() == 10L)
    assert(TxLog.readAt(spark, table, Some(1L)).count() == 5L, "v1 is a no-op commit")
  }

  test("txlog: a concurrent append of an affected key aborts the merge (OCC conflict)") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)
    val snap0 = TxLog.snapshotAt(table)
    // winner: appends a NEW file containing key 5 after the merge's
    // base snapshot was taken — simulate by committing through the same
    // validator the merge uses
    TxLog.append(spark, idsDf(Seq(5L)), table, "doc_id", nParts = 1)
    intercept[IllegalStateException] {
      TxLog.commitRetry(table, "merge", Nil, snap0.files.map(_.path))(
        TxLog.rewriteValidator(snap0, snap0.files.map(_.path), "doc_id", 5L, 5L))
    }
    // a DISJOINT key range is not a conflict: same base, envelope 100..100
    TxLog.commitRetry(table, "touch", Nil, Nil)(
      TxLog.rewriteValidator(snap0, Nil, "doc_id", 100L, 100L))
  }

  test("txlog: compaction and merge PRESERVE later-evolved columns") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(Seq(5L)).withColumn("extra", lit(7L)),
      table, "doc_id", nParts = 1, allowEvolution = true)
    TxLog.compact(spark, table, "doc_id", nParts = 1)
    val afterCompact = TxLog.readAt(spark, table)
    assert(afterCompact.columns.contains("extra"),
      "compaction must rewrite with the LOG schema, not one file's footer")
    assert(afterCompact.filter(col("extra") === 7L).count() == 1L)
    // merge with a SUBSET of the evolved schema: missing column null-fills
    val upd = idsDf(Seq(2L)).withColumn("payload", lit("U"))
    TxLog.mergeCow(spark, table, upd, "doc_id", "doc_id")
    val out = TxLog.readAt(spark, table)
    assert(out.filter(col("extra") === 7L).count() == 1L, "evolved value survives the merge")
    assert(out.filter(col("doc_id") === 2L).select("payload").head.getString(0) == "U")
    assert(out.filter(col("doc_id") === 2L).select("extra").head.isNullAt(0))
  }

  test("txlog: concurrent optimistic appends both land, at distinct versions") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)
    val pool = Executors.newFixedThreadPool(2)
    val latch = new CountDownLatch(1)
    val futures = Seq(5L to 9L, 10L to 14L).map { r =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { latch.await(5, TimeUnit.SECONDS)
          TxLog.append(spark, idsDf(r), table, "doc_id", nParts = 1) }
      })
    }
    latch.countDown()
    val vs = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(vs.toSet == Set(1L, 2L))
    assert(TxLog.readAt(spark, table).count() == 15L)
  }

  test("txlog: time travel pins old versions across delete and compaction") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 2)   // v0
    TxLog.append(spark, idsDf(10L to 19L), table, "doc_id", nParts = 2) // v1
    TxLog.deleteKeys(spark, table, idsDf(Seq(3L, 13L)).select("doc_id"),
      "doc_id", "doc_id")                                               // v2
    TxLog.compact(spark, table, "doc_id", nParts = 1)                   // v3
    assert(TxLog.readAt(spark, table, Some(0L)).count() == 10L)
    assert(TxLog.readAt(spark, table, Some(1L)).count() == 20L)
    assert(TxLog.readAt(spark, table, Some(2L)).count() == 18L)
    assert(TxLog.readAt(spark, table, Some(3L)).count() == 18L)
    assert(TxLog.snapshotAt(table, Some(3L)).files.size == 1)
    // v0's physical files are still resolvable (no in-place mutation)
    val v0ids = TxLog.readAt(spark, table, Some(0L))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(v0ids.toSeq == (0L to 9L))
  }

  test("txlog: checkpoint written at v10 and replay-from-checkpoint = full replay") {
    val table = freshTable()
    (0 until 12).foreach { i =>
      TxLog.append(spark, idsDf(Seq(i.toLong)), table, "doc_id", nParts = 1)
    }
    val ck = table.resolve("_graft_log").resolve(f"v${10L}%020d").resolve("checkpoint.json")
    assert(Files.exists(ck), "expected a checkpoint at version 10")
    val snap = TxLog.snapshotAt(table) // replays ckpt(10) + v11
    assert(snap.version == 11L && snap.files.size == 12)
    assert(TxLog.readAt(spark, table).count() == 12L)
    // sabotage an early commit file: replay must NOT read it anymore
    Files.delete(table.resolve("_graft_log").resolve(f"v${3L}%020d").resolve("commit.json"))
    // v3 no longer counts as committed, but the checkpoint carries its files
    assert(TxLog.snapshotAt(table, Some(11L)).files.size == 12)
  }

  test("txlog: footer stats are exact (rows, min, max) without a data scan") {
    val table = freshTable()
    TxLog.append(spark,
      idsDf(7L to 23L).withColumn("score", col("doc_id") * 10L),
      table, "doc_id", nParts = 1)
    val f = TxLog.snapshotAt(table).files.head
    assert(f.rows == 17L && f.minKey == 7L && f.maxKey == 23L)
    // per-column stats recorded for EVERY integer column in one pass
    assert(f.cols("doc_id") == (7L, 23L))
    assert(f.cols("score") == (70L, 230L))
    assert(!f.cols.contains("payload"), "string columns carry no integer range")
  }

  test("txlog: range reads prune with the NAMED column's stats, conservatively") {
    val table = freshTable()
    Seq(0L to 9L, 10L to 19L).foreach { r =>
      TxLog.append(spark,
        idsDf(r).withColumn("score", col("doc_id") * 10L), table, "doc_id", nParts = 1)
    }
    val snap = TxLog.snapshotAt(table)
    // pruning on a NON-designated integer column uses ITS ranges
    assert(TxLog.pruneFilesOn(snap, "score", 0L, 50L).size == 1)
    val out = TxLog.readAt(spark, table, range = Some(("score", 0L, 50L)))
    assert(out.count() == 6L) // scores 0..50 -> doc_ids 0..5
    // a column with NO recorded stats must keep every file (conservative)
    assert(TxLog.pruneFilesOn(snap, "payload", 0L, 1L).size == 2)
  }

  test("txlog: copy-on-write merge rewrites ONLY files that contain a key") {
    val table = freshTable()
    // four files with disjoint known ranges
    Seq(0L to 9L, 10L to 19L, 20L to 29L, 30L to 39L).foreach { r =>
      TxLog.append(spark, idsDf(r), table, "doc_id", nParts = 1)
    }
    val before = TxLog.snapshotAt(table).files.map(_.path).toSet
    val upd = idsDf(Seq(15L)).withColumn("payload", lit("UPDATED"))
    val (_, rewritten, total) = TxLog.mergeCow(spark, table, upd, "doc_id", "doc_id")
    assert(total == 4 && rewritten == 1)
    val after = TxLog.snapshotAt(table).files.map(_.path).toSet
    assert((before -- after).size == 1, "exactly one file replaced")
    assert((after -- before).size == 1, "exactly one file added")
    val row = TxLog.readAt(spark, table).filter(col("doc_id") === 15L)
      .select("payload").head.getString(0)
    assert(row == "UPDATED")
    assert(TxLog.readAt(spark, table).count() == 40L)
  }

  test("txlog: merge inserts unmatched keys as new rows in a new file") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)
    val upd = idsDf(Seq(5L, 100L)).withColumn("payload", lit("M"))
    val (_, rewritten, _) = TxLog.mergeCow(spark, table, upd, "doc_id", "doc_id")
    assert(rewritten == 1)
    val out = TxLog.readAt(spark, table)
    assert(out.count() == 11L)
    assert(out.filter(col("payload") === "M").count() == 2L)
  }

  test("txlog: concurrent merges on DISJOINT files both land via optimistic retry") {
    val table = freshTable()
    Seq(0L to 9L, 100L to 109L).foreach { r =>
      TxLog.append(spark, idsDf(r), table, "doc_id", nParts = 1)
    }
    val pool = Executors.newFixedThreadPool(2)
    val latch = new CountDownLatch(1)
    val futures = Seq(5L, 105L).map { k =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { latch.await(5, TimeUnit.SECONDS)
          val upd = idsDf(Seq(k)).withColumn("payload", lit(s"M$k"))
          TxLog.mergeCow(spark, table, upd, "doc_id", "doc_id")._1 }
      })
    }
    latch.countDown()
    val vs = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(vs.toSet == Set(2L, 3L), s"both merges must commit, got $vs")
    val out = TxLog.readAt(spark, table)
    assert(out.count() == 20L)
    assert(out.filter(col("payload").startsWith("M")).count() == 2L)
  }

  test("txlog: a merge whose file was stolen by a concurrent rewrite aborts cleanly") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)
    val snap = TxLog.snapshotAt(table)
    // winner: compacts (removes the file the loser plans to rewrite)
    TxLog.compact(spark, table, "doc_id", nParts = 1)
    // loser: staged against the OLD snapshot — simulate by committing
    // removes of the now-gone file through the same validation path
    intercept[IllegalStateException] {
      TxLog.commitRetry(table, "merge", Nil, snap.files.map(_.path)) {
        case None => false
        case Some(s) => snap.files.map(_.path).forall(s.files.map(_.path).contains)
      }
    }
    assert(TxLog.readAt(spark, table).count() == 10L) // table unharmed
  }

  test("txlog: stale rewrite commit is rejected by validation") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)
    intercept[IllegalStateException] {
      TxLog.commitRetry(table, "compact", Nil, Seq("no-such-file.parquet")) {
        case None => false
        case Some(s) => Seq("no-such-file.parquet").forall(s.files.map(_.path).contains)
      }
    }
  }

  test("txlog: streaming append commits a batch once, skips its redelivery") {
    val table = freshTable()
    assert(TxLog.streamingAppend(spark, idsDf(0L to 9L), 0L, table, "doc_id").isDefined)
    // restart redelivery: same batch id arrives again
    assert(TxLog.streamingAppend(spark, idsDf(0L to 9L), 0L, table, "doc_id").isEmpty)
    assert(TxLog.readAt(spark, table).count() == 10L)
    assert(TxLog.streamingAppend(spark, idsDf(10L to 14L), 1L, table, "doc_id").isDefined)
    assert(TxLog.readAt(spark, table).count() == 15L)
    assert(TxLog.committedBatchIds(table) == Set(0L, 1L))
  }

  test("txlog: exactly-once through a real stream restart with a wiped checkpoint") {
    val base = Files.createTempDirectory("graft_txstream")
    val table = base.resolve("tbl")
    idsDf(0L to 19L).repartition(2).write.parquet(base.resolve("in/p0").toString)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(idsDf(Seq(0L)).schema)
        .parquet(base.resolve("in").toString + "/*")
      val q = stream.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          TxLog.streamingAppend(spark, batch, id, table, "doc_id"): Unit
        }
        .start()
      q.awaitTermination(180000)
    }
    runOnce()
    assert(TxLog.readAt(spark, table).count() == 20L)
    // wipe the engine checkpoint: Spark replays batch 0 from scratch —
    // the LOG's batch record is what keeps the sink exactly-once
    val ckpt = base.resolve("ckpt")
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().forEachRemaining(rm) finally s.close()
      }
      Files.deleteIfExists(p)
    }
    rm(ckpt)
    runOnce()
    assert(TxLog.readAt(spark, table).count() == 20L,
      "redelivered batch 0 must be deduplicated by the log")
  }

  test("txlog: schema is enforced — type conflicts and un-flagged new columns refused") {
    import spark.implicits._
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)
    // type conflict: payload becomes a long
    val conflict = Seq((5L, 9L)).toDF("doc_id", "payload")
    val e1 = intercept[IllegalArgumentException] {
      TxLog.append(spark, conflict, table, "doc_id", nParts = 1)
    }
    assert(e1.getMessage.contains("type conflict"))
    // new column without the flag
    val extra = idsDf(Seq(5L)).withColumn("extra", lit(1L))
    val e2 = intercept[IllegalArgumentException] {
      TxLog.append(spark, extra, table, "doc_id", nParts = 1)
    }
    assert(e2.getMessage.contains("allowEvolution"))
    // with the flag: schema evolves, old rows null-fill
    TxLog.append(spark, extra, table, "doc_id", nParts = 1, allowEvolution = true)
    val out = TxLog.readAt(spark, table)
    assert(out.columns.toSeq == Seq("doc_id", "payload", "extra"))
    assert(out.filter(col("extra").isNull).count() == 5L)
    // time travel to v0 sees the PRE-evolution schema
    assert(TxLog.readAt(spark, table, Some(0L)).columns.toSeq == Seq("doc_id", "payload"))
  }

  test("txlog: change feed emits an update as a delete+insert pair of the key") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 2) // v0
    val upd = idsDf(Seq(4L)).withColumn("payload", lit("UPDATED"))
    TxLog.mergeCow(spark, table, upd, "doc_id", "doc_id")             // v1
    val feed = TxLog.changeFeed(spark, table, 0L, 1L)
      .select("_change_type", "doc_id", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set(("delete", 4L, "v4"), ("insert", 4L, "UPDATED")),
      s"carried-over rows must cancel out, got $feed")
    // pure appends produce an insert-only feed
    TxLog.append(spark, idsDf(Seq(100L)), table, "doc_id", nParts = 1) // v2
    val feed2 = TxLog.changeFeed(spark, table, 1L, 2L)
      .select("_change_type", "doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(feed2 == Set(("insert", 100L)))
  }

  test("txlog: clustered append writes one file per cluster with exact range stats") {
    val table = freshTable()
    TxLog.appendClustered(spark, idsDf(0L to 39L), table, "doc_id",
      expr("doc_id div 10"), nClusters = 4)
    val snap = TxLog.snapshotAt(table)
    assert(snap.version == 0L && snap.files.size == 4)
    val ranges = snap.files.map(f => (f.minKey, f.maxKey, f.rows)).sortBy(_._1)
    assert(ranges == Vector((0L, 9L, 10L), (10L, 19L, 10L), (20L, 29L, 10L), (30L, 39L, 10L)))
    // the cluster key is layout metadata, not a stored column
    assert(TxLog.readAt(spark, table).columns.toSeq == Seq("doc_id", "payload"))
    assert(TxLog.readAt(spark, table).count() == 40L)
  }

  test("txlog: watermarked append-mode windows land exactly-once in the table") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_txwin")
    val table = base.resolve("tbl")
    def mkEvents(ids: Range, hourOf: Long => Long) =
      ids.map { i =>
        (i.toLong, new java.sql.Timestamp(hourOf(i.toLong) * 3600 * 1000L), 1.0)
      }.toDF("event_id", "ts", "value")
    // run 1: hours 0..3; run 2 adds hours 4..6, advancing the watermark
    // past the earlier windows so append mode finalizes them
    mkEvents(0 until 40, _ % 4).repartition(2)
      .write.parquet(base.resolve("in/p0").toString)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(mkEvents(0 until 1, _ => 0L).schema)
        .parquet(base.resolve("in").toString + "/*")
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("win_start"), col("n"))
      val q = agg.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append") // only FINALIZED windows emit -> append-only facts
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!batch.isEmpty)
            TxLog.streamingAppend(spark, batch, id, table, "win_start"): Unit
        }
        .start()
      q.awaitTermination(180000)
    }
    runOnce()
    mkEvents(40 until 70, i => 4 + i % 3).repartition(2)
      .write.parquet(base.resolve("in/p1").toString)
    runOnce()
    val out = TxLog.readAt(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once: a finalized window appears at most once
    assert(out.map(_._1).distinct.length == out.length,
      s"duplicate windows in the table: ${out.toSeq.sorted}")
    // correctness: every emitted window's count equals the batch recompute
    val expected = Map(0L -> 10L, 1L -> 10L, 2L -> 10L, 3L -> 10L,
      4L -> 10L, 5L -> 10L, 6L -> 10L).map { case (h, n) => (h * 3600, n) }
    out.foreach { case (w, n) =>
      assert(expected(w) == n, s"window $w has $n, expected ${expected(w)}")
    }
    // the early windows must have finalized once run 2's data advanced
    // the watermark past them
    assert(out.map(_._1).toSet.intersect(Set(0L, 3600L, 7200L)).nonEmpty,
      s"run 2 should finalize run 1's windows, got ${out.toSeq.sorted}")
  }

  test("txlog: vacuum reclaims files dead to the retained window") {
    val table = freshTable()
    (0 until 3).foreach(i => TxLog.append(spark, idsDf(Seq(i.toLong)), table, "doc_id", nParts = 1))
    TxLog.compact(spark, table, "doc_id", nParts = 1)
    assert(TxLog.readAt(spark, table, Some(2L)).count() == 3L) // pre-vacuum time travel works
    // default retention window spares freshly-written files — the guard
    // that protects an in-flight writer's promoted-but-uncommitted files
    assert(TxLog.vacuum(table, keepVersions = 1).isEmpty,
      "files younger than the retention window must survive")
    val deleted = TxLog.vacuum(table, keepVersions = 1, minAgeMs = 0L)
    assert(deleted.size == 3, s"expected the 3 pre-compaction files gone, got $deleted")
    assert(TxLog.readAt(spark, table).count() == 3L) // latest unharmed
    intercept[Exception] { // vacuumed-away version no longer readable
      TxLog.readAt(spark, table, Some(1L)).count()
    }
  }

  test("txlog: range-pruned read keeps only intersecting files, answer stays exact") {
    val table = freshTable()
    Seq(0L to 9L, 10L to 19L, 20L to 29L, 30L to 39L).foreach { r =>
      TxLog.append(spark, idsDf(r), table, "doc_id", nParts = 1)
    }
    val snap = TxLog.snapshotAt(table)
    assert(TxLog.pruneFiles(snap, 12L, 27L).size == 2)
    val out = TxLog.readAt(spark, table, range = Some(("doc_id", 12L, 27L)))
    assert(out.count() == 16L) // 12..27 — residual filter trims file edges
  }

  // ------------------------------------------------------ deletion vectors

  private def listFiles(table: Path): Vector[Path] = {
    val s = Files.list(table)
    try s.iterator().asScala.toVector finally s.close()
  }

  private def dataBytes(table: Path): Map[String, Long] =
    listFiles(table)
      .filter(p => p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => p.getFileName.toString -> Files.size(p)).toMap

  test("txlog: merge-on-read delete writes O(1) bytes, rewrites ZERO files") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)   // v0
    TxLog.append(spark, idsDf(10L to 19L), table, "doc_id", nParts = 1) // v1
    val before = dataBytes(table)
    val (v, rewritten, dvTouched, total) =
      TxLog.deleteMor(spark, table, idsDf(Seq(5L)).select("doc_id"), "doc_id")
    assert(v == 2L && rewritten == 0 && dvTouched == 1 && total == 2)
    // the data files are byte-identical — the only new artifact is the sidecar
    assert(dataBytes(table) == before, "a MOR delete must not touch any data file")
    val sidecars = listFiles(table).filter(_.getFileName.toString.endsWith(".dv.json"))
    assert(sidecars.size == 1 && Files.size(sidecars.head) < 256L,
      s"a 1-key delete should be a tiny sidecar, got ${sidecars.map(Files.size(_))}")
    val ids = TxLog.readAt(spark, table).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == ((0L to 19L).toSet - 5L))
    // time travel to the pre-delete version still sees the row
    assert(TxLog.readAt(spark, table, Some(1L)).filter(col("doc_id") === 5L).count() == 1L)
    // the change feed across the DV commit is exactly the deleted row
    val feed = TxLog.changeFeed(spark, table, 1L, 2L)
      .select("_change_type", "doc_id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(feed.toSeq == Seq(("delete", 5L)), s"got ${feed.toSeq}")
  }

  test("txlog: DV is per-file — a re-inserted key stays visible") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)
    TxLog.deleteMor(spark, table, idsDf(Seq(5L)).select("doc_id"), "doc_id")
    TxLog.append(spark, idsDf(Seq(5L)), table, "doc_id", nParts = 1) // re-insert
    val five = TxLog.readAt(spark, table).filter(col("doc_id") === 5L)
    assert(five.count() == 1L, "re-inserted key must not be shadowed by the old file's DV")
  }

  test("txlog: successive MOR deletes union the vector; compact folds it in") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)
    TxLog.deleteMor(spark, table, idsDf(Seq(3L)).select("doc_id"), "doc_id")
    TxLog.deleteMor(spark, table, idsDf(Seq(5L)).select("doc_id"), "doc_id")
    assert(TxLog.readAt(spark, table).select("doc_id").collect().map(_.getLong(0)).toSet
      == ((0L to 9L).toSet -- Set(3L, 5L)))
    TxLog.compact(spark, table, "doc_id", nParts = 1)
    val snap = TxLog.snapshotAt(table)
    assert(snap.files.size == 1 && snap.files.forall(_.dv.isEmpty),
      "compaction must fold deletion vectors into vector-free files")
    assert(TxLog.readAt(spark, table).count() == 8L)
  }

  test("txlog: COW rewrite and MOR merge respect existing vectors (no resurrection)") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)
    TxLog.deleteMor(spark, table, idsDf(Seq(5L)).select("doc_id"), "doc_id")
    // COW-merge touching the same file must not resurrect the DV'd row
    TxLog.mergeCow(spark, table,
      idsDf(Seq(6L)).withColumn("payload", lit("updated")), "doc_id", "doc_id")
    val ids = TxLog.readAt(spark, table).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == ((0L to 9L).toSet - 5L), s"COW rewrite resurrected the deleted row: $ids")
    // MOR merge replaces matched keys and inserts new ones, zero rewrites
    val (_, rewritten, _, _) = TxLog.mergeMor(spark, table,
      idsDf(Seq(7L, 20L)).withColumn("payload", lit("merged")), "doc_id", "doc_id")
    assert(rewritten == 0)
    val out = TxLog.readAt(spark, table).filter(col("payload") === "merged")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(7L, 20L))
    assert(TxLog.readAt(spark, table).filter(col("doc_id") === 7L).count() == 1L,
      "MOR merge must DV the old version of an updated key")
  }

  test("txlog: vacuum keeps retained sidecars, reclaims them after compaction") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)
    TxLog.deleteMor(spark, table, idsDf(Seq(5L)).select("doc_id"), "doc_id")
    // latest snapshot references the sidecar — vacuum must spare it
    assert(TxLog.vacuum(table, keepVersions = 1, minAgeMs = 0L).isEmpty)
    assert(TxLog.readAt(spark, table).count() == 9L)
    TxLog.compact(spark, table, "doc_id", nParts = 1)
    val deleted = TxLog.vacuum(table, keepVersions = 1, minAgeMs = 0L)
    assert(deleted.exists(_.endsWith(".dv.json")),
      s"post-compaction vacuum must reclaim the dead sidecar, got $deleted")
    assert(TxLog.readAt(spark, table).count() == 9L)
  }

  test("txlog: streaming CDC apply is exactly-once through redelivery and restart") {
    import spark.implicits._
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1) // seed v0
    def change(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "payload", "op")
    // batch 0: upsert 5 (update) + 20 (insert); batch 1: delete 3
    val b0 = change(Seq((5L, "updated", "update"), (20L, "v20", "insert")))
    val b1 = change(Seq((3L, null, "delete")))
    assert(TxLog.streamingApply(spark, b0, 0L, table, "op", "doc_id", "doc_id").isDefined)
    assert(TxLog.streamingApply(spark, b1, 1L, table, "op", "doc_id", "doc_id").isDefined)
    val expected = ((0L to 9L).toSet - 3L) + 20L
    def state() = TxLog.readAt(spark, table).select("doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val s1 = state()
    assert(s1.keySet == expected && s1(5L) == "updated" && s1(20L) == "v20")
    // REDELIVER both batches (what a restarted stream does): both must
    // skip under the claim fence, the table must not change
    val before = listFiles(table).map(_.getFileName.toString).toSet
    assert(TxLog.streamingApply(spark, b0, 0L, table, "op", "doc_id", "doc_id").isEmpty)
    assert(TxLog.streamingApply(spark, b1, 1L, table, "op", "doc_id", "doc_id").isEmpty)
    assert(state() == s1, "redelivered batches must be no-ops")
    // the skipped batches' orphaned artifacts were cleaned up, and no
    // live file lost its sidecar
    assert(listFiles(table).map(_.getFileName.toString).toSet == before,
      "redelivery cleanup must remove its staged files and sidecars only")
    // a FRESH batch after the redeliveries still lands
    assert(TxLog.streamingApply(spark, change(Seq((21L, "v21", "insert"))),
      2L, table, "op", "doc_id", "doc_id").isDefined)
    assert(state().keySet == expected + 21L)
  }

  test("txlog: batch-id watermark answers restart dedup across checkpoints") {
    val table = freshTable()
    // 12 streaming batches: versions 0..11, checkpoint at v10
    (0L to 11L).foreach { b =>
      assert(TxLog.streamingAppend(spark, idsDf(Seq(b)), b, table, "doc_id").isDefined)
    }
    assert(TxLog.isBatchCommitted(table, 3L), "pre-checkpoint id must dedup")
    assert(TxLog.isBatchCommitted(table, 11L))
    assert(!TxLog.isBatchCommitted(table, 12L))
    // a redelivered PRE-CHECKPOINT batch skips; a fresh one lands
    assert(TxLog.streamingAppend(spark, idsDf(Seq(2L)), 2L, table, "doc_id").isEmpty)
    assert(TxLog.streamingAppend(spark, idsDf(Seq(12L)), 12L, table, "doc_id").isDefined)
    assert(TxLog.readAt(spark, table).count() == 13L)
  }

  test("txlog: concurrent MOR deletes — disjoint files both land, same file conflicts") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)   // file A
    TxLog.append(spark, idsDf(10L to 19L), table, "doc_id", nParts = 1) // file B
    val pool = Executors.newFixedThreadPool(2)
    val latch = new CountDownLatch(1)
    def del(key: Long) = pool.submit(new java.util.concurrent.Callable[Any] {
      def call(): Any = {
        latch.await(5, TimeUnit.SECONDS)
        try Right(TxLog.deleteMor(spark, table, idsDf(Seq(key)).select("doc_id"), "doc_id"))
        catch { case e: IllegalStateException => Left(e) }
      }
    })
    // disjoint: key 3 touches only file A, key 15 only file B
    val (fa, fb) = (del(3L), del(15L))
    latch.countDown()
    val results = Seq(fa, fb).map(_.get(120, TimeUnit.SECONDS))
    assert(results.forall(_.isInstanceOf[Right[_, _]]),
      s"disjoint MOR deletes must both commit, got $results")
    assert(TxLog.readAt(spark, table).select("doc_id").collect().map(_.getLong(0)).toSet
      == ((0L to 19L).toSet -- Set(3L, 15L)))
    // same file: both extend file A's vector — dv-identity OCC admits
    // one; the loser aborts cleanly (nothing committed, nothing lost)
    val latch2 = new CountDownLatch(1)
    def del2(key: Long) = pool.submit(new java.util.concurrent.Callable[Any] {
      def call(): Any = {
        latch2.await(5, TimeUnit.SECONDS)
        try Right(TxLog.deleteMor(spark, table, idsDf(Seq(key)).select("doc_id"), "doc_id"))
        catch { case e: IllegalStateException => Left(e) }
      }
    })
    val (g1, g2) = (del2(4L), del2(5L))
    latch2.countDown()
    val res2 = Seq(g1, g2).map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val ids = TxLog.readAt(spark, table).select("doc_id").collect().map(_.getLong(0)).toSet
    if (res2.forall(_.isInstanceOf[Right[_, _]])) {
      // serialized by timing: both landed
      assert(ids == ((0L to 19L).toSet -- Set(3L, 15L, 4L, 5L)))
    } else {
      // true race: exactly one landed, and no committed delete was lost
      val winners = res2.count(_.isInstanceOf[Right[_, _]])
      assert(winners == 1, s"expected exactly one winner, got $res2")
      assert(ids == ((0L to 19L).toSet -- Set(3L, 15L, 4L))
        || ids == ((0L to 19L).toSet -- Set(3L, 15L, 5L)), s"got $ids")
    }
  }

  // ------------------------------------------------------ partition values

  test("txlog: partitioned append records partitionValues; reads prune on them") {
    import spark.implicits._
    val table = freshTable()
    val df = (0L to 29L).map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("doc_id", "tag")
    TxLog.appendPartitioned(spark, df, table, Seq("tag"), "doc_id")
    val snap = TxLog.snapshotAt(table)
    assert(snap.files.size == 3, s"one file per partition value, got ${snap.files.size}")
    assert(snap.files.forall(f => f.part.keySet == Set("tag")))
    assert(TxLog.pruneFilesPart(snap.files, Map("tag" -> "b")).size == 1)
    val out = TxLog.readAt(spark, table, partitions = Map("tag" -> "b"))
    // data files RETAIN the partition column; the answer is exact
    assert(out.columns.toSet == Set("doc_id", "tag"))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet
      == (0L to 29L).filter(_ % 3 == 1).toSet)
    // a file with no recorded value for the column is kept (conservative)
    TxLog.append(spark, df.filter($"doc_id" < 2), table, "doc_id", nParts = 1)
    val snap2 = TxLog.snapshotAt(table)
    assert(TxLog.pruneFilesPart(snap2.files, Map("tag" -> "b")).size == 2)
    val out2 = TxLog.readAt(spark, table, partitions = Map("tag" -> "b"))
    assert(out2.select("doc_id").collect().map(_.getLong(0)).toSet
      == ((0L to 29L).filter(_ % 3 == 1).toSet + 1L),
      "the unpartitioned file's rows must flow through the exact residual filter")
  }

  test("txlog: partition pruning composes with footer range pruning") {
    import spark.implicits._
    val table = freshTable()
    val df = (0L to 99L).map(i => (i, if (i % 2 == 0) "x" else "y")).toDF("doc_id", "tag")
    TxLog.appendPartitioned(spark, df, table, Seq("tag"), "doc_id",
      clusterCol = Some(expr("doc_id div 25")), nParts = 8)
    val snap = TxLog.snapshotAt(table)
    assert(snap.files.size == 8, s"2 tags x 4 range clusters, got ${snap.files.size}")
    val partKept = TxLog.pruneFilesPart(snap.files, Map("tag" -> "x"))
    assert(partKept.size == 4)
    assert(partKept.count(f => f.maxKey >= 10L && f.minKey <= 30L) == 2,
      "range pruning must bite within the partition")
    val out = TxLog.readAt(spark, table, range = Some(("doc_id", 10L, 30L)),
      partitions = Map("tag" -> "x"))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet
      == (10L to 30L).filter(_ % 2 == 0).toSet)
  }

  test("txlog: CHECK constraints gate every new-row writer; NULL passes; replace by name") {
    import org.apache.spark.sql.functions._
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)
    TxLog.setConstraint(spark, table, "id_cap", "doc_id < 100")
    // valid append lands; violating append rejected with nothing changed
    TxLog.append(spark, idsDf(5L to 9L), table, "doc_id", nParts = 1)
    val before = TxLog.readAt(spark, table).count()
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, idsDf(Seq(200L)), table, "doc_id", nParts = 1)
    }
    assert(e.getMessage.contains("id_cap"), e.getMessage)
    assert(TxLog.readAt(spark, table).count() == before)
    // NULL passes (SQL standard): a null payload row under a payload
    // constraint commits fine
    TxLog.setConstraint(spark, table, "pay_len", "length(payload) <= 10")
    TxLog.append(spark,
      idsDf(Seq(50L)).withColumn("payload", lit(null).cast("string")),
      table, "doc_id", nParts = 1)
    // the MOR writers enforce too: a violating streaming upsert aborts
    val bad = intercept[Exception] {
      TxLog.streamingApply(spark,
        idsDf(Seq(300L)).withColumn("op", lit("upsert")),
        batchId = 900L, table, "op", "doc_id", "doc_id")
    }
    assert(bad.getMessage.contains("id_cap"), bad.getMessage)
    // re-setting a name REPLACES its expression
    TxLog.setConstraint(spark, table, "id_cap", "doc_id < 1000")
    TxLog.append(spark, idsDf(Seq(200L)), table, "doc_id", nParts = 1)
    assert(TxLog.constraints(table)("id_cap") == "doc_id < 1000")
    assert(TxLog.constraints(table).size == 2)
    // an unresolvable expression fails at set time, not at the next write
    intercept[Exception] {
      TxLog.setConstraint(spark, table, "typo", "no_such_column > 0")
    }
  }

  test("txlog: vacuum retains CDC sidecars of retained commits, reclaims older ones") {
    import org.apache.spark.sql.functions._
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)      // v0
    TxLog.deleteKeys(spark, table, idsDf(Seq(1L)).select("doc_id"), "doc_id", "doc_id") // v1 + cdc
    TxLog.mergeCow(spark, table,
      idsDf(Seq(2L)).withColumn("payload", lit("upd")), "doc_id", "doc_id") // v2 + cdc
    val cdc1 = TxLog.commitCdcFile(table, 1L).get
    val cdc2 = TxLog.commitCdcFile(table, 2L).get
    // keep the last 2 versions: both cdc files survive an age-0 vacuum
    TxLog.vacuum(table, keepVersions = 2, minAgeMs = 0L)
    assert(java.nio.file.Files.exists(table.resolve(cdc1)))
    assert(java.nio.file.Files.exists(table.resolve(cdc2)))
    // keep only the latest: v1's cdc is reclaimable, v2's is retained
    TxLog.vacuum(table, keepVersions = 1, minAgeMs = 0L)
    assert(!java.nio.file.Files.exists(table.resolve(cdc1)))
    assert(java.nio.file.Files.exists(table.resolve(cdc2)))
  }

  test("txlog: RESTORE rolls data back in one metadata commit; history survives") {
    import org.apache.spark.sql.functions._
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)   // v0
    TxLog.deleteKeys(spark, table, idsDf(Seq(2L)).select("doc_id"), "doc_id", "doc_id") // v1
    TxLog.append(spark, idsDf(5L to 9L), table, "doc_id", nParts = 1)   // v2
    val v = TxLog.restore(spark, table, toVersion = 1L)                 // v3
    assert(v == 3L)
    // latest state == the v1 state
    assert(TxLog.readAt(spark, table).select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(0L, 1L, 3L, 4L))
    // history preserved: the pre-restore version still reads in full
    assert(TxLog.readAt(spark, table, Some(2L)).count() == 9L)
    assert(TxLog.history(table).map(_._2) ==
      Seq("append", "delete", "append", "restore"))
    // the target's properties come back with it: a key set since goes
    TxLog.setProps(table, Map("owner" -> "etl"))                        // v4
    TxLog.restore(spark, table, toVersion = 2L)                         // v5
    assert(TxLog.propsAt(table, Some(4L)) == Map("owner" -> "etl") && TxLog.propsAt(table).isEmpty)
    // restoring to a vacuumed-away version fails fast with a clear error
    TxLog.compact(spark, table, "doc_id", nParts = 1)                   // v6 rewrites
    TxLog.vacuum(table, keepVersions = 1, minAgeMs = 0L)
    val e = intercept[IllegalArgumentException] {
      TxLog.restore(spark, table, toVersion = 2L)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("txlog: partition values with '+', space, and '%' round-trip exactly") {
    import spark.implicits._
    val table = freshTable()
    val rows = Seq((1L, "a+b"), (2L, "a b"), (3L, "a%2Bb"), (4L, "plain"))
    TxLog.appendPartitioned(spark, rows.toDF("doc_id", "tag"), table, Seq("tag"), "doc_id")
    val snap = TxLog.snapshotAt(table)
    assert(snap.files.flatMap(_.part.get("tag")).toSet == rows.map(_._2).toSet,
      s"recorded partition values drifted: ${snap.files.map(_.part)}")
    // an equality read on each value returns exactly its row — a '+'
    // URLDecoded to a space would prune the file away BEFORE the
    // residual row filter and silently lose the match
    for ((id, tag) <- rows) {
      val out = TxLog.readAt(spark, table, partitions = Map("tag" -> tag))
      assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(id),
        s"equality read for tag=$tag")
    }
  }

  test("txlog: restore fails fast when a restored DV sidecar was reclaimed") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)            // v0
    TxLog.deleteMor(spark, table, idsDf(Seq(3L)).select("doc_id"), "doc_id")     // v1: dv
    TxLog.append(spark, idsDf(10L to 14L), table, "doc_id", nParts = 1)          // v2
    val dv = TxLog.snapshotAt(table, Some(1L)).files.flatMap(_.dv).head
    Files.delete(table.resolve(dv)) // simulate a vacuum that reclaimed the sidecar
    val e = intercept[IllegalArgumentException] { TxLog.restore(spark, table, toVersion = 1L) }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains(dv), e.getMessage)
    // the refused restore committed nothing — no snapshot whose readAt throws
    assert(TxLog.history(table).map(_._2) == Seq("append", "delete-mor", "append"))
  }

  test("txlog: batch-id watermark survives a pre-upgrade checkpoint (no batchMax)") {
    val table = freshTable()
    // 11 batch commits push past the v10 checkpoint boundary
    (0 to 10).foreach { i =>
      assert(TxLog.tryCommit(table, i.toLong, "streaming-append", Nil, Nil,
        batchId = Some(100L + i)))
    }
    assert(TxLog.isBatchCommitted(table, 105L))
    // strip batchMax from the checkpoint, simulating one written before
    // the watermark field existed
    val ck = table.resolve("_graft_log").resolve(f"v${10L}%020d").resolve("checkpoint.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(Files.readAllBytes(ck))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(node.has("batchMax"))
    node.remove("batchMax"): Unit
    Files.write(ck, om.writeValueAsBytes(node))
    // the reader must fall back to scanning the commits below the
    // checkpoint — reporting a committed batch as uncommitted would let
    // a redelivered batch re-commit (duplicate rows)
    assert(TxLog.isBatchCommitted(table, 105L),
      "committed batch reported uncommitted after a pre-upgrade checkpoint")
    assert(!TxLog.isBatchCommitted(table, 111L))
  }

  test("txlog: constraint violations are checked on the staged bytes and clean the stage") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)
    TxLog.setConstraint(spark, table, "cap", "doc_id < 100")
    TxLog.setConstraint(spark, table, "nonneg", "doc_id >= 0")
    // one combined pass on the happy path; the error names only the
    // violated constraint
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, idsDf(Seq(200L)), table, "doc_id", nParts = 1)
    }
    assert(e.getMessage.contains("cap") && !e.getMessage.contains("nonneg"), e.getMessage)
    intercept[IllegalArgumentException] {
      TxLog.appendClustered(spark, idsDf(Seq(300L)), table, "doc_id",
        expr("doc_id div 10"), 2)
    }
    intercept[IllegalArgumentException] {
      TxLog.appendPartitioned(spark, idsDf(Seq(-1L)), table, Seq("payload"), "doc_id")
    }
    // no rejected write litters a stage directory or commits anything
    assert(!Files.list(table).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".stage-")), "stage litter")
    assert(TxLog.readAt(spark, table).count() == 5L)
    assert(TxLog.history(table).map(_._2) == Seq("append", "set-constraint", "set-constraint"))
  }

  test("txlog: constraints replay from checkpoints and travel with time travel") {
    val table = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1) // v0
    TxLog.setConstraint(spark, table, "cap", "doc_id < 100")          // v1
    val vCap = TxLog.latestVersion(table)
    // push past a checkpoint boundary (v10) with more commits
    (0 until 10).foreach { i =>
      TxLog.append(spark, idsDf(Seq(10L + i)), table, "doc_id", nParts = 1)
    }
    assert(TxLog.latestVersion(table) >= 10L)
    assert(TxLog.constraints(table) == Map("cap" -> "doc_id < 100"))
    // as-of before the constraint: none in force
    assert(TxLog.constraints(table, Some(vCap - 1)).isEmpty)
    assert(TxLog.constraints(table, Some(vCap)) == Map("cap" -> "doc_id < 100"))
  }

  test("replaceStaged write-serializable check: a scan-to-commit append " +
      "whose stats may match the predicate aborts; a disjoint one commits") {
    // the row-level DML path's isolation contract: scanVersion pins the
    // snapshot the operation scanned, conflictsWith is the conservative
    // stats-range test against its predicate (see replaceStaged scaladoc)
    def stageRewrite(table: Path): Path = {
      val stage = table.resolve(s".stage-${java.util.UUID.randomUUID()}")
      idsDf(Seq(0L, 1L, 2L)).withColumn("payload", lit("rewritten"))
        .coalesce(1).write.parquet(stage.toString)
      stage
    }
    // matches files whose doc_id range intersects [0, 9] — the shape
    // GraftRowLevel.mayMatch produces for `WHERE doc_id <= 9`
    val predMatches = (f: TxLog.AddFile) => f.minKey <= 9L && f.maxKey >= 0L

    val t1 = freshTable()
    TxLog.append(spark, idsDf(0L to 2L), t1, "doc_id", nParts = 1) // v0
    val scanV1 = TxLog.latestVersion(t1)
    val target1 = TxLog.snapshotAt(t1).files.map(_.path)
    // concurrent append lands AFTER the scan, with rows the predicate
    // would have matched (doc_id 5 in [0,9]) — must abort
    TxLog.append(spark, idsDf(Seq(5L)), t1, "doc_id", nParts = 1)
    val e = intercept[IllegalStateException] {
      TxLog.replaceStaged(spark, t1, stageRewrite(t1), target1, "update",
        "doc_id", scanVersion = Some(scanV1), conflictsWith = predMatches)
    }
    assert(e.getMessage.contains("no longer valid"), e.getMessage)

    val t2 = freshTable()
    TxLog.append(spark, idsDf(0L to 2L), t2, "doc_id", nParts = 1) // v0
    val scanV2 = TxLog.latestVersion(t2)
    val target2 = TxLog.snapshotAt(t2).files.map(_.path)
    // concurrent append DISJOINT from the predicate (doc_id 100 > 9):
    // footer stats prove no missed rows — the rewrite commits
    TxLog.append(spark, idsDf(Seq(100L)), t2, "doc_id", nParts = 1)
    val (v, nRepl) = TxLog.replaceStaged(spark, t2, stageRewrite(t2), target2,
      "update", "doc_id", scanVersion = Some(scanV2), conflictsWith = predMatches)
    assert(nRepl == target2.size)
    val after = TxLog.readAt(spark, t2).collect()
    assert(after.count(_.getAs[String]("payload") == "rewritten") == 3)
    assert(after.map(_.getAs[Long]("doc_id")).toSet == Set(0L, 1L, 2L, 100L))
    assert(v == TxLog.latestVersion(t2))
  }

  test("txlog: each overwrite writer creates a table at a fresh path as an overwrite v0") {
    val df = idsDf(0L to 9L)
    val writers: Seq[(String, Path => Long)] = Seq(
      "overwrite" -> (t => TxLog.overwrite(spark, df, t, "doc_id")),
      "overwriteClustered" -> (t =>
        TxLog.overwriteClustered(spark, df, t, "doc_id", col("doc_id") % 2, 2)),
      "overwritePartitioned" -> (t => TxLog.overwritePartitioned(spark,
        df.withColumn("part", col("doc_id") % 3), t, Seq("part"), "doc_id")))
    writers.foreach { case (name, write) =>
      val t = freshTable()
      assert(write(t) == 0L, name)
      assert(TxLog.history(t).map(h => (h._1, h._2)) == Seq((0L, "overwrite")), name)
      assert(TxLog.readAt(spark, t).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq ==
        (0L to 9L), name)
    }
  }

  test("protocol: pre-feature logs are Empty; DV use auto-declares in the SAME commit") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), t, "doc_id", nParts = 1)
    assert(TxLog.protocolAt(t) == TxLog.Protocol.Empty)
    val before = TxLog.versions(t).size
    TxLog.deleteMor(spark, t, Seq(3L).toDF("doc_id"), "doc_id"): Unit
    // the declaration rides the delete's own commits — version
    // arithmetic downstream is untouched by the protocol machinery
    assert(TxLog.versions(t).size == before + 1)
    val p = TxLog.protocolAt(t)
    assert(p.readerFeatures("deletionVectors") && p.writerFeatures("deletionVectors"))
    assert(TxLog.readAt(spark, t).count() == 9L) // we support it: reads fine
  }

  test("protocol: unknown READER feature refuses by name; pre-upgrade versions still read") {
    val t = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), t, "doc_id", nParts = 1)  // v0
    TxLog.append(spark, idsDf(5L to 9L), t, "doc_id", nParts = 1)  // v1
    TxLog.upgradeProtocol(t, readerFeatures = Set("futureCompression")) // v2
    val ex = intercept[IllegalStateException](TxLog.readAt(spark, t).count())
    assert(ex.getMessage.contains("futureCompression"), ex.getMessage)
    // protocol is PER VERSION: time travel under the old contract works
    assert(TxLog.readAt(spark, t, Some(0L)).count() == 5L)
    assert(TxLog.readAt(spark, t, Some(1L)).count() == 10L)
    // and writes refuse too (the commit validator replays the snapshot)
    intercept[IllegalStateException](
      TxLog.append(spark, idsDf(Seq(99L)), t, "doc_id", nParts = 1))
  }

  test("protocol: unknown WRITER feature refuses writes instructively, reads keep working") {
    val t = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), t, "doc_id", nParts = 1)
    TxLog.upgradeProtocol(t, writerFeatures = Set("futureInvariantKind"))
    assert(TxLog.readAt(spark, t).count() == 5L)
    val ex = intercept[IllegalStateException](
      TxLog.append(spark, idsDf(Seq(9L)), t, "doc_id", nParts = 1))
    assert(ex.getMessage.contains("futureInvariantKind"), ex.getMessage)
    // ...and multi-table transactions refuse BEFORE staging anything
    val other = freshTable()
    TxLog.append(spark, idsDf(0L to 2L), other, "doc_id", nParts = 1)
    intercept[IllegalStateException] {
      TxLog.transact(spark, Seq(
        TxLog.TxnAppend(other, idsDf(Seq(50L)), "doc_id", nParts = 1),
        TxLog.TxnAppend(t, idsDf(Seq(51L)), "doc_id", nParts = 1)))
    }
    assert(TxLog.readAt(spark, other).count() == 3L, "no participant may land")
  }

  test("protocol: checkpoints fold the protocol so the gate survives bounded replay") {
    val t = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), t, "doc_id", nParts = 1)
    TxLog.upgradeProtocol(t, readerFeatures = Set("deletionVectors"),
      writerFeatures = Set("deletionVectors"))
    (0 until 10).foreach(i =>
      TxLog.append(spark, idsDf(Seq(100L + i)), t, "doc_id", nParts = 1))
    val ck = t.resolve("_graft_log").resolve(f"v${10L}%020d").resolve("checkpoint.json")
    assert(Files.exists(ck))
    assert(new String(Files.readAllBytes(ck)).contains("\"protocol\""),
      "checkpoint must fold the protocol")
    assert(TxLog.protocolAt(t, Some(10L)).readerFeatures("deletionVectors"))
    assert(TxLog.protocolAt(t).readerFeatures("deletionVectors"))
  }

  test("string footer stats: truncated bounds hold for every row, pruning is exact-conservative") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_sstats").resolve("tbl")
    // 40-char keys (md5 + prefix) force the 16-code-point truncation
    val df = (0L until 200L).toDF("id")
      .withColumn("skey", concat_ws("_",
        concat(lit("grp"), (col("id") % 4).cast("string")), md5(col("id").cast("string"))))
    TxLog.appendClustered(spark, df, t, "id",
      clusterCol = expr("id % 4"), nClusters = 4)
    val snap = TxLog.snapshotAt(t)
    assert(snap.files.nonEmpty && snap.files.forall(_.strCols.contains("skey")))
    // per file: recorded [min, maxBound] brackets every actual value
    snap.files.foreach { f =>
      val (mn, mx) = f.strCols("skey")
      assert(mx.codePointCount(0, mx.length) <= 16, "max must be truncated")
      val vals = TxLog.readFiles(spark, t, Seq(f))
        .select("skey").collect().map(_.getString(0))
      vals.foreach { v =>
        assert(TxLog.cpCompare(mn, v) <= 0 && TxLog.cpCompare(v, mx) < 0,
          s"value $v escapes recorded [$mn, $mx)")
      }
    }
    // range prune vs brute force: every file holding a matching row is kept
    val kept = TxLog.pruneFilesOnStr(snap, "skey", "grp1", "grp2~").map(_.path).toSet
    snap.files.foreach { f =>
      val hasMatch = TxLog.readFiles(spark, t, Seq(f))
        .filter(col("skey") >= "grp1" && col("skey") <= "grp2~").count() > 0
      if (hasMatch) assert(kept(f.path), s"pruned a file with matches: ${f.path}")
    }
    assert(kept.size < snap.files.size, "the probe must actually skip files")
    // kept-when-absent conservatism: a file with no string stats survives any probe
    val blind = snap.files.map(f => f.copy(strCols = Map.empty))
    assert(TxLog.pruneFilesOnStr(TxLog.Snapshot(snap.version, blind),
      "skey", "zzz", "zzzz").size == blind.size)
  }

  test("string-stat truncation edges: supplementary-plane order, surrogate gap, unbumpable max") {
    // code-point order, NOT UTF-16 unit order: U+10000 > U+FFFF
    assert(TxLog.cpCompare(new String(Character.toChars(0x10000)), "\uFFFF") > 0)
    // a 20-cp string truncates to 16 with the last cp bumped
    val s = "a" * 15 + "b" + "cccc"
    assert(TxLog.truncMin(s) == "a" * 15 + "b")
    assert(TxLog.truncMaxPlus(s).contains("a" * 15 + "c"))
    // bump would land in the surrogate gap: jumps over it
    val gap = "a" * 15 + "\uD7FF" + "tail-beyond-budget"
    assert(TxLog.truncMaxPlus(gap).contains("a" * 15 + "\uE000"))
    // every prefix cp already U+10FFFF: no safe bound exists
    val maxed = new String(Array.fill(17)(0x10FFFF), 0, 17)
    assert(TxLog.truncMaxPlus(maxed).isEmpty)
    // short strings pass through exact
    assert(TxLog.truncMaxPlus("short").contains("short"))
    assert(TxLog.truncMin("short") == "short")
  }

  test("sharded checkpoints: replay equivalence, time travel across the boundary, " +
      "protocol declared in the sharding commit, DVs ride the shards") {
    val table = freshTable()
    val oldMax = TxLog.CheckpointInlineMax
    TxLog.CheckpointInlineMax = 4
    try {
      import spark.implicits._
      (0 until 25).foreach { i => // v0..v24; checkpoints at v10, v20
        TxLog.append(spark, idsDf(Seq(i.toLong)), table, "doc_id", nParts = 1): Unit
      }
      // v10's live set (11 files) crossed the threshold: sharded on disk,
      // manifest carries filesRef, protocol grew IN THE SAME COMMIT
      val log = table.resolve("_graft_log")
      val vd10 = log.resolve(f"v${10L}%020d")
      assert(Files.isDirectory(vd10.resolve("checkpoint.d")), "v10 checkpoint not sharded")
      val manifest = new String(Files.readAllBytes(vd10.resolve("checkpoint.json")))
      assert(manifest.contains("filesRef") && !manifest.contains("\"files\""))
      assert(TxLog.protocolAt(table, Some(10L)).readerFeatures("shardedCheckpoint"))
      assert(TxLog.protocolAt(table, Some(9L)) == TxLog.Protocol.Empty,
        "feature declared before its first use")
      // replay equivalence across the format boundary
      assert(TxLog.readAt(spark, table, Some(5L)).count() == 6)   // pre-shard commits
      assert(TxLog.readAt(spark, table, Some(10L)).count() == 11) // the sharded ckpt itself
      assert(TxLog.readAt(spark, table, Some(15L)).count() == 16) // sharded ckpt + commits
      assert(TxLog.readAt(spark, table).count() == 25)
      // footer stats round-trip through the shards: pruning stays sharp
      val snap = TxLog.snapshotAt(table)
      assert(snap.files.size == 25)
      assert(TxLog.pruneFiles(snap, 7L, 7L).size == 1)
      // a DV committed after v20's sharded checkpoint, then folded INTO
      // the next sharded checkpoint at v30, still excludes its rows
      TxLog.deleteMor(spark, table, Seq(3L, 17L).toDF("doc_id"), "doc_id"): Unit // v25
      (26 to 31).foreach { i =>
        TxLog.append(spark, idsDf(Seq(100L + i)), table, "doc_id", nParts = 1): Unit
      }
      assert(Files.isDirectory(log.resolve(f"v${30L}%020d").resolve("checkpoint.d")))
      val ids = TxLog.readAt(spark, table).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(!ids(3L) && !ids(17L) && ids(24L) && ids(126L))
      assert(TxLog.snapshotAt(table).files.exists(_.dv.isDefined),
        "the DV sidecar must survive the sharded checkpoint fold")
    } finally TxLog.CheckpointInlineMax = oldMax
  }
}

package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Contracts of the multi-table transaction (TxLog.transact): the
  * committed transfer, the crash matrix (all-or-nothing across every
  * interruption point), in-doubt resolution through the lease, and the
  * fencing of concurrent single-table writers. LakeQueries/tx22 gates
  * the committed path's data against the DuckDB oracle; this spec
  * covers what SQL cannot see. */
class TxnSpec extends SparkSpec {

  private def freshTable(): Path =
    Files.createTempDirectory("graft_txnspec").resolve("tbl")

  private def idsDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("doc_id").withColumn("payload", concat(lit("v"), col("doc_id")))
  }

  private def ids(table: Path): Seq[Long] =
    TxLog.readAt(spark, table).select("doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted

  test("the transfer commits atomically: rows leave one table and land " +
      "in the other, one version per table") {
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), a, "doc_id", nParts = 2)
    TxLog.append(spark, idsDf(100L to 104L), b, "doc_id", nParts = 1)
    val moving = idsDf(Seq(2L, 5L, 7L))
    val vs = TxLog.transact(spark, Seq(
      TxLog.TxnDeleteMor(a, moving.select("doc_id"), "doc_id"),
      TxLog.TxnAppend(b, moving, "doc_id")))
    assert(vs == Map(a -> 1L, b -> 1L))
    assert(ids(a) == Seq(0L, 1L, 3L, 4L, 6L, 8L, 9L))
    assert(ids(b) == (Seq(100L, 101L, 102L, 103L, 104L) ++ Seq(2L, 5L, 7L)).sorted)
    // history shows the real ops, txn-resolved
    assert(TxLog.history(a).map(_._2) == Seq("append", "delete-mor"))
    assert(TxLog.history(b).map(_._2) == Seq("append", "append"))
  }

  test("a crashed coordinator mid-publish aborts atomically: the " +
      "published participant commit reads as a no-op after the lease") {
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), a, "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(100L to 102L), b, "doc_id", nParts = 1)
    // simulate the crash window: a pending marker exists, table a's
    // txn-flagged commit is published, table b's never lands, outcome
    // is never decided — the coordinator died between publishes
    val marker = a.getParent.resolve("marker")
    Files.createDirectories(marker)
    Files.write(marker.resolve("pending"), "{}".getBytes): Unit
    // the published half of the dead transaction REMOVES table a's only
    // file — if the abort path failed, the table would read empty
    val removes = TxLog.snapshotAt(a).files.map(_.path)
    assert(TxLog.tryCommit(a, 1L, "delete", Nil, removes,
      extra = Map("txn" -> marker.toString)))
    // backdate the pending marker past the staleness window: the
    // coordinator is long dead (same pattern as stale claim reclaim)
    Files.setLastModifiedTime(marker.resolve("pending"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - TxLog.StaleClaimMs - 1000))
    // first read resolves the orphaned txn as aborted; the commit is
    // a no-op and the table's data is exactly its pre-txn state
    assert(ids(a) == (0L to 4L))
    assert(TxLog.history(a).map(_._2) == Seq("append", "txn-aborted"))
    assert(new String(Files.readAllBytes(marker.resolve("outcome"))) == "aborted")
  }

  test("a decided transaction is effective immediately and forever: " +
      "outcome=committed flips the published commit to live") {
    val a = freshTable()
    TxLog.append(spark, idsDf(0L to 2L), a, "doc_id", nParts = 1)
    val marker = a.getParent.resolve("marker")
    Files.createDirectories(marker)
    Files.write(marker.resolve("pending"), "{}".getBytes): Unit
    Files.write(marker.resolve("outcome"), "committed".getBytes): Unit
    // a txn-flagged commit whose marker is already decided: effective.
    // The commit REMOVES the seed file — visible only if committed.
    val removes = TxLog.snapshotAt(a).files.map(_.path)
    assert(TxLog.tryCommit(a, 1L, "delete", Nil, removes,
      extra = Map("txn" -> marker.toString)))
    assert(ids(a) == Seq.empty)
    assert(TxLog.history(a).map(_._2) == Seq("append", "delete"))
  }

  test("an aborting prepare (constraint violation) leaves every " +
      "participant untouched — no claims, no versions, no files") {
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), a, "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(100L to 102L), b, "doc_id", nParts = 1)
    TxLog.setConstraint(spark, b, "cap", "doc_id < 50")
    val vA = TxLog.latestVersion(a); val vB = TxLog.latestVersion(b)
    intercept[Exception] {
      TxLog.transact(spark, Seq(
        TxLog.TxnDeleteMor(a, idsDf(Seq(1L)).select("doc_id"), "doc_id"),
        TxLog.TxnAppend(b, idsDf(Seq(999L)), "doc_id"))) // violates cap
    }
    assert(TxLog.latestVersion(a) == vA, "table a must not advance")
    assert(TxLog.latestVersion(b) == vB, "table b must not advance")
    assert(ids(a) == (0L to 4L))
    assert(ids(b) == (100L to 102L))
  }

  test("an aborted transaction's promoted files are unreferenced " +
      "orphans and vacuum reclaims them") {
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), a, "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(100L to 102L), b, "doc_id", nParts = 1)
    def filesOnDisk(t: Path): Set[String] = {
      val s = Files.list(t)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      } finally s.close()
    }
    val before = filesOnDisk(b)
    // the append side stages AND promotes in prepare; the delete side
    // then fails under the fence (bad key column) — transaction aborts
    intercept[Exception] {
      TxLog.transact(spark, Seq(
        TxLog.TxnDeleteMor(a, idsDf(Seq(1L)).select(col("doc_id").as("nope")), "nope"),
        TxLog.TxnAppend(b, idsDf(Seq(999L)), "doc_id")))
    }
    assert(ids(b) == (100L to 102L), "no partial transfer")
    assert(ids(a) == (0L to 4L))
    val orphans = filesOnDisk(b) -- before
    assert(orphans.nonEmpty, "the aborted append left promoted files")
    // unreferenced by any snapshot: retention vacuum reclaims them
    val reclaimed = TxLog.vacuum(b, keepVersions = 10, minAgeMs = 0L).toSet
    assert(orphans.subsetOf(reclaimed), s"orphans=$orphans reclaimed=$reclaimed")
    assert(ids(b) == (100L to 102L))
  }

  test("a hive-partitioned append participant keeps its layout through " +
      "the transaction: partition values land in the log and prune") {
    import org.apache.spark.sql.types._
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), a, "doc_id", nParts = 1)
    TxLog.create(b, StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", StringType),
      StructField("bucket", StringType))), partCols = Seq("bucket"))
    val moving = idsDf(Seq(2L, 5L))
      .withColumn("bucket", when(col("doc_id") < 4L, "lo").otherwise("hi"))
    TxLog.transact(spark, Seq(
      TxLog.TxnDeleteMor(a, moving.select("doc_id"), "doc_id"),
      TxLog.TxnAppend(b, moving, "doc_id")))
    val files = TxLog.snapshotAt(b).files
    assert(files.nonEmpty && files.forall(_.part.get("bucket").isDefined),
      s"partition values missing: $files")
    assert(files.map(_.part("bucket")).toSet == Set("lo", "hi"))
    // partition-pruned read serves only the matching partition
    val lo = TxLog.readAt(spark, b, partitions = Map("bucket" -> "lo"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(lo == Seq(2L))
  }

  test("one op per table is enforced; a single-table transaction works") {
    val a = freshTable()
    TxLog.append(spark, idsDf(0L to 2L), a, "doc_id", nParts = 1)
    intercept[IllegalArgumentException] {
      TxLog.transact(spark, Seq(
        TxLog.TxnAppend(a, idsDf(Seq(9L)), "doc_id"),
        TxLog.TxnDeleteMor(a, idsDf(Seq(0L)).select("doc_id"), "doc_id")))
    }
    val vs = TxLog.transact(spark, Seq(TxLog.TxnAppend(a, idsDf(Seq(9L)), "doc_id")))
    assert(vs == Map(a -> 1L))
    assert(ids(a) == Seq(0L, 1L, 2L, 9L))
  }

  test("the transaction composes with the streaming change feed: the " +
      "delete side emits deletes, the append side inserts, an aborted " +
      "txn commit emits nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), a, "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(100L to 101L), b, "doc_id", nParts = 1)
    val moving = idsDf(Seq(4L, 8L))
    TxLog.transact(spark, Seq(
      TxLog.TxnDeleteMor(a, moving.select("doc_id"), "doc_id"),
      TxLog.TxnAppend(b, moving, "doc_id")))
    def drainCdf(table: Path): Seq[(Long, String)] = {
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true").load(table.toString)
        .writeStream
        .foreachBatch { (bd: org.apache.spark.sql.DataFrame, _: Long) =>
          bd.collect().foreach(r => rows.add((r.getAs[Long]("doc_id"),
            r.getAs[String]("_change_type")))): Unit
        }
        .option("checkpointLocation",
          Files.createTempDirectory("graft_txnspec_ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq
    }
    val aFeed = drainCdf(a)
    assert(aFeed.filter(_._2 == "delete").map(_._1).sorted == Seq(4L, 8L))
    assert(aFeed.count(_._2 == "insert") == 10) // the seed append
    val bFeed = drainCdf(b)
    assert(bFeed.forall(_._2 == "insert"))
    assert(bFeed.map(_._1).sorted == Seq(4L, 8L, 100L, 101L))
    // an ABORTED txn commit is invisible to the feed
    val marker = a.getParent.resolve("dead")
    Files.createDirectories(marker)
    Files.write(marker.resolve("pending"), "{}".getBytes): Unit
    Files.write(marker.resolve("outcome"), "aborted".getBytes): Unit
    val removes = TxLog.snapshotAt(a).files.map(_.path)
    assert(TxLog.tryCommit(a, TxLog.latestVersion(a) + 1, "delete", Nil, removes,
      extra = Map("txn" -> marker.toString)))
    assert(drainCdf(a) == aFeed, "aborted txn changed the feed")
  }

  test("single-table writers are fenced during the transaction and " +
      "compose after it: a post-txn append sees the committed transfer") {
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), a, "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(100L to 101L), b, "doc_id", nParts = 1)
    val moving = idsDf(Seq(3L))
    TxLog.transact(spark, Seq(
      TxLog.TxnDeleteMor(a, moving.select("doc_id"), "doc_id"),
      TxLog.TxnAppend(b, moving, "doc_id")))
    // ordinary commits proceed on top of the txn versions
    TxLog.append(spark, idsDf(Seq(200L)), b, "doc_id", nParts = 1)
    assert(ids(b) == Seq(3L, 100L, 101L, 200L))
    assert(TxLog.latestVersion(b) == 2L)
  }

  test("TxnMerge upserts atomically: existing keys replaced via DV, " +
      "new keys inserted, one commit — and time travel still reads " +
      "the pre-merge rows") {
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 9L), a, "doc_id", nParts = 2)
    import spark.implicits._
    // keys 3,7 exist (update), 100,101 are new (insert)
    val changes = Seq(3L, 7L, 100L, 101L).toDF("doc_id")
      .withColumn("payload", concat(lit("NEW"), col("doc_id")))
    val vs = TxLog.transact(spark, Seq(
      TxLog.TxnMerge(a, changes, "doc_id", "doc_id", nParts = 1),
      TxLog.TxnAppend(b, changes, "doc_id", nParts = 1)))
    assert(vs == Map(a -> 1L, b -> 0L))
    assert(ids(a) == (0L to 9L) ++ Seq(100L, 101L))
    // updated keys carry the NEW payload exactly once
    val payloads = TxLog.readAt(spark, a)
      .filter(col("doc_id").isin(3L, 7L, 100L, 101L))
      .select("payload").collect().map(_.getString(0)).sorted
    assert(payloads.toSeq == Seq("NEW100", "NEW101", "NEW3", "NEW7"))
    // merge-on-read: zero data files of v0 were rewritten; the old
    // rows are DV'd out, so v0 still reads the pre-merge payloads
    val v0 = TxLog.readAt(spark, a, version = Some(0L))
      .filter(col("doc_id") === 3L).select("payload").head.getString(0)
    assert(v0 == "v3")
    assert(TxLog.history(a).map(_._2) == Seq("append", "merge-mor"))
    assert(ids(b) == Seq(3L, 7L, 100L, 101L))
  }

  test("TxnMerge is delete-then-insert-all: a batch with duplicate " +
      "keys lands wholly, old versions of those keys are gone") {
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 4L), a, "doc_id", nParts = 1)
    import spark.implicits._
    val changes = Seq((2L, "x"), (2L, "y")).toDF("doc_id", "payload")
    TxLog.transact(spark, Seq(
      TxLog.TxnMerge(a, changes, "doc_id", "doc_id", nParts = 1),
      TxLog.TxnAppend(b, changes, "doc_id", nParts = 1)))
    val got = TxLog.readAt(spark, a).filter(col("doc_id") === 2L)
      .select("payload").collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("x", "y"))
    assert(TxLog.readAt(spark, a).count() == 6L) // 4 untouched + 2 merged
  }

  test("TxnMerge refuses a table with no committed versions (merge " +
      "into nothing is an append — say so)") {
    val a = freshTable(); val b = freshTable()
    TxLog.append(spark, idsDf(0L to 2L), b, "doc_id", nParts = 1)
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      TxLog.transact(spark, Seq(
        TxLog.TxnMerge(a, Seq(1L).toDF("doc_id")
          .withColumn("payload", lit("p")), "doc_id", "doc_id"),
        TxLog.TxnAppend(b, Seq(1L).toDF("doc_id")
          .withColumn("payload", lit("p")), "doc_id")))
    }
    assert(e.getMessage.contains("no committed versions"))
    // nothing landed anywhere: the refusal happened in PREPARE,
    // before any claim was held
    assert(ids(b) == Seq(0L, 1L, 2L))
    assert(TxLog.latestVersion(b) == 0L)
  }

  test("an ABORTED transaction's batch tag does not advance the " +
      "exactly-once watermark: the batch stays eligible for redelivery") {
    val t = freshTable()
    TxLog.append(spark, idsDf(0L to 2L), t, "doc_id", nParts = 1)
    val marker = t.getParent.resolve("marker")
    Files.createDirectories(marker)
    Files.write(marker.resolve("pending"), "{}".getBytes): Unit
    assert(TxLog.tryCommit(t, 1L, "append", Nil, Nil, batchId = Some(7L),
      extra = Map("txn" -> marker.toString)))
    Files.setLastModifiedTime(marker.resolve("pending"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - TxLog.StaleClaimMs - 1000))
    // before the watermark fix, the raw commit read counted the tag and
    // a redelivered batch 7 would be skipped — silently lost
    assert(!TxLog.isBatchCommitted(t, 7L))
    assert(TxLog.committedBatchIds(t).isEmpty)
  }

  private def deleteRec(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  test("a committed transfer survives the marker-hosting table being " +
      "DROPPED: the survivor resolves from its own _txnout replica") {
    val base = Files.createTempDirectory("graft_txnspec")
    // 'a' sorts first canonically, so the txn marker lives in a's log
    val a = base.resolve("a"); val b = base.resolve("b")
    TxLog.append(spark, idsDf(0L to 9L), a, "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(100L to 102L), b, "doc_id", nParts = 1)
    val moving = idsDf(Seq(2L, 5L))
    TxLog.transact(spark, Seq(
      TxLog.TxnDeleteMor(a, moving.select("doc_id"), "doc_id"),
      TxLog.TxnAppend(b, moving, "doc_id")))
    assert(Files.isDirectory(a.resolve("_graft_log").resolve("_txn")),
      "precondition: the marker must live in the first participant's log")
    // drop the marker-hosting table entirely, then force COLD resolution
    deleteRec(a)
    StampedCache.clearAllForTest()
    // before the outcome-replication fix, resolution fell back to the
    // vanished marker, decided 'aborted', and the transferred rows
    // silently vanished from the surviving table
    assert(ids(b) == Seq(2L, 5L, 100L, 101L, 102L))
    assert(TxLog.history(b).map(_._2) == Seq("append", "append"))
  }

  /** A committed transfer a -> b (the marker lives in a's log), folded
    * by b's v10 checkpoint, b's `_txnout` replica vacuumed, then a
    * DROPPED and every per-JVM log cache forgotten: the fold is the only
    * record of the decision anywhere. Returns (a, b). */
  private def foldedTxnAfterVacuum(): (Path, Path) = {
    val base = Files.createTempDirectory("graft_txnspec")
    // 'a' sorts first canonically, so the txn marker lives in a's log
    val a = base.resolve("a"); val b = base.resolve("b")
    TxLog.append(spark, idsDf(0L to 9L), a, "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(100L to 102L), b, "doc_id", nParts = 1)
    val moving = idsDf(Seq(2L, 5L))
    TxLog.transact(spark, Seq(
      TxLog.TxnDeleteMor(a, moving.select("doc_id"), "doc_id"),
      TxLog.TxnAppend(b, moving, "doc_id"))) // b's v1 carries the txn ref
    val outDir = b.resolve("_graft_log").resolve("_txnout")
    import scala.jdk.CollectionConverters._
    def replicas(): Seq[String] =
      if (!Files.isDirectory(outDir)) Seq.empty
      else { val s = Files.list(outDir)
        try s.iterator().asScala.map(_.getFileName.toString).toSeq
        finally s.close() }
    assert(replicas().size == 1, "decision time writes b's own replica")
    // cross a checkpoint (every 10th version) so the fold covers the txn
    (2L to 10L).foreach(i =>
      TxLog.append(spark, idsDf(Seq(200L + i)), b, "doc_id", nParts = 1))
    // vacuum reclaims the now-redundant replica and REPORTS it
    val reclaimed = TxLog.vacuum(b, minAgeMs = 0L)
    assert(reclaimed.exists(_.startsWith("_txnout/")), reclaimed.toString)
    assert(replicas().isEmpty, "the folded replica must be reclaimed")
    deleteRec(a)
    StampedCache.clearAllForTest()
    (a, b)
  }

  test("a folded txn outcome outlives its vacuumed replica: the " +
      "checkpoint fold alone resolves pre-checkpoint time travel") {
    val (_, b) = foldedTxnAfterVacuum()
    // pre-checkpoint time travel: v1 IS the txn commit, replayed from
    // raw commits (no checkpoint at or below it) — its resolution must
    // come from the v10 checkpoint's folded outcome
    assert(TxLog.readAt(spark, b, Some(1L)).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 5L, 100L, 101L, 102L))
    assert(TxLog.history(b).map(_._2).take(2) == Seq("append", "append"))
  }

  test("listing $txns cold resolves a vacuumed replica through the fold: " +
      "committed, the rows stay, the dropped marker table is not recreated") {
    val (a, b) = foldedTxnAfterVacuum()
    // skipping the fold tier, $txns would find no marker, recreate a's
    // marker directory to publish 'aborted' and cache that — and the
    // read after it would lose the transferred rows
    val listed = TxLog.txnCommits(b)
    assert(listed.map(t => (t._1, t._2, t._4)) == Seq((1L, "append", "committed")))
    assert(!Files.exists(a), "resolution recreated the dropped marker-hosting table")
    assert(ids(b) == Seq(2L, 5L, 100L, 101L, 102L) ++ (202L to 210L))
  }

  test("an ABORTED transaction's append cannot establish or advance " +
      "the table schema") {
    val c = freshTable()
    val marker = c.getParent.resolve("marker")
    Files.createDirectories(marker)
    Files.write(marker.resolve("pending"), "{}".getBytes): Unit
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    // a txn-flagged schema-bearing append from a coordinator that died
    // before deciding; the lease then resolves the txn as aborted
    assert(TxLog.tryCommit(c, 0L, "append", Nil, Nil,
      schema = Some(schema), extra = Map("txn" -> marker.toString)))
    Files.setLastModifiedTime(marker.resolve("pending"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - TxLog.StaleClaimMs - 1000))
    assert(TxLog.tableSchema(c).isEmpty,
      "aborted txn append must not establish the table schema")
    assert(TxLog.history(c).map(_._2) == Seq("txn-aborted"))
  }
}

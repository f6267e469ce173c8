package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ops.TxLog

/** Contracts of the lake streaming tail (graft-lake source): version
  * offsets with exactly-once resume from a checkpoint, append-class
  * commit classification, the fail-fast on data-change commits, and
  * the skipChangeCommits escape for data-unchanged rewrites. */
class LakeStreamSpec extends SparkSpec {

  private def idsDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("doc_id").withColumn("payload", concat(lit("v"), col("doc_id")))
  }

  private var sinkN = 0
  /** One AvailableNow drain; returns the doc_ids delivered THIS run.
    * foreachBatch (not the memory sink) so the checkpoint is
    * recoverable across drains — that recovery IS what the restart
    * test exercises. */
  private def drain(table: java.nio.file.Path, ckpt: String,
      skipChanges: Boolean = false): Seq[Long] = {
    sinkN += 1
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-lake")
      .option("skipChangeCommits", skipChanges.toString)
      .load(table.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("doc_id").collect().foreach(r => got.add(r.getLong(0)))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq.sorted
  }

  test("tails appends exactly once across a checkpointed restart") {
    val table = Files.createTempDirectory("graft_lakestream").resolve("t")
    val ckpt = Files.createTempDirectory("graft_lakestream_ckpt").toString
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 2)
    TxLog.append(spark, idsDf(5L to 9L), table, "doc_id", nParts = 2)
    assert(drain(table, ckpt) == (0L to 9L))
    // a new commit after the drain; the SAME checkpoint resumes at its
    // version and must deliver ONLY the new files
    TxLog.append(spark, idsDf(10L to 12L), table, "doc_id", nParts = 1)
    assert(drain(table, ckpt) == (10L to 12L))
    // nothing new: the next drain is empty
    assert(drain(table, ckpt) == Seq.empty)
  }

  test("fails fast on a data-change commit; skipChangeCommits skips it") {
    val table = Files.createTempDirectory("graft_lakestream").resolve("t")
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 2)
    TxLog.deleteMor(spark, table, idsDf(Seq(3L)).select("doc_id"), "doc_id")
    val e = intercept[Exception] {
      drain(table, Files.createTempDirectory("graft_lakestream_ckpt").toString)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("data-change commit")), e.getMessage)
    // skipping the MOR commit streams the APPENDED files as written
    // (the tail is an append log, not a table diff — documented)
    val got = drain(table,
      Files.createTempDirectory("graft_lakestream_ckpt").toString, skipChanges = true)
    assert(got == (0L to 9L))
  }

  test("maxVersionsPerBatch=1 replays one commit per micro-batch under AvailableNow") {
    val table = Files.createTempDirectory("graft_lakestream").resolve("t")
    (0 until 3).foreach { i =>
      TxLog.append(spark, idsDf((i * 5L) until (i * 5L + 5L)), table, "doc_id", nParts = 1)
    }
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.format("graft-lake")
      .option("maxVersionsPerBatch", "1")
      .load(table.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        batches.add((bid, batch.count())): Unit
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_lakestream_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq.sortBy(_._1)
    assert(got == Seq((0L, 5L), (1L, 5L), (2L, 5L)), got)
  }

  test("schema evolution fails the running stream; a restarted stream reads it all") {
    val table = Files.createTempDirectory("graft_lakestream").resolve("t")
    val ckpt = Files.createTempDirectory("graft_lakestream_ckpt").toString
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)
    assert(drain(table, ckpt) == (0L to 4L))
    // a RUNNING stream's source has its schema frozen at creation; an
    // evolution committed under it must fail that stream's next batch
    // (a fresh drain would re-resolve the schema and mask this, so the
    // running-stream case is driven at the source level)
    val running = new LakeStreamSource(spark, table,
      skipChangeCommits = false, startingVersion = 0L)
    TxLog.append(spark, idsDf(5L to 7L).withColumn("extra", lit(1L)),
      table, "doc_id", nParts = 1, allowEvolution = true)
    val e = intercept[IllegalStateException] {
      running.getBatch(
        Some(org.apache.spark.sql.execution.streaming.runtime.LongOffset(0L)),
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(1L))
    }
    assert(e.getMessage.contains("evolved the table schema"), e.getMessage)
    // a NEW stream (fresh source => re-resolved schema, fresh checkpoint)
    // reads everything: pre-evolution files null-fill `extra`
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean)]()
    val q = spark.readStream.format("graft-lake").load(table.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("doc_id", "extra").collect()
          .foreach(r => sink.add((r.getLong(0), r.isNullAt(1)))): Unit
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_lakestream_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = sink.asScala.toSeq.sortBy(_._1)
    assert(got.map(_._1) == (0L to 7L))
    assert(got.map(_._2) == Seq(true, true, true, true, true, false, false, false))
  }

  test("readChangeFeed + streamingApply is lake-to-lake replication, restart-safe") {
    val src = Files.createTempDirectory("graft_lakestream").resolve("src")
    val replica = Files.createTempDirectory("graft_lakestream").resolve("rep")
    val ckpt = Files.createTempDirectory("graft_lakestream_ckpt").toString
    def replicate(): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", "1") // <=1 change per key per batch
        .load(src.toString)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
          // CDC-minimal pair merge: an update arrives as delete+insert
          // of the same key — the insert wins, the delete drops
          val ins = b.filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          val delOnly = b.filter(col("_change_type") === "delete")
            .drop("_change_type", "_commit_version")
            .join(ins, Seq("doc_id"), "left_anti")
          val changes = ins.withColumn("op", lit("upsert"))
            .unionByName(delOnly.withColumn("op", lit("delete")))
          TxLog.streamingApply(spark, changes, bid, replica, "op", "doc_id", "doc_id"): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    TxLog.append(spark, idsDf(0L to 9L), src, "doc_id", nParts = 2)
    replicate()
    // churn AFTER the first drain: an update pair and a delete, then
    // resume from the same checkpoint
    TxLog.mergeMor(spark, src,
      idsDf(Seq(2L, 3L)).withColumn("payload", concat(lit("updated"), col("doc_id"))),
      "doc_id", "doc_id")
    TxLog.deleteMor(spark, src, idsDf(Seq(5L)).select("doc_id"), "doc_id")
    replicate()
    def state(t: java.nio.file.Path): Seq[(Long, String)] =
      TxLog.readAt(spark, t).collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[String]("payload"))).toSeq.sorted
    assert(state(replica) == state(src))
    assert(state(replica).find(_._1 == 2L).map(_._2).contains("updated2"))
    assert(!state(replica).exists(_._1 == 5L))
  }

  test("readChangeFeed replays COW commits from their CDC sidecars; " +
      "a sidecar-less COW commit fails fast") {
    val table = Files.createTempDirectory("graft_lakestream").resolve("t")
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 1)
    // a COW delete now records its removed rows as a CDC sidecar
    TxLog.deleteKeys(spark, table, idsDf(Seq(4L)).select("doc_id"), "doc_id", "doc_id")
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def drainCdf(): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .load(table.toString)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => rows.add((r.getAs[Long]("doc_id"),
            r.getAs[String]("_change_type"),
            r.getAs[Long]("_commit_version")))): Unit
        }
        .option("checkpointLocation",
          Files.createTempDirectory("graft_lakestream_ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainCdf()
    import scala.jdk.CollectionConverters._
    val got = rows.asScala.toSeq
    assert(got.count(_._2 == "insert") == 10)
    assert(got.filter(_._2 == "delete").map(_._1) == Seq(4L))
    assert(got.find(_._2 == "delete").get._3 == 1L) // the delete commit's version
    // a sidecar-less COW commit (older table format / foreign writer)
    // still fails fast instead of silently dropping changes
    val vNext = TxLog.latestVersion(table) + 1
    assert(TxLog.tryCommit(table, vNext, "merge", Nil, Nil))
    val e = intercept[Exception] { drainCdf() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("without a CDC sidecar")),
      e.getMessage)
  }

  test("CDF replicates a COW-written table (merge + delete) exactly") {
    val src = Files.createTempDirectory("graft_lakestream").resolve("src")
    val replica = Files.createTempDirectory("graft_lakestream").resolve("rep")
    TxLog.append(spark, idsDf(0L to 9L), src, "doc_id", nParts = 2)
    TxLog.mergeCow(spark, src,
      idsDf(Seq(2L, 7L)).withColumn("payload", concat(lit("cow"), col("doc_id"))),
      "doc_id", "doc_id")
    TxLog.deleteKeys(spark, src, idsDf(Seq(5L)).select("doc_id"), "doc_id", "doc_id")
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerBatch", "1")
      .load(src.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        val ins = b.filter(col("_change_type") === "insert")
          .drop("_change_type", "_commit_version")
        val delOnly = b.filter(col("_change_type") === "delete")
          .drop("_change_type", "_commit_version")
          .join(ins, Seq("doc_id"), "left_anti")
        TxLog.streamingApply(spark,
          ins.withColumn("op", lit("upsert"))
            .unionByName(delOnly.withColumn("op", lit("delete"))),
          bid, replica, "op", "doc_id", "doc_id"): Unit
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_lakestream_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def state(t: java.nio.file.Path): Seq[(Long, String)] =
      TxLog.readAt(spark, t).collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[String]("payload"))).toSeq.sorted
    assert(state(replica) == state(src))
    assert(state(replica).find(_._1 == 2L).map(_._2).contains("cow2"))
    assert(!state(replica).exists(_._1 == 5L))
  }

  test("a RESTORE commit fails the change feed with a restore-specific error; " +
      "skipChangeCommits skips it") {
    val table = Files.createTempDirectory("graft_lakestream").resolve("t")
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)   // v0
    TxLog.append(spark, idsDf(5L to 9L), table, "doc_id", nParts = 1)   // v1
    TxLog.restore(spark, table, toVersion = 0L)                         // v2
    def drainCdf(skip: Boolean): Seq[(Long, String)] = {
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("skipChangeCommits", skip.toString)
        .load(table.toString)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => rows.add((r.getAs[Long]("doc_id"),
            r.getAs[String]("_change_type")))): Unit
        }
        .option("checkpointLocation",
          Files.createTempDirectory("graft_lakestream_ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq
    }
    val e = intercept[Exception] { drainCdf(skip = false) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("RESTORE")),
      s"expected a restore-specific error, got: ${e.getMessage}")
    // under skipChangeCommits the appends still replay; the restore is skipped
    val got = drainCdf(skip = true)
    assert(got.map(_._1).sorted == (0L to 9L) && got.forall(_._2 == "insert"))
  }

  test("metadata-only commits (create, set-schema, set-tag, constraint) emit nothing " +
      "in the change feed") {
    val table = Files.createTempDirectory("graft_lakestream").resolve("t")
    TxLog.create(table, idsDf(Seq(0L)).schema)                            // v0
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)     // v1
    TxLog.setConstraint(spark, table, "cap", "doc_id < 100")              // v2
    TxLog.setTag(table, "stable", 1L)                                     // v3
    TxLog.addColumn(table, "extra", org.apache.spark.sql.types.LongType)  // v4
    TxLog.setProps(table, Map("owner" -> "x"), sources = Seq("in.parquet")) // v5
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true")
      .load(table.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => rows.add((r.getAs[Long]("doc_id"),
          r.getAs[String]("_change_type")))): Unit
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_lakestream_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = rows.asScala.toSeq
    assert(got.map(_._1).sorted == (0L to 4L) && got.forall(_._2 == "insert"),
      s"only the append's inserts should replay, got $got")
  }

  test("compaction is a data-unchanged rewrite: skipped tail still sees every row once") {
    val table = Files.createTempDirectory("graft_lakestream").resolve("t")
    val ckpt = Files.createTempDirectory("graft_lakestream_ckpt").toString
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 2)
    TxLog.compact(spark, table, "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(5L to 7L), table, "doc_id", nParts = 1)
    assert(drain(table, ckpt, skipChanges = true) == (0L to 7L))
  }

  test("a clone's CDF applies the cloned deletion vectors: MOR-deleted " +
      "rows are not resurrected in a replica built from the clone") {
    val src = Files.createTempDirectory("graft_lakestream").resolve("src")
    TxLog.append(spark, idsDf(0L to 9L), src, "doc_id", nParts = 2)
    // merge-on-read delete: the files KEEP rows 3 and 7, masked by DVs —
    // and cloneTable hardlinks those DV sidecars into the clone
    TxLog.deleteMor(spark, src, idsDf(Seq(3L, 7L)).select("doc_id"), "doc_id")
    val dst = Files.createTempDirectory("graft_lakestream").resolve("clone")
    TxLog.cloneTable(spark, src, dst)
    assert(TxLog.snapshotAt(dst).files.exists(_.dv.isDefined),
      "precondition: the clone's v0 must carry deletion vectors")
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true")
      .load(dst.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => rows.add((r.getAs[Long]("doc_id"),
          r.getAs[String]("_change_type")))): Unit
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_lakestream_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = rows.asScala.toSeq
    assert(got.forall(_._2 == "insert"))
    // rows 3 and 7 were deleted in the SOURCE before the clone: its
    // feed must emit exactly the live rows, never the DV-masked ones
    assert(got.map(_._1).sorted == Seq(0L, 1L, 2L, 4L, 5L, 6L, 8L, 9L))
  }

  test("sim11's redelivery contract: a re-encoded PQ micro-batch with " +
      "the same batch id is a no-op — the codes table never double-counts") {
    import spark.implicits._
    // a tiny persisted codebook (k=2 per subspace) + a codes table
    val emb = (0L until 20L).map(i =>
        (i, Array.tabulate(64)(d => ((i * 7 + d * 13) % 97).toFloat / 97f)))
      .toDF("vec_id", "embedding")
    val (codes0, codebook) = graft.ops.Pq.model(
      emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      dims = 64, m = 8, k = 2, iters = 1)
    val base = Files.createTempDirectory("graft_sim11spec")
    val codeT = base.resolve("codes")
    TxLog.append(spark, codes0, codeT, "vec_id", nParts = 1)
    val growth = emb.filter(col("vec_id") >= 10)
    val enc = graft.ops.Pq.encode(growth, codebook, "vec_id", "embedding",
      dims = 64, m = 8)
    val n0 = TxLog.readAt(spark, codeT).count()
    assert(TxLog.streamingAppend(spark, enc, 7L, codeT, "vec_id").isDefined,
      "first delivery of batch 7 commits")
    val n1 = TxLog.readAt(spark, codeT).count()
    assert(n1 == n0 + 10 * 8, "ten vectors x eight subspace codes land")
    // a crashed-and-restarted stream re-delivers the SAME batch id:
    // the batch-id watermark must swallow it whole
    assert(TxLog.streamingAppend(spark, enc, 7L, codeT, "vec_id").isEmpty,
      "redelivered batch 7 must be a no-op")
    assert(TxLog.readAt(spark, codeT).count() == n1,
      "the codes table must not double-encode a redelivered batch")
  }
}

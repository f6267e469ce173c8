package graft.ops

import java.nio.file.{Files, Path}
import java.util.Comparator

import graft.SparkSpec

/** Pins the (size, mtime) stamp guard on the path-keyed metadata caches
  * ([[StampedCache]]): a table deleted and RE-CREATED at the same path —
  * by a raw delete, so no cache is explicitly invalidated, or by
  * `TxLog.deleteTree` — must serve the new incarnation's metadata: its
  * protocol, its commits and its text dictionary. */
class CacheStampSpec extends SparkSpec {
  import spark.implicits._

  // raw recursive delete, deliberately NOT TxLog.deleteTree: the guard
  // must hold even when nobody clears the caches
  private def rawDelete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f): Unit)

  test("protocolAt: re-created table never replays the old protocol base") {
    val dir = Files.createTempDirectory("graft_stamp")
    val t = dir.resolve("tbl")
    TxLog.append(spark, Seq((1L, "x")).toDF("id", "v"), t, "id")
    TxLog.upgradeProtocol(t, writerFeatures = Set("deletionVectors")): Unit
    assert(TxLog.protocolAt(t).writerFeatures == Set("deletionVectors"))
    rawDelete(t)
    // new incarnation with the SAME version count (v0, v1), no protocol
    TxLog.append(spark, Seq((1L, "x")).toDF("id", "v"), t, "id")
    TxLog.append(spark, Seq((2L, "y")).toDF("id", "v"), t, "id")
    assert(TxLog.protocolAt(t).isEmpty,
      "stale cached protocol served for a re-created table")
    rawDelete(dir)
  }

  test("history and addsAt: a re-created table never serves the old commits") {
    val dir = Files.createTempDirectory("graft_stamp")
    val t = dir.resolve("tbl")
    TxLog.append(spark, Seq((1L, "x")).toDF("id", "v"), t, "id")
    TxLog.append(spark, Seq((2L, "y")).toDF("id", "v"), t, "id")
    assert(TxLog.history(t).map(_._2) == Seq("append", "append"))
    val oldAdds = TxLog.addsAt(t, 1L)
    rawDelete(t)
    // new incarnation with the SAME version count, another op at v1
    TxLog.append(spark, Seq((1L, "x")).toDF("id", "v"), t, "id")
    TxLog.overwrite(spark, Seq((3L, "z")).toDF("id", "v"), t, "id"): Unit
    assert(TxLog.history(t).map(_._2) == Seq("append", "overwrite"),
      "stale cached commit served for a re-created table")
    val adds = TxLog.addsAt(t, 1L)
    assert(adds.map(_.path) == TxLog.snapshotAt(t).files.map(_.path))
    assert(adds.map(_.path).intersect(oldAdds.map(_.path)).isEmpty)
    rawDelete(dir)
  }

  /** Incarnation `i`'s corpus: 12 docs, every (i + 2)-th holding "alpha"
    * one to three times, lengths varying with `i`. */
  private def corpus(i: Int) = (0 until 12).map { j =>
    val alpha = if (j % (i + 2) == 0) Seq.fill(1 + j % 3)("alpha") else Nil
    (j.toLong, (alpha ++ Seq.fill(1 + (i + j) % 4)(s"w${j % 5}")).mkString(" "))
  }.toDF("doc_id", "text")

  for ((how, drop) <- Seq[(String, Path => Unit)](
      "a raw delete" -> rawDelete, "TxLog.deleteTree" -> TxLog.deleteTree))
    test(s"block-max: an index re-created after $how never serves the old dictionary") {
      val dir = Files.createTempDirectory("graft_stamp_dict")
      val (docs, index) = (dir.resolve("corpus"), dir.resolve("ix"))
      def agree(what: String): Unit = {
        val (bm, report) = TextIndex.searchBm25BlockMax(spark, index, Seq("alpha"), 5)
        assert(!report.fellBack, what)
        assert(bm.collect().toSeq ==
          TextIndex.searchBm25(spark, index, Seq("alpha"), 5).collect().toSeq, what)
      }
      TxLog.append(spark, corpus(0), docs, "doc_id")
      TextIndex.ensureIndexed(spark, docs, index): Unit
      agree("first incarnation") // caches the dictionary rows of `alpha`
      Seq(docs, index, dir.resolve("ix_tstats")).foreach(drop)
      TxLog.append(spark, corpus(1), docs, "doc_id")
      TextIndex.ensureIndexed(spark, docs, index): Unit
      assert(TxLog.latestVersion(dir.resolve("ix_tstats")) == 0L,
        "the re-created dictionary reaches the old one's version")
      agree(s"re-created after $how")
      rawDelete(dir)
    }
}

package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** `TxLog.readLocal`, the driver-side parquet-mr read: Spark's own
  * merge-on-read scan (`readFiles`) is the reference for every shape the
  * serving path meets — deletion vectors, renamed and added columns, and
  * the text dictionary's top-k pair arrays. */
class ReadLocalSpec extends SparkSpec {

  private def rows(n: Long, from: Long = 0L) = {
    import spark.implicits._
    (from until from + n).map(i =>
      (i, (i % 5).toInt, i * 0.5, i % 2 == 0, if (i % 7 == 0) null else s"s$i"))
      .toDF("id", "g", "v", "b", "s")
  }

  /** Equal as multisets: the two reads may visit files in any order.
    * Sorted by their text, compared by Row equality (an array value's
    * Seq class differs between the readers, its elements may not). */
  private def same(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size &&
      a.sortBy(_.toString).zip(b.sortBy(_.toString)).forall { case (x, y) => x == y }

  private def viaSpark(t: Path, files: Seq[TxLog.AddFile], cols: Seq[String]) =
    TxLog.readFiles(spark, t, files).select(cols.map(col): _*).collect().toSeq

  test("deletion vectors apply per file, and the eq filter keeps exactly its key") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_rl_dv").resolve("t")
    TxLog.append(spark, rows(40), t, "id", nParts = 3)
    TxLog.deleteMor(spark, t, Seq(3L, 4L, 17L, 31L).toDF("id"), "id"): Unit
    // a key deleted in one file and re-inserted by a later append stays
    // visible: vectors pair (file, key), they are not a global anti-join
    TxLog.append(spark, rows(1, from = 17L), t, "id", nParts = 1)
    val files = TxLog.snapshotAt(t).files
    assert(files.exists(_.dv.isDefined))
    val cols = Seq("id", "g", "v", "b", "s")
    val local = TxLog.readLocal(spark, t, files, cols)
    assert(same(local, viaSpark(t, files, cols)))
    assert(local.count(_.getLong(0) == 17L) == 1 && !local.exists(_.getLong(0) == 3L))
    assert(local.head.schema.fieldNames.toSeq == cols)
    // projection: a subset in a different order
    assert(same(TxLog.readLocal(spark, t, files, Seq("s", "id")),
      viaSpark(t, files, Seq("s", "id"))))
    val eq = TxLog.readLocal(spark, t, files, Seq("id", "s"), eq = Some(("id", 21L)))
    assert(eq.map(_.getLong(0)) == Seq(21L))
    assert(TxLog.readLocal(spark, t, files, Seq("id"), eq = Some(("id", 3L))).isEmpty,
      "a deleted key must not come back through the eq read")
  }

  test("column mapping: a renamed column reads under its new name, DVs keyed physically") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_rl_ren").resolve("t")
    TxLog.append(spark, rows(20), t, "id", nParts = 2)
    TxLog.renameColumn(spark, t, "v", "value"): Unit
    TxLog.renameColumn(spark, t, "id", "key"): Unit
    TxLog.append(spark, rows(10, from = 20L)
      .withColumnRenamed("v", "value").withColumnRenamed("id", "key"), t, "key", nParts = 1)
    TxLog.deleteMor(spark, t, Seq(2L, 25L).toDF("key"), "key"): Unit
    val files = TxLog.snapshotAt(t).files
    val cols = Seq("key", "value", "s")
    val local = TxLog.readLocal(spark, t, files, cols)
    assert(same(local, viaSpark(t, files, cols)))
    assert(local.size == 28 && local.head.schema.fieldNames.toSeq == cols)
    assert(TxLog.readLocal(spark, t, files, Seq("value"), eq = Some(("key", 7L)))
      .map(_.getDouble(0)) == Seq(3.5))
  }

  test("an added column reads as null from files written before it") {
    val t = Files.createTempDirectory("graft_rl_add").resolve("t")
    TxLog.append(spark, rows(12), t, "id", nParts = 2)
    TxLog.addColumn(t, "extra", LongType): Unit
    TxLog.append(spark, rows(6, from = 12L).withColumn("extra", col("id") * 10), t, "id",
      nParts = 1)
    val files = TxLog.snapshotAt(t).files
    val cols = Seq("id", "extra")
    val local = TxLog.readLocal(spark, t, files, cols)
    assert(same(local, viaSpark(t, files, cols)))
    assert(local.count(_.isNullAt(1)) == 12)
    // a projection onto ONLY the column old files lack still counts their rows
    assert(TxLog.readLocal(spark, t, files, Seq("extra")).size == 18)
  }

  test("a real _tstats dictionary file: top_pairs arrays equal Spark's read") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_rl_ts")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    val docs = (0L until 80L).map(i => (i, (0 to (i % 9).toInt).map(j => s"w${(i + j) % 13}")
      .mkString(" "))).toDF("doc_id", "text")
    TxLog.append(spark, docs, corpus, "doc_id", nParts = 2)
    TextIndex.ensureIndexed(spark, corpus, index): Unit
    val ts = base.resolve("ix_tstats")
    val files = TxLog.snapshotAt(ts).files
    val cols = Seq("term", "df", "tf_bound", "top_pairs", "slice_ver")
    assert(same(TxLog.readLocal(spark, ts, files, cols), viaSpark(ts, files, cols)))
    val h = TextIndex.termHash("w3")
    val one = TxLog.readLocal(spark, ts, TxLog.pruneFiles(TxLog.snapshotAt(ts), h, h), cols,
      eq = Some(("term_hash", h)))
    val ref = TxLog.readAt(spark, ts).filter(col("term_hash") === h)
      .select(cols.map(col): _*).collect().toSeq
    assert(one.nonEmpty && same(one, ref))
    assert(one.head.getSeq[Row](3).nonEmpty)
  }

  test("readLocal and footerStats read with the session's Hadoop configuration") {
    val t = Files.createTempDirectory("graft_rl_conf").resolve("t")
    TxLog.append(spark, rows(10), t, "id", nParts = 1)
    val files = TxLog.snapshotAt(t).files
    val file = t.resolve(files.head.path)
    // a decryption factory that does not exist, set on the session only:
    // an open that builds its options from a default configuration never
    // sees it; one that reads the session's fails on it
    val key = "parquet.crypto.factory.class"
    val missing = "graft.ops.NoSuchDecryptionFactory"
    spark.conf.set(key, missing)
    try {
      val local = intercept[Exception](TxLog.readLocal(spark, t, files, Seq("id")))
      assert(chain(local).exists(_.contains(missing)), chain(local))
      val footer = intercept[Exception](
        TxLog.footerStats(spark.sessionState.newHadoopConf(), file, "id"))
      assert(chain(footer).exists(_.contains(missing)), chain(footer))
    } finally spark.conf.unset(key)
    assert(TxLog.readLocal(spark, t, files, Seq("id")).size == 10)
    assert(TxLog.footerStats(spark.sessionState.newHadoopConf(), file, "id").rows == 10L)
  }

  /** The messages of `e` and its causes. */
  private def chain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq

  test("an unsupported column type is refused by name") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_rl_bad").resolve("t")
    TxLog.append(spark, Seq((1L, Seq("a", "b"))).toDF("id", "tags"), t, "id", nParts = 1)
    val e = intercept[IllegalArgumentException](
      TxLog.readLocal(spark, t, TxLog.snapshotAt(t).files, Seq("id", "tags")))
    assert(e.getMessage.contains("'tags'"), e.getMessage)
  }
}

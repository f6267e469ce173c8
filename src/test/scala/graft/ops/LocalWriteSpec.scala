package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pins TxLog.appendLocal (optimization r17): the driver-written
  * parquet file must be indistinguishable from a Spark-staged one —
  * same read-back rows and schema, same footer stats (so pruneFiles
  * keeps working), same commit semantics. */
class LocalWriteSpec extends SparkSpec {
  import spark.implicits._

  private val twoLong = StructType(Seq(
    StructField("n_docs", LongType, nullable = false),
    StructField("total_len", LongType, nullable = false)))

  test("appendLocal: read-back, schema, and footer stats match a Spark append") {
    val dir = Files.createTempDirectory("graft_localw")
    val a = dir.resolve("local"); val b = dir.resolve("spark")
    TxLog.appendLocal(spark, a, "n_docs", twoLong, Seq(Seq(42L, 9000L)))
    TxLog.append(spark, Seq((42L, 9000L)).toDF("n_docs", "total_len"), b, "n_docs")
    val ra = TxLog.readAt(spark, a); val rb = TxLog.readAt(spark, b)
    assert(ra.collect().toSeq == rb.collect().toSeq)
    assert(ra.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      rb.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val fa = TxLog.snapshotAt(a).files.head
    val fb = TxLog.snapshotAt(b).files.head
    assert(fa.rows == fb.rows && fa.minKey == fb.minKey && fa.maxKey == fb.maxKey)
    assert(fa.cols == fb.cols, s"footer int stats differ: ${fa.cols} vs ${fb.cols}")
    TxLog.deleteTree(dir)
  }

  test("string + int + double + boolean columns round-trip with stats") {
    val dir = Files.createTempDirectory("graft_localw")
    val t = dir.resolve("t")
    val schema = StructType(Seq(
      StructField("file_name", StringType, nullable = true),
      StructField("k", IntegerType, nullable = false),
      StructField("x", DoubleType, nullable = false),
      StructField("ok", BooleanType, nullable = false)))
    TxLog.appendLocal(spark, t, "k", schema,
      Seq(Seq("alpha.parquet", 3, 1.5, true), Seq("beta.parquet", 7, -2.25, false)))
    val got = TxLog.readAt(spark, t).orderBy("k").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("alpha.parquet", "beta.parquet"))
    assert(got.map(_.getInt(1)).toSeq == Seq(3, 7))
    assert(got.map(_.getDouble(2)).toSeq == Seq(1.5, -2.25))
    assert(got.map(_.getBoolean(3)).toSeq == Seq(true, false))
    // int column footer stats recorded (k is the designated stats col)
    val f = TxLog.snapshotAt(t).files.head
    assert(f.minKey == 3L && f.maxKey == 7L)
    // string footer stats present for pruning
    assert(f.strCols.contains("file_name"))
    TxLog.deleteTree(dir)
  }

  test("nulls in optional string columns survive the round trip") {
    val dir = Files.createTempDirectory("graft_localw")
    val t = dir.resolve("t")
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    TxLog.appendLocal(spark, t, "k", schema, Seq(Seq(1L, "x"), Seq(2L, null)))
    val got = TxLog.readAt(spark, t).orderBy("k").collect()
    assert(got(0).getString(1) == "x" && got(1).isNullAt(1))
    TxLog.deleteTree(dir)
  }
}

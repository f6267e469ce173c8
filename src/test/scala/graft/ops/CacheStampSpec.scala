package graft.ops

import java.nio.file.{Files, Path}
import java.util.Comparator

import graft.SparkSpec

/** Pins the (size, mtime) stamp guard on the path-keyed metadata caches
  * (optimization r17, VERDICT r16 item 7): a table deleted and
  * RE-CREATED at the same path — without going through deleteTree, so
  * no cache is explicitly invalidated — must serve the new incarnation's
  * metadata from protocolAt. */
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
}

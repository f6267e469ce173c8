package graft.queries

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.ops.TxLog

/** The shared IVF-PQ build nests its base family inside its full
  * family. A memo that nests `ConcurrentHashMap.computeIfAbsent` calls
  * throws `IllegalStateException: Recursive update` whenever the two
  * keys land in one hash bin, which depends only on the corpus dir's
  * name; this spec picks such a name. */
class IvfPqBuildSpec extends SparkSpec {

  /** The bin of `key` in a 16-bin ConcurrentHashMap (its `spread`). */
  private def bin16(key: String): Int = {
    val h = key.hashCode
    (h ^ (h >>> 16)) & 0x7fffffff & 15
  }

  test("buildLakeIvfPq builds a corpus dir whose base and full keys share a hash bin") {
    val root = Files.createTempDirectory("graft_ivfpq_bin")
    try {
      // keep clear of the bins sf0.001's own keys may already occupy
      val taken = Set(bin16(s"base:$sf0001"), bin16(s"full:$sf0001"))
      val dir: Path = Iterator.from(0).map(i => root.resolve(s"c$i")).find { d =>
        val b = bin16(s"base:$d")
        b == bin16(s"full:$d") && !taken(b)
      }.get
      Files.createDirectories(dir)
      Files.copy(java.nio.file.Paths.get(sf0001, "embeddings.parquet"),
        dir.resolve("embeddings.parquet"))
      def rows(t: (Path, Path, Path, Path)): Seq[Long] =
        Seq(t._1, t._2, t._3, t._4).map(TxLog.readAt(spark, _).count())

      val built = SimilarityQueries.buildLakeIvfPq(spark, dir.toString)
      // the same embeddings file: the same four tables as sf0.001's build
      val expected = rows(SimilarityQueries.buildLakeIvfPq(spark, sf0001))
      assert(expected.forall(_ > 0))
      assert(rows(built) == expected)
      // a second call serves a fresh clone of the same build
      val again = SimilarityQueries.buildLakeIvfPq(spark, dir.toString)
      assert(again._2 != built._2)
      assert(rows(again) == expected)
    } finally TxLog.deleteTree(root)
  }
}

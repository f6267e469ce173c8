package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Ann

/** Dev A/B for the IVF assignment kernel in ISOLATION (sim07's full
  * lifecycle buries the assignment under index writes and probes, so
  * whole-query walls can't resolve the flat-vs-two-level delta on this
  * noisy VM): loads a corpus, derives its corpus-scaled centroid set,
  * and times `Ann.assignFlat` vs `Ann.assignTwoLevel` over several
  * decorrelated repetitions (min wins).
  *
  * Usage: runMain graft.tools.AnnAb [embeddingsParquet] [reps] [expandFactor]
  */
object AnnAb {
  def main(args: Array[String]): Unit = {
    val path = args.lift(0).getOrElse("/tmp/graft_scale/x30/embeddings.parquet")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val factor = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = graft.GraftSession.local()
    val raw = if (factor <= 1) spark.read.parquet(path)
      else graft.ScaleBench.expandEmbeddings(spark, path, factor)
    val emb = raw
      .select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint(true)
    val n = emb.count()
    val c = math.max(16L, (n + 124) / 125)
    val cents = emb.filter(col("vec_id") < c)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      .localCheckpoint(true)
    val nCoarse = math.ceil(math.sqrt(c.toDouble)).toInt
    println(s"n=$n centroids=$c coarse=$nCoarse")
    def time(tag: String)(f: => Long): Unit = {
      var best = Double.MaxValue
      var rows = 0L
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        rows = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"$tag%-10s best=${best}%7.2f s  rows=$rows")
    }
    time("flat") { Ann.assignFlat(emb, cents).count() }
    time("two-level") { Ann.assignTwoLevel(emb, cents, nCoarse).count() }
    time("flat") { Ann.assignFlat(emb, cents).count() }
    time("two-level") { Ann.assignTwoLevel(emb, cents, nCoarse).count() }
    spark.stop()
  }
}

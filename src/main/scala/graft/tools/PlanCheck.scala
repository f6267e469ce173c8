package graft.tools

import graft.SparkEntry

/** Dev tool: print formatted physical plans for selected queries —
  * the "is this the plan I'd want at 100 TB" review loop. */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q05_region_revenue", "q06_revenue_delta", "dd04_lsh_candidates", "sim01_cosine_topk")
    val spark = graft.GraftSession.local()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

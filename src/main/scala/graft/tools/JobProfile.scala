package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.SparkEntry

/** Dev profiler: runs selected queries under a job listener so the time
  * inside a multi-job lifecycle query (index builds, maintains, serves)
  * attributes to individual Spark jobs — the local-mode stand-in for the
  * UI's Jobs page (optimization guide §1/§7). Prints, per query run, each
  * job's duration + callsite so the expensive phase is visible, plus the
  * gap (driver-side) time no job covers. Each query runs twice: run 1's
  * wall carries cold start (planning, codegen, JIT), run 2's is steady
  * state. */
object JobProfile {
  private final case class Job(id: Int, desc: String, start: Long, var end: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q01_pricing_summary")
    val spark = graft.GraftSession.local()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(js.jobId, Job(js.jobId, desc, js.time, -1L))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.end = je.time
      }
    })
    // warmup: FS init + codegen
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count().count()
    for (n <- names; run <- 1 to 2) {
      jobs.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      val done = {
        import scala.jdk.CollectionConverters._
        jobs.values().asScala.toSeq.filter(_.end > 0).sortBy(_.start)
      }
      val jobMs = done.map(j => j.end - j.start).sum
      println(f"== $n run$run: wall ${wallMs / 1000}%.2f s, ${done.size} jobs, " +
        f"job time ${jobMs / 1000.0}%.2f s, driver gaps ${(wallMs - jobMs) / 1000}%.2f s")
      if (run == 2) {
        var prevEnd = -1L
        done.foreach { j =>
          val gap = if (prevEnd < 0) 0.0 else (j.start - prevEnd) / 1000.0
          prevEnd = math.max(prevEnd, j.end)
          println(f"   job ${j.id}%4d ${(j.end - j.start) / 1000.0}%7.2f s  gap ${gap}%6.2f s  ${j.desc.take(100)}")
        }
      }
    }
    spark.stop()
  }
}

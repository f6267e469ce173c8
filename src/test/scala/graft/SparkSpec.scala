package graft

import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (getOrCreate -> one JVM-wide session,
  * suites run against the same warm context). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 8, shufflePartitions = 8)
  def sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = jobStartsDuring(body).size

  /** The start events of the Spark jobs started while `body` runs, in
    * order. Sentinel jobs before and after it mark the window: the
    * listener bus delivers events in order. */
  def jobStartsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.put(e)
    }
    def description(e: SparkListenerJobStart): String =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    def sentinel(): String = {
      val tag = s"sentinel-${UUID.randomUUID()}"
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      tag
    }
    def jobsUntil(tag: String): Seq[SparkListenerJobStart] = {
      val jobs = Seq.newBuilder[SparkListenerJobStart]
      var e = started.poll(60, TimeUnit.SECONDS)
      while (e == null || description(e) != tag) {
        assert(e != null, s"no job-start event for $tag")
        jobs += e
        e = started.poll(60, TimeUnit.SECONDS)
      }
      jobs.result()
    }
    sc.addSparkListener(listener)
    try {
      jobsUntil(sentinel())
      body
      jobsUntil(sentinel())
    } finally sc.removeSparkListener(listener)
  }
}

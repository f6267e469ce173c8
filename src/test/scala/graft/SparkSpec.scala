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

  /** Spark jobs started while `body` runs. Sentinel jobs before and after
    * it mark the window: the listener bus delivers events in order. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def sentinel(): String = {
      val tag = s"sentinel-${UUID.randomUUID()}"
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      tag
    }
    def jobsUntil(tag: String): Int = {
      var n = 0
      var d = started.poll(60, TimeUnit.SECONDS)
      while (d != tag) {
        assert(d != null, s"no job-start event for $tag")
        n += 1
        d = started.poll(60, TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      jobsUntil(sentinel())
      body
      jobsUntil(sentinel())
    } finally sc.removeSparkListener(listener)
  }
}

package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}

/** Drops the per-key provenance (the resource that set each key, e.g.
  * `yarn-default.xml`) from a session's two base Hadoop configurations.
  * `Configuration.write` ships each key's source list as one GZIP stream
  * per string, and every write task carries its job's configuration (a
  * file scan broadcasts one), so with ~1,100 default keys the sources
  * cost more to serialize than the values. Every per-job configuration
  * is copied from these two, so the copies start without sources too.
  * Values are untouched: only `getPropertySources` stops naming the
  * default resources. Package-placed to reach the `private[sql]`
  * `SharedState.hadoopConf`. */
object HadoopConfShims {

  private val SourcesField = "updatingResource"

  private lazy val sources: java.lang.reflect.Field = {
    val f = try classOf[Configuration].getDeclaredField(SourcesField) catch {
      case e: NoSuchFieldException => throw new IllegalStateException(
        s"org.apache.hadoop.conf.Configuration has no field '$SourcesField' " +
          "(its per-key source map) in this Hadoop version", e)
    }
    f.setAccessible(true)
    f
  }

  def stripProvenance(spark: SparkSession): Unit = {
    // registers the mapred and yarn default resources as JobConf's
    // static initializer would; registering one later reloads every
    // live Configuration, sources included
    org.apache.hadoop.mapreduce.util.ConfigUtil.loadResources()
    baseConfs(spark).foreach(stripProvenance)
  }

  /** The session's two base Hadoop configurations, the context's and the
    * SQL shared state's: every per-job configuration is a copy of one. */
  def baseConfs(spark: SparkSession): Seq[Configuration] = {
    val cs = spark.asInstanceOf[ClassicSparkSession]
    Seq(cs.sparkContext.hadoopConfiguration, cs.sharedState.hadoopConf)
  }

  def stripProvenance(conf: Configuration): Unit = conf.synchronized {
    conf.size(): Unit // loads the resources: the step that records sources
    sources.get(conf) match {
      case m: java.util.Map[_, _] => m.clear()
      case _ => // none recorded yet
    }
  }
}

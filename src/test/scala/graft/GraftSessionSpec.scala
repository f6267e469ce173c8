package graft

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Pins the effective conf of `GraftSession.local(2, 2)`, the session the
  * benchmark harness runs on; `Verify` and `Bench` take the same conf with
  * more cores. The session is built in a child JVM: this JVM's shared
  * session already exists, and the child's default time zone is not UTC,
  * so the session time zone below comes from the factory. */
class GraftSessionSpec extends AnyFunSuite {

  private def childConf(): Map[String, String] = {
    val jvm = ManagementFactory.getRuntimeMXBean
    // module opens Spark needs, but none of the parent's -Dspark.* defaults
    val opens = jvm.getInputArguments.asScala.toSeq.filter(_.startsWith("--add-opens="))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString,
      "-Xmx512m", "-Duser.timezone=Pacific/Auckland") ++ opens ++
      Seq("-cp", jvm.getClassPath, classOf[GraftSessionSpec].getName)
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, s"child JVM failed, stdout:\n$out")
    out.linesIterator.collect { case l if l.contains('=') =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
    }.toMap
  }

  test("local(2, 2) yields the engine's conf") {
    val conf = childConf()
    assert(conf("master") == "local[2]")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
    assert(conf("file.fs.class") == classOf[ForkFreeLocalFileSystem].getName)
    assert(conf("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.shuffle.partitions") == "2")
    val v1Sources = conf("spark.sql.sources.useV1SourceList").split(",").toSeq
    assert(v1Sources == SQLConf.USE_V1_SOURCE_LIST.defaultValueString.split(",").toSeq
      .filter(_ != "avro"))
    val warehouse = Paths.get(new java.net.URI(conf("spark.sql.warehouse.dir")).getPath)
    assert(!warehouse.startsWith(Paths.get(System.getProperty("user.dir")).toAbsolutePath),
      s"warehouse $warehouse lies inside the working directory")
  }
}

/** The child JVM: builds the session and prints its conf as `key=value`. */
object GraftSessionSpec {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(2, 2)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val conf = Seq("spark.sql.session.timeZone", "spark.sql.extensions",
      "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.sources.useV1SourceList", "spark.sql.warehouse.dir")
      .map(k => k -> spark.conf.get(k)) ++ Seq(
      "master" -> spark.sparkContext.master,
      "fs.file.impl" -> spark.sparkContext.hadoopConfiguration.get("fs.file.impl"),
      "file.fs.class" -> fs.getClass.getName)
    conf.foreach { case (k, v) => println(s"$k=$v") }
    spark.stop()
  }
}

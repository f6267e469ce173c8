package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.ops.TxLog
import graft.sinks.ParquetSink

/** Local writes start no process: the session's `file:` FileSystem sets
  * permissions in-process ([[ForkFreeLocalFileSystem]]), with the modes and
  * `.crc` checksum files Hadoop's `LocalFileSystem` produces. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")

  /** Commands of the processes started while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val out = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { rec.close(); Files.delete(out) }
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("a sink write and a TxLog append start no process") {
    // A file: FileSystem cached in the JVM before the session was built
    // would be reused and fork again.
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    val dir = Files.createTempDirectory("graft_forks")
    val sink = new ParquetSink(dir.resolve("sink").toString)
    def write(i: Int): Unit = {
      sink.write(df, s"t$i")
      TxLog.append(spark, df, dir.resolve(s"lake$i"), "id")
    }
    write(0) // one-time class loading and set-up stay outside the recording
    val forks = processStarts(write(1))
    assert(forks.isEmpty, s"process starts: ${forks.mkString("; ")}")
    TxLog.deleteTree(dir)
  }

  test("modes and .crc files match Hadoop's LocalFileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    val hadoop = new LocalFileSystem()
    hadoop.initialize(new URI("file:///"), conf)
    val ours = FileSystem.get(new URI("file:///"), conf)
    val root = Files.createTempDirectory("graft_modes")

    /** Every path under `base` with its mode bits (sticky bit included). */
    def layout(fs: FileSystem, base: JPath): Seq[(String, Int)] = {
      val b = new Path(base.toUri)
      fs.mkdirs(new Path(b, "d/e"))
      fs.create(new Path(b, "d/e/f")).close()
      fs.mkdirs(new Path(b, "m"), new FsPermission("700"))
      fs.create(new Path(b, "m/g")).close()
      fs.setPermission(new Path(b, "m/g"), new FsPermission("640"))
      fs.mkdirs(new Path(b, "s"))
      fs.setPermission(new Path(b, "s"), new FsPermission("1777"))
      Files.walk(base).iterator.asScala.toSeq
        .map(p => base.relativize(p).toString -> mode(p)).sortBy(_._1)
    }
    val expected = layout(hadoop, root.resolve("hadoop"))
    assert(layout(ours, root.resolve("ours")) == expected)
    assert(expected.map(_._1).contains("d/e/.f.crc"))

    // A sink write: every output file has its .crc, with the modes Hadoop gives.
    new ParquetSink(root.resolve("sink").toString).write(df, "t")
    val table = root.resolve("sink/t")
    val names = Files.list(table).iterator.asScala.map(_.getFileName.toString).toSet
    val outputs = names.filterNot(_.startsWith("."))
    assert(outputs.exists(_.endsWith(".parquet")) && outputs("_SUCCESS"))
    outputs.foreach(n => assert(names(s".$n.crc"), s"no .crc for $n"))
    val fileMode = expected.toMap.apply("d/e/f")
    names.foreach(n => assert(mode(table.resolve(n)) == fileMode, n))
    assert(mode(table) == expected.toMap.apply("d/e"))
    TxLog.deleteTree(root)
  }
}

package graft.parsers

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The zip and tar parsers extract entries into a scratch dir that the
  * returned DataFrame reads lazily, so the dir can only go at JVM exit.
  * A child JVM with its own temp dir parses one archive of each kind,
  * counts their rows and exits; its scratch dirs must be gone after. */
class ArchiveScratchSpec extends AnyFunSuite {

  private val ScratchPrefixes = Seq("graft_zip_scratch", "graft_tar_scratch")

  private def scratchDirs(tmp: Path): Seq[String] =
    Files.list(tmp).iterator().asScala.map(_.getFileName.toString)
      .filter(n => ScratchPrefixes.exists(n.startsWith)).toSeq

  test("zip and tar scratch dirs are deleted when the JVM exits") {
    val tmp = Files.createTempDirectory("archive_scratch")
    val log = tmp.resolve("child.log")
    // the parent's JVM flags (module opens for Spark), a small heap, and
    // the child's own temp dir, which holds its scratch dirs
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Djava.io.tmpdir") || a.startsWith("-agentlib"))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++ flags ++
      Seq("-Xmx512m", s"-Djava.io.tmpdir=$tmp", "-cp", System.getProperty("java.class.path"),
        ArchiveScratchChild.getClass.getName.stripSuffix("$"), tmp.toString)
    val child = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).redirectOutput(log.toFile).start()
    try {
      assert(child.waitFor(180, TimeUnit.SECONDS), "child JVM did not exit")
      val out = Files.readString(log)
      assert(child.exitValue() == 0, out)
      assert(out.contains("rows=2,2 scratch=2"), out) // both dirs existed before exit
      assert(scratchDirs(tmp).isEmpty)
    } finally {
      child.destroyForcibly()
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p): Unit)
    }
  }
}

/** The child JVM of [[ArchiveScratchSpec]]: parses a zip and a tar of one
  * CSV entry each from the dir in `args(0)`, prints their row counts and
  * the scratch dirs in its temp dir, and exits. */
object ArchiveScratchChild {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    val spark = GraftSession.local(cores = 1, shufflePartitions = 1)
    val csv = "a,b\n1,2\n3,4\n".getBytes("UTF-8")
    val zip = dir.resolve("t.zip")
    val z = new ZipOutputStream(Files.newOutputStream(zip))
    z.putNextEntry(new ZipEntry("x.csv")); z.write(csv); z.closeEntry(); z.close()
    val tar = dir.resolve("t.tar")
    Files.write(tar, TarArchiveParser.TarFixtureWriter.archive(Seq("x.csv" -> csv), gzip = false))
    val rows = Seq(ZipArchiveParser.parse(spark, zip.toString, None), TarArchiveParser.parse(spark, tar.toString, None))
      .map(_.count())
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val scratch = Files.list(tmp).iterator().asScala.count(p =>
      Seq("graft_zip_scratch", "graft_tar_scratch").exists(p.getFileName.toString.startsWith))
    println(s"rows=${rows.mkString(",")} scratch=$scratch")
    spark.stop()
  }
}

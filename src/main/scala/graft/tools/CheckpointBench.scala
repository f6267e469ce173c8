package graft.tools

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.ops.TxLog

/** Snapshot-RESOLUTION cost vs live-file count, inline vs sharded
  * checkpoints (round-15 verdict #3's measurement): at 100 TB a table
  * holds ~10^6 AddFiles, and every query's planning starts with
  * `snapshotAt` — one driver-side replay of the newest checkpoint. The
  * inline format parses the whole live set as ONE Jackson tree
  * (single-threaded, one giant allocation); the sharded format streams
  * `checkpoint.d/part-NNNNN.jsonl` parts in parallel. This main
  * fabricates logs of n live files via the commitSynthetic seam
  * (resolution never touches data bytes — writing real parquet would
  * measure nothing extra), forces a checkpoint in each format, and
  * prints two lines per point:
  *
  *  - CKPT: COLD `snapshotAt` (min over reps). Each rep resolves a fresh
  *    copy of the log at a new path, so no per-JVM metadata cache can
  *    answer it: the checkpoint is parsed and the commits after it are
  *    replayed. The claim being graded: per-file resolution cost stays
  *    FLAT as the file count grows 100x, and sharded beats inline at the
  *    top end.
  *  - WARM: after the cold resolve, one more synthetic add is committed
  *    and `snapshotAt` at the new version is timed (min over up to 9
  *    reps, one new commit each) — the steady state of a table that is read
  *    after every commit.
  *
  * Usage: runMain graft.tools.CheckpointBench [counts] [reps]
  * Defaults: 1000,10000,100000  5
  */
object CheckpointBench {

  private def copyLog(from: Path, to: Path): Unit = {
    val src = from.resolve("_graft_log")
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val dst = to.resolve("_graft_log").resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    val counts = args.lift(0).getOrElse("1000,10000,100000")
      .split(",").map(_.trim.toInt).toSeq
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val work = Files.createTempDirectory("graft_ckbench")
    val oldMax = TxLog.CheckpointInlineMax
    val points = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      counts.foreach { n =>
        Seq(("inline", Int.MaxValue), ("sharded", 0)).foreach { case (fmt, max) =>
          TxLog.CheckpointInlineMax = max
          val table = work.resolve(s"t_${fmt}_$n")
          Files.createDirectories(table)
          // empty touch files satisfy the commit-time existence check;
          // resolution itself never opens them
          (0 until n).foreach(i => Files.createFile(table.resolve(s"f$i.parquet")): Unit)
          // v0 carries the bulk; 10 singleton commits force the v10
          // checkpoint that resolution will replay from
          val bulk = (0 until (n - 10)).map(i =>
            TxLog.AddFile(s"f$i.parquet", 100L, i.toLong * 100, i.toLong * 100 + 99,
              cols = Map("doc_id" -> (i.toLong * 100, i.toLong * 100 + 99))))
          TxLog.commitSynthetic(table, bulk): Unit
          (0 until 10).foreach { j =>
            val i = n - 10 + j
            TxLog.commitSynthetic(table, Seq(
              TxLog.AddFile(s"f$i.parquet", 100L, i.toLong * 100, i.toLong * 100 + 99))): Unit
          }
          require(Files.exists(
            table.resolve("_graft_log").resolve(f"v${10L}%020d").resolve("checkpoint.json")),
            s"no checkpoint at v10 for $fmt/$n")
          var cold = Double.MaxValue
          var last = table
          (1 to reps).foreach { r =>
            last = work.resolve(s"t_${fmt}_${n}_cold$r")
            copyLog(table, last)
            val (sec, snap) = timed(TxLog.snapshotAt(last))
            require(snap.files.size == n, s"resolution lost files: ${snap.files.size} != $n")
            cold = math.min(cold, sec)
          }
          var warm = Double.MaxValue
          // v11..v19 at most: the v20 commit writes a checkpoint, which
          // resolves its own snapshot while publishing
          (1 to math.min(reps, 9)).foreach { r =>
            val i = n + r - 1
            Files.createFile(last.resolve(s"f$i.parquet"))
            val v = TxLog.commitSynthetic(last, Seq(
              TxLog.AddFile(s"f$i.parquet", 100L, i.toLong * 100, i.toLong * 100 + 99)))
            val (sec, snap) = timed(TxLog.snapshotAt(last, Some(v)))
            require(snap.files.size == n + r, s"warm resolution lost files: ${snap.files.size}")
            warm = math.min(warm, sec)
          }
          val usPerFile = cold * 1e6 / n
          println(f"CKPT $fmt%-8s files=$n%7d  resolve_min=$cold%7.3f s  us/file=$usPerFile%6.2f")
          println(f"WARM $fmt%-8s files=$n%7d  resolve_min=$warm%7.4f s  (one new commit)")
          points += (f"""{"files":$n,"fmt":"$fmt","sec":$cold%.4f,"us_per_file":$usPerFile%.2f,""" +
            f""""warm_sec":$warm%.5f}""")
        }
      }
    } finally {
      TxLog.CheckpointInlineMax = oldMax
      TxLog.deleteTree(work)
    }
    println(s"""{"metric":"checkpoint_resolution","reps":$reps,"points":[${points.mkString(",")}]}""")
  }
}

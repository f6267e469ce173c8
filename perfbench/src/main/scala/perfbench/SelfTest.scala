package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.domain.{FileToProcess, IngestionError}
import graft.ports.{DataSink, FileSource}
import graft.sources.LocalFileSource

/** Proves the harness cannot hide a defect: each case plants one corrupted
  * outcome in a short run and asserts the checks flag it (error rate above
  * zero, result not correct). Exit code 0 only if every case is flagged. */
object SelfTest {

  /** Drops one row of the first file written. */
  final class DropOneRow(inner: DataSink) extends DataSink {
    private var done = false
    override def write(df: DataFrame, targetTable: String): Long =
      if (done) inner.write(df, targetTable)
      else {
        done = true
        val n = df.count()
        inner.write(df.limit(math.max(0L, n - 1).toInt), targetTable)
      }
  }

  /** Makes the first good csv file throw on resolve. */
  final class ThrowOnce(inner: FileSource) extends FileSource {
    private var done = false
    override def resolve(file: FileToProcess): String =
      if (!done && file.key.endsWith(".csv") && !file.key.contains("no_headers")) {
        done = true
        throw IngestionError.SourceError(s"planted fault on ${file.key}")
      } else inner.resolve(file)
  }

  private def backlogWith(sink: DataSink => DataSink = identity,
      src: FileSource => FileSource = identity): IngestWorkload = new IngestWorkload {
    override def generate(root: Path, seed: Long, seconds: Double, warm: Boolean) =
      Backlog.generate(root, seed, seconds, warm)
    override def source(root: Path): FileSource = src(new LocalFileSource(root.toString))
    override def rig(root: Path, rec: Recorder): Ingest.Rig = new Ingest.Rig(root, rec, sink)
  }

  def run(spark: SparkSession, work: Path): Int = {
    val cases: Seq[(String, Workload, () => Unit)] = Seq(
      ("ingest: a dropped sink row", backlogWith(sink = new DropOneRow(_)), () => ()),
      ("ingest: a good file that throws", backlogWith(src = new ThrowOnce(_)), () => ()),
      ("lake: a deleted doc still served", Lake, () => {
        var skipped = false
        Lake.pruneHook = (s, ix, ks) =>
          if (skipped) graft.ops.TextIndex.pruneDeleted(s, ix, ks): Unit else skipped = true
      }))
    val flagged = cases.zipWithIndex.map { case ((name, w, arm), i) =>
      arm()
      val ctx = new Ctx(spark, 7L, 2.0, tracing = false, work.resolve(s"selftest$i"))
      w.run(ctx)
      val errorRate = ctx.checks.failedOps.toDouble / math.max(1, ctx.rec.ops.size)
      val ok = errorRate > 0 && ctx.checks.failures.nonEmpty
      println(f"selftest ${if (ok) "FLAGGED" else "MISSED "} $name%-36s error_rate=$errorRate%.3f " +
        ctx.checks.failures.headOption.getOrElse(""))
      ok
    }
    // A program defect, reported rather than gated: a malformed whole-file
    // JSON drop takes JsonParser's top-level-scalar fallback and lands as
    // a one-row `value` document instead of failing. The timed workload
    // plants only bad drops the engine refuses; this probe keeps the
    // defect visible until the parser refuses it too.
    val root = work.resolve("probe")
    val drop = Ingest.writeBad(root, "probe", "malformed_json", new java.util.SplittableRandom(7L))
    val rec = new Recorder(false, spark.sparkContext)
    val landed =
      try {
        val res = new Ingest.Rig(root, rec).pipeline(new LocalFileSource(root.toString))
          .processFile(spark, FileToProcess(Ingest.Bucket, drop.key))
        Some(s"${drop.key} landed ${res.rowsWritten} row(s) in ${res.targetTable}")
      } catch { case scala.util.control.NonFatal(_) => None }
      finally rec.endOp(ok = true)
    println("known defect (malformed json drop lands instead of failing): " +
      landed.map("still present - " + _).getOrElse("not reproduced"))
    if (flagged.forall(identity)) { println("selftest: every planted defect was flagged"); 0 }
    else { println("selftest: a planted defect went unflagged"); 1 }
  }
}

package graft.ops

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A text index's scalars and watermark ride its own commits as table
  * properties and source files. Seeded random lifecycles — increments,
  * deletes (with the positional sibling) each followed by its
  * redelivery, maintain, Forget, a zero-copy clone of the whole family
  * and restores of the whole family to an earlier point — are checked
  * after every step against three invariants:
  *
  *  - at EVERY index version v, the `n_docs` and `total_len` properties
  *    equal the distinct docs and the per-doc `dl` sum of the postings
  *    read at v: no prefix of the log disagrees with its rows, so a
  *    crash between any two commits leaves consistent scalars;
  *  - at EVERY index version v, the source files are the corpus files
  *    indexed up to v (a restore or clone carries its version's set),
  *    and the positional sibling's head set equals the index's;
  *  - whenever the dictionary's `refreshed_at` equals the index's
  *    `n_deleted` and no deletion vector is live, the dictionary's df
  *    (summed over its slices) equals the live df of every term. */
class IndexPropsSpec extends SparkSpec {

  private val Family = Seq("tbl", "tbl_text_ix", "tbl_text_ix_pos", "tbl_text_ix_tstats")

  private def docs(r: Random, from: Long, n: Int): DataFrame = {
    import spark.implicits._
    (from until from + n).map { id =>
      (id, Seq.fill(2 + r.nextInt(8)) { val u = r.nextDouble(); s"w${(20 * u * u).toInt}" }
        .mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def keys(ks: Seq[Long]): DataFrame = {
    import spark.implicits._
    ks.toDF("doc_id")
  }

  private def liveIds(corpus: Path): Seq[Long] =
    TxLog.readAt(spark, corpus).select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted

  private def liveFiles(corpus: Path): Set[String] = TxLog.snapshotAt(corpus).files.map(_.path).toSet

  /** The first two invariants at one index version; `sources` is the
    * set the model expects. */
  private def checkVersion(index: Path, v: Long, sources: Set[String], what: String): Unit = {
    assert(TxLog.sourcesAt(index, Some(v)) == sources, s"$what: source files at v$v")
    val p = TxLog.propsAt(index, Some(v))
    val agg = TxLog.readAt(spark, index, Some(v))
      .groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head
    assert((p.get("n_docs"), p.get("total_len")) ==
      ((Some(agg.getLong(0).toString), Some(agg.getLong(1).toString))),
      s"$what: properties at v$v vs the postings at v$v ($p)")
  }

  /** The third invariant at the heads; true when it applied. */
  private def checkDictionary(index: Path, what: String): Boolean = {
    val tstats = index.resolveSibling(index.getFileName.toString + "_tstats")
    val nDeleted = TxLog.propsAt(index).getOrElse("n_deleted", "0")
    val fresh = TxLog.propsAt(tstats).get("refreshed_at").contains(nDeleted) &&
      !TxLog.snapshotAt(index).files.exists(_.dv.isDefined)
    if (fresh) {
      val dict = TxLog.readAt(spark, tstats).groupBy("term").agg(sum(col("df")).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val live = TxLog.readAt(spark, index).groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dict.filter(_._2 > 0) == live, s"$what: dictionary df vs live df")
    }
    fresh
  }

  for (seed <- Seq(21, 22)) test(s"random index lifecycles keep every version's properties exact (seed $seed)") {
    val r = new Random(seed)
    var base = Files.createTempDirectory(s"graft_ixprops$seed")
    def corpus = base.resolve("tbl")
    def index = base.resolve("tbl_text_ix")
    var next = 0L
    // the model of the watermark: the expected source files per index
    // version, extended to each new version by the step that made it
    var expect = mutable.Map(-1L -> Set.empty[String])
    def note(sources: Set[String]): Unit =
      (expect.keys.max + 1 to TxLog.latestVersion(index)).foreach(v => expect(v) = sources)
    def latest: Set[String] = expect(expect.keys.max)
    def increment(): Unit = {
      val n = 10 + r.nextInt(20)
      TxLog.append(spark, docs(r, next, n), corpus, "doc_id", nParts = 2): Unit
      next += n
      val v0 = TxLog.latestVersion(index)
      TextIndex.ensureIndexed(spark, corpus, index): Unit
      assert(TxLog.latestVersion(index) == v0 + 1, "an increment is one index commit")
      note(latest ++ liveFiles(corpus))
      TextIndex.ensurePositional(spark, corpus, index): Unit
    }
    increment()
    var checkedTo = -1L
    def heads: Map[String, Long] = Family.map(t => t -> TxLog.latestVersion(base.resolve(t))).toMap
    var marks = mutable.ArrayBuffer(heads)
    var dictChecks = 0
    val done = mutable.LinkedHashMap.empty[String, Int]
    // every op at least once, in a seeded order
    val schedule = r.shuffle(Seq.fill(4)("increment") ++ Seq.fill(4)("prune") ++
      Seq.fill(2)("maintain") ++ Seq.fill(2)("forget") ++ Seq("clone") ++ Seq.fill(3)("restore"))
    for ((planned, step) <- schedule.zipWithIndex) {
      val what = s"seed $seed step $step"
      val live = liveIds(corpus)
      val op = planned match {
        case "prune" if live.nonEmpty =>
          val ks = r.shuffle(live).take(1 + r.nextInt(4)) :+ -7L // plus a never-written key
          TxLog.deleteMor(spark, corpus, keys(ks), "doc_id"): Unit
          assert(TextIndex.pruneDeleted(spark, index, keys(ks)) > 0L, s"$what: prune")
          // redelivered: no version anywhere
          val before = heads
          assert(TextIndex.pruneDeleted(spark, index, keys(ks)) == 0L)
          assert(heads == before, s"$what: a redelivered delete committed")
          note(latest)
          "prune"
        case "maintain" =>
          TextIndex.maintain(spark, corpus, index, vacuumKeep = 1000): Unit
          note(latest ++ liveFiles(corpus))
          "maintain"
        case "forget" if live.nonEmpty =>
          val ks = r.shuffle(live).take(1 + r.nextInt(3))
          val n0 = TextIndex.corpusStats(index)._1
          val rep = Forget.forget(spark, base, "tbl", keys(ks), "doc_id")
          assert(rep.postingsDeleted == ks.size.toLong && TextIndex.corpusStats(index)._1 == n0 - ks.size,
            s"$what: forget")
          note(latest)
          "forget"
        case "clone" =>
          // the whole family, cloned zero-copy: the clone carries the
          // properties and source files of every table it copies
          val to = Files.createTempDirectory(s"graft_ixprops${seed}c")
          Family.foreach(t => TxLog.cloneTable(spark, base.resolve(t), to.resolve(t)): Unit)
          Family.foreach { t =>
            assert(TxLog.propsAt(to.resolve(t)) == TxLog.propsAt(base.resolve(t)), s"$what: clone of $t")
            assert(TxLog.sourcesAt(to.resolve(t)) == TxLog.sourcesAt(base.resolve(t)),
              s"$what: clone of $t")
          }
          base = to
          checkedTo = -1L
          marks = mutable.ArrayBuffer.empty
          expect = mutable.Map(-1L -> latest)
          note(latest)
          "clone"
        case "restore" =>
          // the whole family restored to an earlier consistent point
          if (marks.size < 2) { increment(); marks += heads }
          val mark = marks(r.nextInt(marks.size - 1))
          Family.foreach { t =>
            if (TxLog.latestVersion(base.resolve(t)) != mark(t))
              TxLog.restore(spark, base.resolve(t), mark(t)): Unit
            assert(TxLog.propsAt(base.resolve(t)) == TxLog.propsAt(base.resolve(t), Some(mark(t))),
              s"$what: restore of $t")
          }
          note(expect(mark("tbl_text_ix")))
          "restore"
        case _ => increment(); "increment"
      }
      done(op) = done.getOrElse(op, 0) + 1
      val head = TxLog.latestVersion(index)
      (checkedTo + 1 to head).foreach(v => checkVersion(index, v, expect(v), s"$what ($op)"))
      checkedTo = head
      assert(TxLog.sourcesAt(base.resolve("tbl_text_ix_pos")) == TxLog.sourcesAt(index),
        s"$what ($op): positional watermark")
      if (checkDictionary(index, s"$what ($op)")) dictChecks += 1
      marks += heads
    }
    // cold: every version folded again from checkpoints and commits
    StampedCache.clearAllForTest()
    TxLog.versions(index).foreach(v => checkVersion(index, v, expect(v), s"seed $seed, cold"))
    assert(dictChecks > 0, "the dictionary invariant never applied")
    assert(Seq("increment", "prune", "maintain", "forget", "clone", "restore").forall(done.contains),
      s"ops run: $done")
  }
}

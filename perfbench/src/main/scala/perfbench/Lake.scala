package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.{TextIndex, TxLog}

/** `lake_churn_serve`: a TxLog corpus of synthetic documents with a
  * persisted BM25 text index, churned by a fixed round script while top-k
  * queries are served beside it — the incremental top-k setting of an
  * interactive analysis session. Calls into `TxLog` and `TextIndex` are
  * timed directly. */
object Lake extends Workload {

  /** Vocabulary size and Zipf exponent of document and query terms. */
  val Vocab = 5000
  val ZipfS = 1.0
  /** Tokens per document, uniform in [MinLen, MaxLen]. */
  val MinLen = 20
  val MaxLen = 60
  val SeedDocs = 2000
  val AppendDocs = 200
  val DeleteDocs = 30
  val K = 10
  /** Op time of one script cycle on a 4-core VM, warm (11-18 s). */
  val NominalCycleS = 10.0
  def cycles(seconds: Double): Int = math.max(1, math.round(seconds / NominalCycleS).toInt)

  /** Zipf sampler over ranks 1..n (inverse CDF by binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = cdf.length - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      lo + 1
    }
  }

  /** The generator: doc texts, query terms and delete keys, all from the
    * seed. Every increment carries one sentinel doc with a token that no
    * other doc has, so visibility and deletion can be checked exactly. */
  final class Gen(seed: Long) {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(Vocab, ZipfS)
    private var nextId = 0L
    def term(): String = s"t${zipf.draw(r)}"
    def sentinel(inc: Int): String = s"sentinel${seed.abs}x$inc"
    /** `n` new docs; the first is the increment's sentinel. */
    def docs(n: Int, inc: Int): Seq[(Long, String)] = (0 until n).map { i =>
      val len = MinLen + r.nextInt(MaxLen - MinLen + 1)
      val words = Seq.fill(len)(term())
      val id = nextId; nextId += 1
      id -> (if (i == 0) (sentinel(inc) +: words.tail) else words).mkString(" ")
    }
    /** One Zipf-drawn term from each rank band (distinct, as the bands
      * are disjoint). */
    def query(bands: Seq[(Int, Int)]): Seq[String] = bands.map { case (lo, hi) =>
      var k = zipf.draw(r)
      while (k < lo || k > hi) k = zipf.draw(r)
      s"t$k"
    }
  }

  val Schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def frame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map { case (id, t) => Row(id, t) }, 1), Schema)

  def keys(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("doc_id")
  }

  /** The index's sibling tables: every one of them commits. */
  def tables(corpus: Path, index: Path): Seq[Path] =
    corpus +: Seq("", "_stats", "_files", "_meta", "_tstats", "_tstats_meta")
      .map(s => index.resolveSibling(index.getFileName.toString + s))

  /** The live corpus as the script knows it. */
  final class Live {
    val sentinelOf = mutable.LinkedHashMap.empty[Long, String] // live sentinel doc -> token
    val bytes = mutable.HashMap.empty[Long, Long]
    val dead = mutable.HashSet.empty[Long]
    def add(docs: Seq[(Long, String)], sentinel: String): Unit = {
      docs.foreach { case (id, t) => bytes(id) = 8L + t.getBytes("UTF-8").length }
      sentinelOf(docs.head._1) = sentinel
    }
    def remove(ids: Seq[Long]): Unit = ids.foreach { id =>
      bytes.remove(id); sentinelOf.remove(id); dead += id
    }
    def liveBytes: Long = bytes.values.sum
  }

  /** A test hook: the self-test swaps this to skip index pruning once. */
  @volatile var pruneHook: (SparkSession, Path, DataFrame) => Unit =
    (spark, index, ks) => TextIndex.pruneDeleted(spark, index, ks): Unit

  /** The round script, repeated until the window's op time is used up:
    * an append made searchable, a read-your-write query on its sentinel,
    * Zipf-drawn queries of 1 and 2 terms and a 3-term fetch, a delete made
    * unsearchable, a query on the deleted sentinel, and `maintain` between
    * two runs of the fixed sample query. */
  val Cycle: Seq[String] = Seq("append", "search_new", "search1", "search2", "fetch",
    "delete", "search_gone", "search_sample", "maintain", "search_sample")

  /** Rank bands of the query terms. Each query takes one Zipf-drawn term
    * from each of its bands, so every run's queries mix the same
    * posting-list lengths: a free draw makes a 1-term query a head term a
    * third of the time, and the cost of a cycle then depends on the seed
    * more than on the program. */
  val Head = (1, 10)
  val Middle = (11, 100)
  val Tail = (101, Vocab)
  val QueryBands: Map[String, Seq[(Int, Int)]] = Map(
    "search1" -> Seq(Middle), "search2" -> Seq(Head, Tail), "fetch" -> Seq(Head, Middle, Tail))

  /** The fixed cross-check query: a head, a middle and a tail term by
    * rank, the same on every seed. */
  val Sample: Seq[String] = Seq("t2", "t30", "t400")

  override def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val c = ctx.checks
    // set-up: generate the seed corpus and build the corpus + index
    val gen = new Gen(ctx.seed)
    val live = new Live
    val corpus = ctx.work.resolve("lake").resolve("corpus")
    val index = ctx.work.resolve("lake").resolve("ix")
    ctx.timeSetup("seed_s") {
      val seed = gen.docs(SeedDocs, 0)
      TxLog.append(spark, frame(spark, seed), corpus, "doc_id", nParts = 4)
      TextIndex.ensureIndexed(spark, corpus, index): Unit
      live.add(seed, gen.sentinel(0))
    }
    var inc = 0
    var trace = LakeTrace()
    val tabs = tables(corpus, index)
    def versions(): Seq[Long] = tabs.map(TxLog.latestVersion)

    /** One op of the script; in traced runs the commits it published are
      * counted from the log, outside its timed interval. */
    def op[T](kind: String, label: String)(body: => T): Option[(Int, T)] = {
      val v0 = if (rec.tracing) versions() else Nil
      val id = rec.beginOp(kind, label)
      val out =
        try { val r = rec.span(kind)(body); rec.endOp(ok = true); Some((id, r)) }
        catch {
          case e: Exception =>
            rec.endOp(ok = false)
            c.fail(id, s"$label threw ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      if (rec.tracing)
        trace.commits(kind) = trace.commits.getOrElse(kind, 0L) +
          versions().zip(v0).map { case (a, b) => a - b }.sum
      out
    }

    def blockMax(terms: Seq[String]): (Seq[(Long, Double)], TextIndex.BlockMaxReport) = {
      val (df, rep) = rec.span("textindex.search_blockmax") {
        TextIndex.searchBm25BlockMax(spark, index, terms, K)
      }
      (rec.span("collect")(df.collect()).map(r => (r.getLong(0), r.getDouble(1))).toSeq, rep)
    }

    /** A timed top-k query, fully collected; served docs must be live. */
    def search(terms: Seq[String]): Option[(Int, Seq[(Long, Double)])] =
      op("search", s"search ${terms.mkString(" ")}") {
        val (hits, rep) = blockMax(terms)
        trace.reports += rep
        hits
      }.map { case (id, hits) =>
        c.expect(hits.size <= K && hits.forall(h => !live.dead(h._1)), id,
          s"search ${terms.mkString(" ")} served deleted docs " +
            hits.map(_._1).filter(live.dead).mkString(","))
        if (rec.tracing)
          trace.filesPerTerm ++= terms.map(t => TextIndex.filesForTerm(spark, index, t).toDouble)
        (id, hits)
      }

    def exact(terms: Seq[String]): Seq[(Long, Double)] =
      TextIndex.searchBm25(spark, index, terms, K).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    var newest: (Long, String) = (-1L, "")
    var gone: Seq[String] = Nil
    var warming = true
    val sample = Sample

    def step(name: String): Unit = name match {
      case "append" =>
        inc += 1
        val docs = gen.docs(AppendDocs, inc)
        op("append", s"append increment $inc") {
          rec.span("txlog.append")(TxLog.append(spark, frame(spark, docs), corpus, "doc_id", nParts = 1))
          rec.span("textindex.ensure")(TextIndex.ensureIndexed(spark, corpus, index))
        }.foreach { _ =>
          live.add(docs, gen.sentinel(inc))
          trace.appended += docs.size
          newest = (docs.head._1, gen.sentinel(inc))
        }
      case "search_new" =>
        // read-your-write: the increment is searchable once ensureIndexed returns
        search(Seq(newest._2)).foreach { case (id, hits) =>
          c.expect(hits.map(_._1) == Seq(newest._1), id, s"sentinel ${newest._2} returned " +
            s"${hits.map(_._1).mkString(",")}, expected ${newest._1}")
        }
      case "search1" | "search2" => search(gen.query(QueryBands(name)))
      case "fetch" =>
        val q = gen.query(QueryBands("fetch"))
        op("fetch", s"fetch ${q.mkString(" ")}") {
          val df = rec.span("textindex.fetch")(TextIndex.fetchTopDocs(spark, corpus, index, q, K))
          rec.span("collect")(df.collect())
        }.foreach { case (id, rows) =>
          val ids = rows.map(_.getAs[Long]("doc_id"))
          c.expect(rows.length <= K && ids.forall(i => !live.dead(i)) &&
              rows.forall(r => r.getAs[String]("text") != null), id,
            s"fetch ${q.mkString(" ")} returned deleted or empty docs")
        }
      case "delete" =>
        // the oldest live sentinel doc, then random live keys
        val sentinel = live.sentinelOf.head
        val pool = live.bytes.keys.toVector.sorted
        val ids = (sentinel._1 +: Seq.fill(DeleteDocs)(pool(gen.r.nextInt(pool.size)))).distinct
        op("delete", s"delete ${ids.size} docs") {
          val ks = keys(spark, ids)
          rec.span("txlog.delete_mor")(TxLog.deleteMor(spark, corpus, ks, "doc_id"))
          rec.span("textindex.prune")(pruneHook(spark, index, ks))
        }.foreach { _ =>
          live.remove(ids)
          trace.deleted += ids.size
          gone = Seq(sentinel._2)
        }
      case "search_gone" =>
        search(gone).foreach { case (id, hits) =>
          c.expect(hits.isEmpty, id, s"deleted sentinel ${gone.mkString} still served by " +
            hits.map(_._1).mkString(","))
        }
      case "search_sample" =>
        // block-max top-k must equal exact top-k (checked untimed, and
        // only in the timed cycles: the exact query is the slowest check)
        search(sample).filter(_ => !warming).foreach { case (id, hits) =>
          val ex = exact(sample)
          c.expect(hits == ex, id, s"block-max top-$K of ${sample.mkString(" ")} differs from " +
            s"exact (${hits.map(_._1).mkString(",")} vs ${ex.map(_._1).mkString(",")})")
        }
      case "maintain" =>
        // the deletion vectors maintain is about to fold
        if (rec.tracing) trace.dvFiles += TxLog.snapshotAt(index).files.count(_.dv.isDefined).toDouble
        op("maintain", "maintain")(rec.span("textindex.maintain")(TextIndex.maintain(spark, corpus, index)))
    }

    // warm-up: one pass of the script on the seeded lake
    ctx.timeSetup("warmup_s")(Cycle.foreach(step))
    warming = false
    trace = LakeTrace()
    rec.ops.clear()
    rec.spans.clear()
    // a whole number of cycles, one per NominalCycleS of --seconds: every
    // run of one configuration replays the same script and churn, however
    // fast the machine; the rates count op time only (the untimed checks
    // between ops neither enter them nor the latencies)
    ctx.windowStart = Clock.now
    (1 to cycles(ctx.seconds)).foreach(_ => Cycle.foreach(step))
    ctx.windowEnd = Clock.now
    ctx.listener.foreach(_.settle())
    metrics(ctx, rec.ops.toSeq, live, corpus, index, tabs, trace)
  }

  private def metrics(ctx: Ctx, ops: Seq[Op], live: Live, corpus: Path, index: Path,
      tabs: Seq[Path], trace: LakeTrace): Unit = {
    val window = ops.map(_.ms).sum / 1000
    def samples(kind: String) = ops.filter(_.kind == kind)
      .map(o => if (o.ok) o.ms else math.max(o.ms, window * 1000))
    val all = ops.map(o => if (o.ok) o.ms else math.max(o.ms, window * 1000))
    val writes = Seq("append", "delete", "maintain").flatMap(samples)
    val onDisk = tabs.map(Layers.treeBytes).sum
    val e = ctx.endToEnd
    val appended = ops.count(o => o.kind == "append" && o.ok) * AppendDocs
    e("rows_per_s") = (appended / window, "rows/s")
    e("ops_per_s") = (ops.size / window, "1/s")
    e("op_ms_gmean") = (Stats.gmean(all), "ms")
    e("write_ms_gmean") = (Stats.gmean(writes), "ms")
    val tailPct = Stats.tailPct(all.size)
    ctx.layer("tail.op_ms") = Stats.pct(all, tailPct)
    e("space_amp") = (onDisk.toDouble / math.max(1L, live.liveBytes), "ratio")
    ctx.info("tail_pct") = tailPct
    ctx.info("op_samples") = all.size
    ctx.info("write_samples") = writes.size
    ctx.info("ops") = ops.groupBy(_.kind).map { case (k, xs) => k -> xs.size }
    ctx.info("window_s") = window
    ctx.info("op_ms") = ops.map(o => s"${o.kind}:${math.round(o.ms)}")
    ctx.info("live_docs") = live.bytes.size
    trace.corpus = corpus
    trace.index = index
    trace.tables = tabs
    trace.liveBytes = live.liveBytes
    ctx.lake = Some(trace)
  }
}

/** What the per-layer report needs from a lake run. */
final case class LakeTrace(
    commits: mutable.Map[String, Long] = mutable.Map.empty,
    reports: mutable.ArrayBuffer[TextIndex.BlockMaxReport] = mutable.ArrayBuffer.empty,
    filesPerTerm: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty,
    dvFiles: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty) {
  var appended = 0L
  var deleted = 0L
  var corpus: Path = _
  var index: Path = _
  var tables: Seq[Path] = Nil
  var liveBytes = 0L
}

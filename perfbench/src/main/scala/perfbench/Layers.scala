package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the recorded ops and spans, the
  * Spark listener's jobs, and counts taken from the file system. Every
  * metric is printed on every workload: a layer a workload never calls
  * reads 0, which is how the trace shows layer separation. */
object Layers {

  val SparkOps: Seq[String] = Seq("file", "append", "delete", "maintain", "search", "fetch")
  val CommitOps: Seq[String] = Seq("append", "delete", "maintain")

  /** Names and units of every per-layer metric, in report order. */
  val Metrics: Seq[(String, String)] =
    Seq("streaming.batch_overhead_ms" -> "ms", "streaming.jobs_per_batch" -> "count",
      "rules.match_us" -> "us", "sources.resolve_us" -> "us") ++
    Ingest.Formats.flatMap(f => Seq(s"parsers.self_ms.$f" -> "ms", s"parsers.jobs.$f" -> "count")) ++
    Ingest.Formats.map(f => s"sinks.write_ms.$f" -> "ms") ++
    Seq("sinks.files_per_write" -> "count", "sinks.bytes_per_row" -> "bytes",
      "sinks.audit_ms" -> "ms") ++
    SparkOps.flatMap(o => Seq(s"spark.jobs.$o" -> "count", s"spark.job_ms.$o" -> "ms",
      s"spark.driver_gap_ms.$o" -> "ms", s"spark.tasks.$o" -> "count",
      s"spark.shuffle_bytes.$o" -> "bytes")) ++
    Seq("spark.core_busy_frac" -> "fraction",
      "txlog.append_ms" -> "ms", "txlog.delete_mor_ms" -> "ms") ++
    CommitOps.map(o => s"txlog.commits.$o" -> "count") ++
    Seq("txlog.checkpoints" -> "count", "txlog.log_bytes" -> "bytes",
      "textindex.ensure_ms" -> "ms", "textindex.prune_ms" -> "ms",
      "textindex.maintain_ms" -> "ms", "textindex.files_read_frac" -> "fraction",
      "textindex.fallback_frac" -> "fraction", "textindex.files_per_term" -> "count",
      "textindex.dv_files" -> "count",
      "lake.data_bytes" -> "bytes", "lake.index_bytes" -> "bytes", "lake.sidecar_bytes" -> "bytes",
      "lake.append_ms_p50" -> "ms", "lake.delete_ms_p50" -> "ms", "lake.maintain_ms_p50" -> "ms",
      "lake.search_ms_p50" -> "ms", "lake.search_ms_tail" -> "ms", "lake.fetch_ms_p50" -> "ms",
      "ingest.file_ms_p50" -> "ms", "tail.op_ms" -> "ms", "checks.error_rate" -> "fraction",
      "trace.accounted_frac" -> "fraction",
      "setup.session_s" -> "s", "setup.generate_s" -> "s", "setup.seed_s" -> "s",
      "setup.warmup_s" -> "s")

  /** Bytes of every regular file under `root`. */
  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def countFiles(root: Path, name: String): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count(_.getFileName.toString == name).toLong
      finally s.close()
    }

  /** Self time of a span: its duration minus the union of its children. */
  def selfMs(sp: Span, children: Map[Int, Seq[Span]]): Double =
    sp.ms - Stats.unionMs(children.getOrElse(sp.id, Nil).map(c => (c.startMs, c.endMs)))

  /** Mean self time per op, by op kind and span name — the layer split
    * written beside the metrics in traced runs. */
  def selfTimes(ctx: Ctx): Map[String, Map[String, Double]] = {
    val spans = ctx.rec.spans.toSeq
    val children = spans.groupBy(_.parent)
    ctx.rec.ops.groupBy(_.kind).map { case (kind, ops) =>
      val ids = ops.map(_.id).toSet
      val mine = spans.filter(s => ids(s.op))
      val byName = mine.groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(selfMs(_, children)).sum / ops.size }
      // op wall the spans do not cover: harness bookkeeping
      val roots = opRoots(mine)
      val outside = ops.map { o =>
        o.ms - Stats.unionMs(roots.filter(_.op == o.id).map(r => (r.startMs, r.endMs)))
      }.sum / ops.size
      kind -> (byName + ("(outside spans)" -> outside) +
        ("(op wall)" -> ops.map(_.ms).sum / ops.size))
    }
  }

  /** Each op's outermost spans: no parent, or a parent outside the op. */
  def opRoots(spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter(s => s.op >= 0 && byId.get(s.parent).forall(_.op != s.op))
  }

  def perLayer(ctx: Ctx): mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    Metrics.foreach { case (n, _) => m(n) = 0.0 }
    val rec = ctx.rec
    val spans = rec.spans.toSeq
    val children = spans.groupBy(_.parent)
    val ops = rec.ops.toSeq
    def meanSpan(name: String): Double = Stats.mean(spans.filter(_.name == name).map(_.ms))
    val jobs = ctx.listener.map(_.all).getOrElse(Nil)
      .filter(j => j.startMs >= ctx.windowStart && j.startMs <= ctx.windowEnd)
    def jobsOf(kind: String, id: Int) = jobs.filter(_.op == s"$kind#$id")

    // ---- Spark engine, per op kind
    SparkOps.foreach { kind =>
      val os = ops.filter(_.kind == kind)
      if (os.nonEmpty) {
        val per = os.map { o =>
          val js = jobsOf(kind, o.id)
          val busy = Stats.unionMs(js.map(j => (j.startMs, if (j.endMs.isNaN) o.endMs else j.endMs)))
          (js.size.toDouble, busy, o.ms - busy, js.map(_.tasks).sum.toDouble,
            js.map(_.shuffleBytes).sum.toDouble)
        }
        m(s"spark.jobs.$kind") = Stats.mean(per.map(_._1))
        m(s"spark.job_ms.$kind") = Stats.mean(per.map(_._2))
        m(s"spark.driver_gap_ms.$kind") = Stats.mean(per.map(_._3))
        m(s"spark.tasks.$kind") = Stats.mean(per.map(_._4))
        m(s"spark.shuffle_bytes.$kind") = Stats.mean(per.map(_._5))
      }
    }
    val windowMs = ctx.windowEnd - ctx.windowStart
    m("spark.core_busy_frac") =
      jobs.map(_.runMs).sum.toDouble / math.max(1.0, windowMs * Main.cores)

    // ---- ingestion layers
    ctx.ingest.foreach { it =>
      val runs = it.runs
      m("rules.match_us") = meanSpan("rules.match") * 1000
      m("sources.resolve_us") = meanSpan("sources.resolve") * 1000
      val fileSpans = spans.filter(_.name == "file").map(s => s.op -> s).toMap
      Ingest.Formats.foreach { f =>
        val rs = runs.filter(_.drop.fmt == f)
        if (rs.nonEmpty) {
          m(s"parsers.self_ms.$f") =
            Stats.mean(rs.flatMap(r => fileSpans.get(r.op.id)).map(selfMs(_, children)))
          m(s"parsers.jobs.$f") = Stats.mean(rs.map { r =>
            val writeStart = spans.find(s => s.op == r.op.id && s.name == "sinks.write")
              .map(_.startMs).getOrElse(r.op.endMs)
            jobsOf("file", r.op.id).count(_.startMs < writeStart).toDouble
          })
          val writes = spans.filter(s => s.name == "sinks.write" && rs.exists(_.op.id == s.op))
          m(s"sinks.write_ms.$f") = Stats.mean(writes.map(_.ms))
        }
      }
      val adds = it.sinkAdds.values.toSeq
      m("sinks.files_per_write") = Stats.mean(adds.map(_._1.toDouble))
      m("sinks.bytes_per_row") = adds.map(_._2).sum.toDouble / math.max(1L, adds.map(_._3).sum)
      m("sinks.audit_ms") = spans.filter(_.name == "sinks.audit").map(_.ms).sum / math.max(1, runs.size)
      val filesOf = runs.groupBy(r => it.polls.indexWhere(p => r.op.startMs >= p._1 && r.op.endMs <= p._2))
      m("streaming.batch_overhead_ms") = Stats.mean(it.polls.indices.map { i =>
        val (s, e) = it.polls(i)
        (e - s) - filesOf.getOrElse(i, Nil).map(_.op.ms).sum
      })
      m("streaming.jobs_per_batch") =
        jobs.count(_.op.startsWith("poll#")).toDouble / math.max(1, it.polls.size)
    }

    // ---- lake layers
    ctx.lake.foreach { lt =>
      val nOps = (k: String) => ops.count(_.kind == k)
      m("txlog.append_ms") = meanSpan("txlog.append")
      m("txlog.delete_mor_ms") = meanSpan("txlog.delete_mor")
      CommitOps.foreach(k => m(s"txlog.commits.$k") =
        lt.commits.getOrElse(k, 0L).toDouble / math.max(1, nOps(k)))
      m("txlog.checkpoints") = lt.tables.map(t => countFiles(t.resolve("_graft_log"), "checkpoint.json")).sum.toDouble
      m("txlog.log_bytes") = lt.tables.map(t => treeBytes(t.resolve("_graft_log"))).sum.toDouble
      m("textindex.ensure_ms") = meanSpan("textindex.ensure")
      m("textindex.prune_ms") = meanSpan("textindex.prune")
      m("textindex.maintain_ms") = meanSpan("textindex.maintain")
      val reps = lt.reports.toSeq
      val counted = reps.filter(r => !r.fellBack && r.filesFull > 0)
      m("textindex.files_read_frac") =
        counted.map(_.filesRead).sum.toDouble / math.max(1, counted.map(_.filesFull).sum)
      m("textindex.fallback_frac") = reps.count(_.fellBack).toDouble / math.max(1, reps.size)
      m("textindex.files_per_term") = Stats.mean(lt.filesPerTerm.toSeq)
      m("textindex.dv_files") = Stats.mean(lt.dvFiles.toSeq)
      val dataBytes = treeBytes(lt.corpus)
      val indexBytes = treeBytes(lt.index)
      m("lake.data_bytes") = dataBytes.toDouble
      m("lake.index_bytes") = indexBytes.toDouble
      m("lake.sidecar_bytes") = (lt.tables.map(treeBytes).sum - dataBytes - indexBytes).toDouble
      def p(kind: String, q: Double) = {
        val xs = ops.filter(_.kind == kind).map(_.ms)
        if (xs.isEmpty) 0.0 else Stats.pct(xs, q)
      }
      m("lake.append_ms_p50") = p("append", 50)
      m("lake.delete_ms_p50") = p("delete", 50)
      m("lake.maintain_ms_p50") = p("maintain", 50)
      m("lake.search_ms_p50") = p("search", 50)
      m("lake.search_ms_tail") = p("search", Stats.tailPct(ops.count(_.kind == "search")))
      m("lake.fetch_ms_p50") = p("fetch", 50)
    }

    ctx.layer.foreach { case (k, v) => m(k) = v }
    m("checks.error_rate") = ctx.checks.failedOps.toDouble / math.max(1, ops.size)
    val roots = opRoots(spans)
    m("trace.accounted_frac") =
      roots.map(_.ms).sum / math.max(1e-9, ops.filter(o => roots.exists(_.op == o.id)).map(_.ms).sum)
    ctx.setupParts.foreach { case (k, v) => m(s"setup.${k.stripSuffix("_s")}_s") = v }
    ctx.info("self_ms") = selfTimes(ctx)
    val units = Metrics.toMap
    m.map { case (k, v) => k -> (v, units(k)) }
  }

  /** Writes every recorded span, one JSON object per line. */
  def writeSpans(ctx: Ctx, out: Path): Unit = {
    Files.createDirectories(out.toAbsolutePath.getParent)
    val opKind = ctx.rec.ops.map(o => o.id -> o.kind).toMap
    val lines = ctx.rec.spans.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "op_kind" -> opKind.getOrElse(s.op, ""), "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)).s
    }
    Files.write(out, lines.asJava)
  }
}

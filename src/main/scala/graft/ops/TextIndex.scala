package graft.ops

import java.nio.file.Path
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** PERSISTED INVERTED TEXT INDEX over a TxLog corpus table — the
  * sparse-retrieval (Lucene-shaped) architecture re-expressed as lake
  * relations, the text twin of [[BloomIndex]]:
  *
  *  - `<index>`: the POSTINGS table — one row per (document, term):
  *    (term_hash, term, doc_id, tf, dl), written range-CLUSTERED by
  *    term_hash so a query term's postings resolve through the log's
  *    footer [min,max] pruning to ~one file — the posting-list seek of
  *    an inverted index, expressed as ordinary stats skipping;
  *    The postings table's properties ([[TxLog.propsAt]]) carry the
  *    corpus-global scalars BM25 needs — `n_docs` and `total_len` (N,
  *    avgdl) — `n_deleted`, the docs deletes removed since the
  *    build, and `increments`, the postings commits that added rows,
  *    each set by the postings commit that changes it; and the
  *    corpus binding `id_col`, `text_col`, `n_clusters`, set by the
  *    first postings commit. A crash can never leave them disagreeing
  *    with the postings of any version;
  *    The postings log's source files are the indexed corpus files,
  *    the watermark of [[DerivedIndex.pending]]: each increment's names
  *    ride the postings commit that indexes them;
  *  - `<index>_tstats`: the term dictionary [[searchBm25BlockMax]]
  *    prunes with; its `refreshed_at` property is the index's
  *    `n_deleted` as of the postings its exact rebuild read, and its
  *    `increments` property the index's `increments` its slices cover.
  *
  * SERVING never touches the corpus: [[searchBm25]] reads the query
  * terms' pruned postings + N and avgdl from the same postings version,
  * and produces EXACTLY
  * the ranking of the in-query BM25 (t14 — same tokenizer, same
  * always-positive idf, same k1/b, same round-6 + doc_id tie-break), so
  * one DuckDB oracle cross-gates the scan path and the index path.
  * Query cost tracks the query terms' posting lists, not the corpus —
  * the property that makes retrieval over 100 TB feasible.
  *
  * SERVING ON THE DRIVER: a top-k query reads a few footer-pruned files
  * and ranks a few thousand postings, which a Spark job turns into
  * mostly scheduling and driver gaps. [[searchBm25BlockMax]] (and
  * [[fetchTopDocs]]'s ranking) therefore runs wholly on the driver —
  * parquet-mr reads via [[TxLog.readLocal]], the driver twin of the
  * BM25 readout, a local-relation result, zero Spark jobs — whenever
  * the on-disk bytes of the query terms' dictionary files plus their
  * full postings file set are at most [[DriverServeBytes]], the measured
  * size up to which that beats the same plan run through Spark. Larger
  * queries run the plan through Spark. [[searchBm25]] always runs on
  * Spark: it is the independent exact reference the others are checked
  * against.
  *
  * Maintenance: [[ensureIndexed]] and [[ensurePositional]] index the
  * increment [[DerivedIndex.pending]] finds, keyed on doc_id, and
  * publish it through [[DerivedIndex.commit]]: idempotent under
  * redelivery and correct across corpus compaction. [[pruneDeleted]]
  * merge-on-read deletes the
  * postings of removed documents (churn-sized — the caller knows its
  * deleted keys, the GDPR flow). All document-granular: corpus
  * compaction never invalidates postings the way it invalidates
  * file-granular bloom rows.
  *
  * The reference has no text indexing (its documents are opaque JSON,
  * SURVEY §1.1); this exists for the LLM-pipeline pillar's retrieval
  * primitives (decontamination, hard-negative mining, dedup-by-query).
  *
  * CONCURRENCY CONTRACT: maintenance (ensureIndexed / ensurePositional
  * / pruneDeleted / maintain) assumes a SINGLE maintainer per index —
  * the standard shape for derived-artifact jobs (one stream, one cron).
  * Within that contract every entry point is idempotent under crash
  * and redelivery ([[DerivedIndex.pending]]; prune no-ops on
  * already-pruned keys). Two maintainers racing the SAME index could
  * each observe the pre-append watermark and double-index a file —
  * serialize them upstream (the streaming twins do: one query, ordered
  * micro-batches). SERVING is lock-free and always consistent: every
  * read resolves one committed snapshot.
  */
object TextIndex {

  private def tstatsDir(index: Path): Path = index.resolveSibling(index.getFileName + "_tstats")

  /** Range-MONOTONE cluster bucket of term_hash. Clustering by the raw
    * column would hash-partition it (repartition's exchange), giving
    * every file a near-full-range footer [min,max] on a real vocabulary
    * — pruning power only by accident. The arithmetic shift keeps
    * bucket order = term_hash order, so each clustered write's files
    * are DISJOINT slices of the signed-64 term_hash axis and a term
    * lookup prunes to exactly one file per clustered file-set. */
  private def clusterBucket(n: Int): org.apache.spark.sql.Column =
    expr(s"int(((shiftright(term_hash, 32) + 2147483648L) * ${n}L) div 4294967296L)")

  /** The index's self-describing corpus binding (id/text column, cluster
    * count), set by the first postings commit so lifecycle maintenance
    * can re-index new corpus files without the caller re-stating them.
    * None when no commit set it — maintenance must NOT guess a binding
    * (a legacy index built with non-default columns would be silently
    * re-indexed under the wrong one, corrupting postings). */
  private def binding(index: Path): Option[(String, String, Int)] = {
    val p = TxLog.propsAt(index)
    p.get("id_col").map(id => (id, p("text_col"), p("n_clusters").toInt))
  }

  /** Whether the index carries its self-describing binding — the gate
    * auto-maintenance must check before driving [[maintain]]. */
  def hasBinding(index: Path): Boolean = binding(index).isDefined

  /** The index's corpus scalars at one postings version; `increments`
    * counts the postings commits that added rows. */
  private final case class Scalars(nDocs: Long, totalLen: Long, nDeleted: Long,
      increments: Long)

  /** [[Scalars]] from the index's properties at `version` (latest when
    * None). An index with postings but no `n_docs` property was built
    * with the scalars in sidecar tables, which are not read: refused by
    * name. */
  private def scalarsAt(index: Path, version: Option[Long] = None): Scalars = {
    val p = TxLog.propsAt(index, version)
    def long(k: String): Long = p.get(k).map(_.toLong).getOrElse(
      throw new IllegalStateException(s"text index at $index has no '$k' property: it " +
        "was built with its scalars in sidecar tables, which are no longer read — rebuild it"))
    Scalars(long("n_docs"), long("total_len"), p.get("n_deleted").fold(0L)(_.toLong),
      p.get("increments").fold(0L)(_.toLong))
  }

  /** The index's (n_docs, total_len) at `version` (latest when None):
    * BM25's N and N * avgdl over the live postings of that version. */
  def corpusStats(index: Path, version: Option[Long] = None): (Long, Long) = {
    val s = scalarsAt(index, version)
    (s.nDocs, s.totalLen)
  }

  /** The properties of a postings delete whose probe read `probed`
    * (file, doc_id, dl) rows: the statistics shrink by the distinct
    * docs and one `dl` per doc (every posting of a doc carries the same
    * dl), and the dictionary's staleness counter `n_deleted` advances by
    * the docs, so block-max searches recount live dfs until
    * [[maintain]] rebuilds the dictionary. Read from the index's head,
    * which [[TxLog.transact]]'s claim fence freezes. */
  private[ops] def deletedProps(index: Path)(probed: Array[Row]): Map[String, String] = {
    val dlOf = probed.map(r => r.getLong(1) -> r.getAs[Number](2).longValue).toMap
    if (dlOf.isEmpty) Map.empty
    else {
      val s = scalarsAt(index)
      Map("n_docs" -> (s.nDocs - dlOf.size).toString,
        "total_len" -> (s.totalLen - dlOf.values.sum).toString,
        "n_deleted" -> (s.nDeleted + dlOf.size).toString)
    }
  }

  /** Index the increment [[DerivedIndex.pending]] finds: postings
    * range-clustered by term_hash with the statistics and the files'
    * names in the same commit ([[DerivedIndex.commit]]), then the
    * dictionary slice. Returns the number of newly indexed documents.
    * First call on an empty index IS the build; the arguments must match
    * the binding the index records ([[DerivedIndex.bind]]).
    *
    * Each postings commit that adds rows advances the index's
    * `increments` property, and each dictionary commit records the
    * `increments` it covers. A call on a built index whose dictionary
    * covers other increments than the head, or that has postings and no
    * dictionary, first rebuilds the dictionary from the live postings:
    * a crash between an increment's postings commit and its slice is
    * repaired by the redelivery. */
  def ensureIndexed(spark: SparkSession, corpus: Path, index: Path,
      idCol: String = "doc_id", textCol: String = "text",
      nClusters: Int = 8): Long = Jobs.labeled(spark, "text ensureIndexed") {
    val bind = Map("id_col" -> idCol, "text_col" -> textCol, "n_clusters" -> nClusters.toString)
    val st0 = if (TxLog.versions(index).nonEmpty) scalarsAt(index) else Scalars(0L, 0L, 0L, 0L)
    val built = DerivedIndex.bind(index, bind, "ensureIndexed")
    val hadDict = TxLog.versions(tstatsDir(index)).nonEmpty
    val dictBehind = built && (
      if (hadDict) TxLog.propsAt(tstatsDir(index)).get("increments").fold(0L)(_.toLong) !=
        st0.increments
      else TxLog.snapshotAt(index).files.nonEmpty)
    if (dictBehind) rebuildDictionary(spark, index, TxLog.latestVersion(index), -1L, nClusters)
    // the anti-join runs at DOC level, BEFORE the explode (optimization
    // r17, guide §3.3 "join first on the un-exploded key and explode
    // after"): a posting-level join would shuffle |new postings| rows
    // where |new docs| carries the same decision
    val inc = DerivedIndex.pending(spark, corpus, index, "doc_id")(words(idCol, textCol))
      .getOrElse(return 0L)
    // (n_new, len_new) OBSERVED during the checkpoint pass (one live row
    // per doc_id in a snapshot — the TxLog append invariant — so the
    // doc-level count/sum equal the old per-doc aggregate), replacing a
    // separate post-checkpoint aggregation job
    val obs = new Observation
    val fresh = inc.rows
      .select(col("doc_id"), size(col("__ws")).as("dl"), col("__ws"))
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("len"))
      .select(col("doc_id"), col("dl"), explode(col("__ws")).as("term"))
      .groupBy("doc_id", "term")
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
      .select(xxhash64(col("term")).as("term_hash"), col("term"),
        col("doc_id"), col("tf"), col("dl"))
    // the fresh postings feed the clustered write AND the dictionary agg
    val mat = fresh.localCheckpoint(true)
    val nNew = DerivedIndex.observed(obs, "n")
    val props = (if (built) Map.empty[String, String] else bind) ++ Map(
      "n_docs" -> (st0.nDocs + nNew).toString,
      "total_len" -> (st0.totalLen + DerivedIndex.observed(obs, "len")).toString)
    DerivedIndex.commit(index, inc, props, nNew) { (props, names) =>
      val increments = "increments" -> (st0.increments + 1).toString
      val pv = TxLog.appendClustered(spark, mat, index, "term_hash",
        clusterBucket(nClusters), nClusters, props = props + increments, sources = names)
      // the _tstats dictionary delta (per-term df, the dl-free impact
      // ceiling max tf/(tf+k1(1-b)), the slice's top (tf, dl) pairs,
      // and the postings-commit binding): LOG-STRUCTURED — each
      // increment appends its own range-clustered slice, reads SUM
      // across slices, maintain folds to the exact single row per
      // term. No vocab-sized rewrite on the increment path. With no
      // dictionary yet there are no postings before pv (a built index's
      // were covered above), so `mat` is all of them and the created
      // dictionary is exact for the postings at pv: its refresh mark is
      // their n_deleted.
      TxLog.appendClustered(spark, tstatsDelta(spark, mat, pv),
        tstatsDir(index), "term_hash", clusterBucket(nClusters), nClusters,
        props = Map(increments) ++
          (if (hadDict || dictBehind) Map.empty
          else Map("refreshed_at" -> st0.nDeleted.toString))): Unit
    }
    nNew
  }

  /** The corpus rows a text increment tokenizes: the id cast to the
    * postings' `doc_id` and the whitespace-split words. */
  private def words(idCol: String, textCol: String)(docs: DataFrame): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"), split(col(textCol), " ").as("__ws"))

  /** Replace the dictionary (create it, when missing) with one slice per
    * term from all live postings at version `v`, bound to `sliceVer` (-1 = unbound: block-max
    * reads the hash range for it). The rebuild is exact for those
    * postings: its refresh mark is their `n_deleted` and it covers their
    * `increments`, both set by its own commit, so a crash before it
    * leaves the old marks and a stale dictionary never reads as fresh. */
  private def rebuildDictionary(spark: SparkSession, index: Path, v: Long, sliceVer: Long,
      nClusters: Int): Unit = {
    val s = scalarsAt(index, Some(v))
    val dict = tstatsDelta(spark, TxLog.readAt(spark, index, Some(v)), sliceVer)
    val props = Map("refreshed_at" -> s.nDeleted.toString, "increments" -> s.increments.toString)
    TxLog.overwriteClustered(spark, dict, tstatsDir(index), "term_hash",
      clusterBucket(nClusters), nClusters, props = props): Unit
  }

  /** BM25 top-k served from the INDEX ALONE — per query term one
    * footer-pruned point read of the postings (range on term_hash, the
    * exact term re-checked so a 64-bit hash collision costs nothing),
    * document frequency from the pruned postings themselves, N/avgdl
    * from the same postings version's properties. Identical arithmetic,
    * rounding, and tie-break to the in-query t14 ranking. */
  def searchBm25(spark: SparkSession, index: Path, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty, "searchBm25 needs at least one query term")
    val v = TxLog.latestVersion(index)
    val posts = terms.distinct.map(t => pointRead(spark, index, v, t)).reduce(_ unionByName _)
    val dfRel = posts.groupBy("term").agg(count(lit(1)).as("df"))
    bm25Rank(posts, dfRel, statsRel(spark, index, v), k)
  }

  /** One query term's postings at version `v`: the footer-pruned
    * term_hash range, the exact term re-checked. */
  private def pointRead(spark: SparkSession, index: Path, v: Long, term: String): DataFrame = {
    val h = termHash(term)
    TxLog.readAt(spark, index, Some(v), range = Some(("term_hash", h, h)))
      .filter(col("term") === lit(term))
  }

  /** The 1-row (n_docs, avgdl) relation BM25 serving cross-joins in,
    * from the properties of postings version `v` (driver metadata, no
    * Spark job; identical IEEE division, tix gates pin hash-equality). */
  private def statsRel(spark: SparkSession, index: Path, v: Long): DataFrame = {
    import spark.implicits._
    val s = scalarsAt(index, Some(v))
    Seq((s.nDocs, s.totalLen.toDouble / s.nDocs.toDouble)).toDF("n_docs", "avgdl")
  }

  /** The ONE BM25 readout (arithmetic, rounding, tie-break) — shared by
    * every Spark search mode so a bounds-pruned ranking cannot drift from
    * the full-scoring one by so much as an ulp. Its driver twin is
    * [[bm25RankLocal]], the same operations in the same order;
    * BlockMaxServeSpec pins the two to equal rows and schema. */
  private def bm25Rank(posts: DataFrame, dfRel: DataFrame, st: DataFrame,
      k: Int): DataFrame =
    posts.join(broadcast(dfRel), "term")
      .crossJoin(broadcast(st))
      .select(col("doc_id"),
        (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          col("tf").cast("double") /
          (col("tf").cast("double") +
            lit(1.2) * (lit(1.0) - 0.75 +
              lit(0.75) * col("dl").cast("double") / col("avgdl"))))
          .as("part"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("part")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  /** [[bm25Rank]]'s output schema: a driver-served ranking and an empty
    * one carry it too. */
  private val RankSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.DoubleType, nullable = true)))

  private def emptyRanking(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      RankSchema)

  /** One posting as the driver readout sees it. */
  private final case class Posting(term: String, docId: Long, tf: Long, dl: Long)

  /** [[bm25Rank]]'s idf, as Spark evaluates it: the long subtraction
    * first, and `StrictMath.log` (what Spark's `log` calls). */
  private def bm25Idf(nDocs: Long, df: Long): Double =
    StrictMath.log(((nDocs - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)

  /** [[bm25Rank]]'s round(_, 6): HALF_UP on the double's decimal form. */
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[bm25Rank]] on the driver, operation for operation: each posting
    * of a term with a df contributes idf * tf / (tf + 1.2 * (1 - 0.75 +
    * 0.75 * dl / avgdl)) in that multiply/divide order, a doc's parts
    * sum from 0.0, the sum rounds HALF_UP to 6 places, and the top k
    * sort by score desc, doc_id asc. */
  private def bm25RankLocal(posts: Seq[Posting], df: Map[String, Long], nDocs: Long,
      avgdl: Double, k: Int): Seq[(Long, Double)] = {
    val sums = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    posts.foreach(p => df.get(p.term).foreach { d =>
      sums(p.docId) = sums.getOrElse(p.docId, 0.0) + bm25Idf(nDocs, d) * p.tf.toDouble /
        (p.tf.toDouble + 1.2 * (1.0 - 0.75 + 0.75 * p.dl.toDouble / avgdl))
    })
    sums.toSeq.map { case (id, s) => (id, round6(s)) }
      .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else a._1 < b._1)
      .take(k)
  }

  /** CONJUNCTIVE (AND) retrieval: only documents containing EVERY query
    * term rank, scored by the same BM25 arithmetic as [[searchBm25]].
    * The intersection runs on the pruned posting lists themselves
    * (group by doc_id, keep count(distinct term) == |terms|) — cost
    * still tracks the query terms' posting lists, never the corpus,
    * and the most selective term bounds the candidate set the way a
    * production conjunctive engine's shortest-list-first walk does. */
  def searchBm25All(spark: SparkSession, index: Path, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty, "searchBm25All needs at least one query term")
    val distinct = terms.distinct
    val v = TxLog.latestVersion(index)
    val posts = distinct.map(t => pointRead(spark, index, v, t)).reduce(_ unionByName _)
    val all = posts.groupBy("doc_id")
      .agg(countDistinct(col("term")).as("__nt"))
      .filter(col("__nt") === distinct.size)
      .select("doc_id")
    val dfRel = posts.groupBy("term").agg(count(lit(1)).as("df"))
    bm25Rank(posts.join(broadcast(all), Seq("doc_id"), "left_semi"), dfRel,
      statsRel(spark, index, v), k)
  }

  /** What a [[searchBm25BlockMax]] call decided, at unit (term × slice)
    * granularity: the units, and the dictionary df summed over the live
    * units (`postingsTotal`) and over the essential ones
    * (`postingsEssential`; both -1 on fallback); the query terms with
    * live units but no essential unit, whose lists were only probed for
    * candidates (`termsSkipped`); and the postings files read vs the
    * per-term point reads full scoring pays. A stale call reads every
    * query term's full list for its df recount, so its `filesRead` is
    * `filesFull`. */
  final case class BlockMaxReport(unitsTotal: Int, unitsEssential: Int,
      postingsTotal: Long, postingsEssential: Long, termsSkipped: Int,
      filesFull: Int, filesRead: Int, filesProbed: Int,
      fellBack: Boolean, dfRecounted: Boolean, thetaFromDict: Boolean)

  /** Disjunctive (OR) BM25 top-k with BLOCK-MAX bounds (Ding & Suel,
    * SIGIR 2011, the per-block refinement of Turtle & Flood's MaxScore),
    * re-expressed over the lake layout. The result EXACTLY equals
    * [[searchBm25]]'s (the same readout; tix10 and tix11 gate the hash),
    * and the postings cost tracks the essential units.
    *
    * The `_tstats` dictionary holds one row per (term × SLICE): a slice
    * is one [[ensureIndexed]] commit's postings for one term, bound to
    * that commit's files via `slice_ver`, with the slice's df, its
    * dl-free impact ceiling max tf/(tf+k1(1-b)) and its top (tf, dl)
    * pairs. u = idf(df) * ceiling bounds any doc's part from that slice
    * (dl > 0 only shrinks it), so bounds live at (term × file-set)
    * granularity and whole FILES are skipped, not just whole terms:
    *
    *  1. θ̂ WITHOUT a postings job: the k-th best recomputed partial over
    *     any ONE term's pooled stored pairs lower-bounds that list's k-th
    *     partial (a subset's k-th best never exceeds the full list's),
    *     which lower-bounds the true k-th score — the max over terms is
    *     the tightest such θ̂.
    *  2. UNIT SELECTION, greedy peel: units sorted by ceiling descending
    *     move into the essential set until
    *     Σ_t max{u(t,s) : (t,s) non-essential} < θ̂ − margin. Any doc
    *     absent from every essential unit appears in at most one
    *     non-essential unit PER TERM, so its score is at most that
    *     remaining-max sum — it cannot reach the k-th place. The 1e-5
    *     margin absorbs the round-6 readout, so a pruned doc cannot tie
    *     its way back in.
    *  3. READS in file space: essential units read exactly their
    *     slice's live files (the term's hash range when the slice is
    *     unbound or its files were rewritten since); every doc read is a
    *     candidate. The candidates' remaining postings are PROBED from
    *     each term's not-yet-read files, doc_id-footer-range pruned
    *     against the candidate id span — the file skip that makes a
    *     long-lived multi-increment index serve like a maintained one.
    *
    * STALENESS: the dictionary's df is exact under increments. A
    * [[pruneDeleted]] leaves it stale-HIGH (the index's `n_deleted`
    * moves past the dictionary's `refreshed_at`), and a deletion vector
    * on a live postings file (a direct `TxLog.deleteMor` on the index)
    * means rows left since the refresh. Either way the call recounts the
    * query terms' live dfs from their full pruned lists, and, since
    * stored pairs may name deleted docs, takes θ̂ from one live ranking
    * of the top-ceiling term. The ceilings stay valid (a max over a
    * superset), so the pruning survives; [[maintain]] rebuilds the
    * dictionary exact and reopens the recount-free path. With no
    * dictionary at all the call falls back to [[searchBm25]].
    *
    * EXECUTION: when the query terms' dictionary and postings files
    * total at most [[DriverServeBytes]] ([[servesOnDriver]]), every read
    * above goes through [[TxLog.readLocal]] and the ranking through
    * [[bm25RankLocal]], and the k rows come back as a local relation —
    * zero Spark jobs, the call plus its collect included. Otherwise the
    * same plan runs as Spark reads and [[bm25Rank]]. A stale call, on
    * either path, ranks the complete lists its df recount read, so it
    * reads each query term's postings files once. Dictionary misses
    * are always read on the driver (a few footer-pruned rows). Unit
    * selection, file choice and the report are the same either way. */
  def searchBm25BlockMax(spark: SparkSession, index: Path, terms: Seq[String],
      k: Int): (DataFrame, BlockMaxReport) =
    searchBm25BlockMax(spark, index, terms, k, DriverServeBytes)

  /** [[searchBm25BlockMax]] with the driver path's byte limit given:
    * -1 runs every call through Spark (how specs reach that path). */
  private[ops] def searchBm25BlockMax(spark: SparkSession, index: Path, terms: Seq[String],
      k: Int, driverMaxBytes: Long): (DataFrame, BlockMaxReport) = {
    require(terms.nonEmpty, "searchBm25BlockMax needs at least one query term")
    require(k >= 1, "searchBm25BlockMax needs k >= 1")
    val distinct = terms.distinct
    val dictVer = TxLog.latestVersion(tstatsDir(index))
    if (dictVer < 0)
      return (searchBm25(spark, index, terms, k),
        BlockMaxReport(distinct.size, distinct.size, -1L, -1L, 0, -1, -1, -1,
          fellBack = true, dfRecounted = false, thetaFromDict = false))
    import spark.implicits._
    val snap = TxLog.snapshotAt(index)
    val byPath = snap.files.map(f => f.path -> f).toMap
    // WHERE the call runs, decided once from driver metadata: the same
    // plan below either reads and ranks on the driver or through Spark
    val onDriver = servesOnDriver(index, snap, distinct, driverMaxBytes)
    // corpus scalars of the snapshot's own version: no Spark job
    val sc = scalarsAt(index, Some(snap.version))
    val nDocs = sc.nDocs
    val avgdl = sc.totalLen.toDouble / nDocs.toDouble
    // ---- dictionary rows: a term's slices never change within one
    // commit of the dictionary, so serving keeps them in memory. A miss
    // reads its term's few footer-pruned dictionary rows on the driver,
    // whichever way the rest of the call runs
    val dictStamp = TxLog.versionStamp(tstatsDir(index), dictVer)
    lazy val tsnap = TxLog.snapshotAt(tstatsDir(index), Some(dictVer))
    final case class U(term: String, h: Long, df: Long, bound: Double,
        pairs: Seq[(Long, Long)], ver: Long)
    val units: Seq[U] = distinct.flatMap { term =>
      dictCache.getOrPut(tstatsDir(index), (dictVer, term), dictStamp) {
        val h = termHash(term)
        TxLog.readLocal(spark, tstatsDir(index), TxLog.pruneFiles(tsnap, h, h),
          Seq("term", "df", "tf_bound", "top_pairs", "slice_ver"), eq = Some(("term_hash", h)))
          .filter(_.getString(0) == term).map { r =>
            val pairs = r.getSeq[org.apache.spark.sql.Row](3)
              .map(p => { val id = p.getLong(1); (id & 0xFFFFFL, id >>> 20) })
            DictRow(r.getString(0), r.getLong(1), r.getDouble(2), pairs, r.getLong(4))
          }
      }
    }.map(d => U(d.term, termHash(d.term), d.df, d.bound, d.pairs, d.ver))
    // the driver path's postings of one term in `files`, DVs applied
    def readPostings(t: String, h: Long, files: Seq[TxLog.AddFile]): Vector[Posting] =
      TxLog.readLocal(spark, index, files, Seq("term", "doc_id", "tf", "dl"),
        eq = Some(("term_hash", h)))
        .collect { case r if r.getString(0) == t =>
          Posting(t, r.getLong(1), r.getAs[Number](2).longValue, r.getAs[Number](3).longValue)
        }
    // ---- staleness: the counter OR a live deletion vector. The
    // dictionary's refresh mark is read at the version its rows came
    // from (-1, so stale, when unset)
    val refreshedAt = TxLog.propsAt(tstatsDir(index), Some(dictVer))
      .get("refreshed_at").fold(-1L)(_.toLong)
    val stale = sc.nDeleted != refreshedAt || snap.files.exists(_.dv.isDefined)
    // stale: each term's live pruned list, read ONCE for the df
    // recount, θ̂ and the ranking — on the driver as postings, through
    // Spark into the block store
    lazy val fullLists: Map[String, Vector[Posting]] = distinct.map { t =>
      val h = termHash(t)
      t -> readPostings(t, h, TxLog.pruneFiles(snap, h, h))
    }.toMap
    lazy val fullRel = distinct.map(t => pointRead(spark, index, snap.version, t))
      .reduce(_ unionByName _).localCheckpoint(true)
    val dfExact: Map[String, Long] =
      if (!stale) units.groupBy(_.term).view.mapValues(_.map(_.df).sum).toMap
      else if (onDriver)
        fullLists.collect { case (t, ps) if ps.nonEmpty => t -> ps.size.toLong }
      else fullRel.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val live = units.filter(u => dfExact.getOrElse(u.term, 0L) > 0)
    val filesFull = distinct.map(t =>
      TxLog.pruneFiles(snap, termHash(t), termHash(t)).size).sum
    if (live.isEmpty)
      return (emptyRanking(spark),
        BlockMaxReport(units.size, 0, 0L, 0L, 0, filesFull, if (stale) filesFull else 0, 0,
          fellBack = false, dfRecounted = stale, thetaFromDict = false))
    val dfLive: Map[String, Long] = dfExact.filter(_._2 > 0)
    val idf: Map[String, Double] = dfLive.map { case (t, df) => t -> bm25Idf(nDocs, df) }
    lazy val dfRel = broadcast(dfLive.toSeq.sorted.toDF("term", "df"))
    lazy val stDf = broadcast(Seq((nDocs, avgdl)).toDF("n_docs", "avgdl"))
    // ---- θ̂: the k-th best of the one readout over one term's postings
    def kth(ranked: Seq[(Long, Double)]): Double =
      if (ranked.size < k) Double.NegativeInfinity else ranked(k - 1)._2
    val thetaFromDict = !stale
    val theta: Double =
      if (thetaFromDict)
        live.groupBy(_.term).map { case (t, us) =>
          // stored pairs carry no doc ids: each pair ranks as its own doc
          kth(bm25RankLocal(us.flatMap(_.pairs).zipWithIndex.map { case ((tf, dl), i) =>
            Posting(t, i.toLong, tf, dl) }, dfLive, nDocs, avgdl, k))
        }.max
      else {
        val top = live.minBy(u => (-(idf(u.term) * u.bound), u.term, u.ver))
        if (onDriver) kth(bm25RankLocal(fullLists(top.term), dfLive, nDocs, avgdl, k))
        else {
          val row = bm25Rank(fullRel.filter(col("term") === top.term), dfRel, stDf, k)
            .agg(count(lit(1)).as("n"), coalesce(min(col("score")), lit(0.0)).as("kth"))
            .head
          if (row.getLong(0) < k) Double.NegativeInfinity else row.getDouble(1)
        }
      }
    // ---- greedy unit peel (driver-side, |terms × slices| work)
    val ordered = live.sortBy(u => (-(idf(u.term) * u.bound), u.term, u.ver))
    val remaining = scala.collection.mutable.Map.empty[String, List[Double]] ++
      ordered.groupBy(_.term).view.mapValues(
        _.map(u => idf(u.term) * u.bound).sorted(Ordering[Double].reverse).toList)
    def totalBound: Double =
      remaining.valuesIterator.map(l => if (l.isEmpty) 0.0 else l.head).sum
    var essN = 0
    while (essN < ordered.size && totalBound >= theta - 1e-5) {
      remaining(ordered(essN).term) = remaining(ordered(essN).term).tail
      essN += 1
    }
    if (essN == 0) essN = 1 // defensive: θ̂ is witnessed by a real doc
    val ess = ordered.take(essN)
    // ---- essential reads: each unit exactly its slice's live files
    val addsCache = scala.collection.mutable.Map.empty[Long, Vector[TxLog.AddFile]]
    def unitFiles(u: U): Vector[TxLog.AddFile] = {
      val bound: Option[Vector[TxLog.AddFile]] =
        if (u.ver < 0) None
        else {
          val adds = addsCache.getOrElseUpdate(u.ver, TxLog.addsAt(index, u.ver))
          if (!adds.forall(a => byPath.contains(a.path))) None // rewritten since
          else Some(adds.map(a => byPath(a.path))
            .filter(f => f.minKey <= u.h && u.h <= f.maxKey))
        }
      bound.getOrElse(TxLog.pruneFiles(snap, u.h, u.h))
    }
    val essFiles: Seq[(U, Vector[TxLog.AddFile])] = ess.map(u => (u, unitFiles(u)))
    // one read per term over the DISTINCT union of its essential units'
    // files: units that fall back to the hash range (unbound or
    // rewritten slices) name the same files, and reading each unit's
    // set on its own would count those postings twice
    val essByTerm: Seq[(String, Long, Vector[TxLog.AddFile])] =
      ess.map(_.term).distinct.map { t =>
        (t, termHash(t), essFiles.filter(_._1.term == t).flatMap(_._2)
          .distinctBy(_.path).toVector)
      }
    val essPathsByTerm: Map[String, Set[String]] =
      essByTerm.map { case (t, _, fs) => t -> fs.map(_.path).toSet }.toMap
    // candidate doc_id SPAN from the essential files' footer stats —
    // driver metadata, no job; a file-level superset of the true span,
    // so pruning on it is conservative and correctness-free
    val essFilesAll = essFiles.flatMap(_._2)
    val essDocStats = essFilesAll.flatMap(_.cols.get("doc_id"))
    val candSpan: Option[(Long, Long)] =
      if (essFilesAll.isEmpty) Some((Long.MaxValue, Long.MinValue)) // no candidates
      else if (essDocStats.size == essFilesAll.size)
        Some((essDocStats.map(_._1).min, essDocStats.map(_._2).max))
      else None // a file without doc_id stats: span unknown, no span prune
    // ---- probes: candidates' remaining postings, file-pruned twice
    // (hash range minus already-read, then the candidate span vs each
    // file's recorded doc_id footer range)
    val probeFiles: Seq[(String, Long, Vector[TxLog.AddFile])] =
      if (essFilesAll.isEmpty) Nil
      else live.map(_.term).distinct.flatMap { t =>
        val h = termHash(t)
        val readPaths = essPathsByTerm.getOrElse(t, Set.empty)
        val rem = TxLog.pruneFiles(snap, h, h)
          .filterNot(f => readPaths(f.path))
          .filter(f => candSpan.forall { case (clo, chi) =>
            f.cols.get("doc_id").forall { case (lo, hi) => hi >= clo && lo <= chi }
          })
        if (rem.isEmpty) None else Some((t, h, rem))
      }
    val filesProbed = probeFiles.map(_._3.size).sum
    val essTerms = ess.map(_.term).toSet
    val report = BlockMaxReport(units.size, essN, live.map(_.df).sum, ess.map(_.df).sum,
      live.map(_.term).distinct.count(t => !essTerms(t)), filesFull,
      // stale: the df recount read every query term's full list
      if (stale) filesFull else essFiles.map(_._2.size).sum + filesProbed, filesProbed,
      fellBack = false, dfRecounted = stale, thetaFromDict = thetaFromDict)
    if (onDriver) {
      val posts =
        // stale: the recount already holds every live posting of every
        // query term — complete lists rank exactly, with no second read
        // of the plan's subset of the same files
        if (stale) distinct.flatMap(fullLists)
        else {
          val essPosts = essByTerm.flatMap { case (t, h, fs) => readPostings(t, h, fs) }
          val cands: Set[Long] = essPosts.iterator.map(_.docId).toSet
          essPosts ++ probeFiles.flatMap { case (t, h, fs) =>
            readPostings(t, h, fs).filter(p => cands(p.docId))
          }
        }
      val ranked = bm25RankLocal(posts, dfLive, nDocs, avgdl, k)
      return (spark.createDataFrame(
        ranked.map { case (id, s) => org.apache.spark.sql.Row(id, s) }.asJava, RankSchema),
        report)
    }
    if (stale) return (bm25Rank(fullRel, dfRel, stDf, k), report)
    def postsIn(t: String, h: Long, fs: Seq[TxLog.AddFile]) =
      TxLog.readFiles(spark, index, fs)
        .filter(col("term_hash") === h && col("term") === lit(t))
    val essPosts = essByTerm.map { case (t, h, fs) => postsIn(t, h, fs) }
      .reduce(_ unionByName _)
    val cands = essPosts.select("doc_id").distinct()
    val candsRel =
      if (essFilesAll.map(_.rows).sum <= (1L << 22)) broadcast(cands) else cands
    val posts = (essPosts +: probeFiles.map { case (t, h, fs) =>
      postsIn(t, h, fs).join(candsRel, Seq("doc_id"), "left_semi")
    }).reduce(_ unionByName _)
    (bm25Rank(posts, dfRel, stDf, k), report)
  }

  /** Whether a [[searchBm25BlockMax]] call serves ON THE DRIVER: the
    * on-disk bytes of the query terms' dictionary files plus their full
    * postings file set (footer-pruned, driver metadata) are at most
    * `limit`. */
  private def servesOnDriver(index: Path, snap: TxLog.Snapshot, terms: Seq[String],
      limit: Long): Boolean = {
    def bytes(table: Path, s: TxLog.Snapshot): Long = terms
      .flatMap { t => val h = termHash(t); TxLog.pruneFiles(s, h, h) }
      .distinctBy(_.path).map(f => java.nio.file.Files.size(table.resolve(f.path))).sum
    limit >= 0 &&
      bytes(tstatsDir(index), TxLog.snapshotAt(tstatsDir(index))) + bytes(index, snap) <= limit
  }

  /** The largest query file set (see [[servesOnDriver]]) a
    * [[searchBm25BlockMax]] call serves on the driver: 1 MiB. Measured on
    * a 4-core machine (4 Spark cores), warm, median of 5, over indexes
    * of 4 increments of 8k–400k docs (10–30 Zipf-like words over 5,000
    * terms) and 1–3-term queries. At or under 1 MiB the driver path was
    * faster in every case, fresh and stale (0.83 MB, 31.5k postings:
    * 207 vs 226 ms fresh). On a fresh index the winner varied between
    * 1.2 and 2.3 MB with the postings count (1.56 MB, 63k postings:
    * 357 vs 246 ms), and from 2.8 MB on Spark won every query (7.2 MB:
    * 1,915 vs 794 ms): the driver decodes every row on one thread while
    * Spark's cost stays near its fixed job overhead. On a stale index the driver still won
    * at 19 MB (2,100 vs 3,120 ms), when Spark read the lists once for
    * the df recount and again for the ranking; it now reads them once,
    * and that crossover has not been measured again. The one limit
    * keeps to the fresh crossover. The crossover was measured while every
    * driver-side parquet open still parsed Hadoop's default
    * configuration, a fixed cost per file that [[ParquetOpen]] has since
    * removed; the limit has not been measured again. */
  private val DriverServeBytes: Long = 1L << 20

  /** The end-user search shape: BM25 rank from the INDEX, then fetch
    * the winners' FULL ROWS from the corpus — the top-k ids (k-sized,
    * driver-held by construction) turn into a stats-pruned corpus read
    * ([min,max] key range + an isin residual that pushes into the
    * parquet scan), so the corpus pays a point-fetch, never a scan: one
    * Spark job, whose ≤ k rows get their scores and their order on the
    * driver. The ranking is [[searchBm25BlockMax]]'s — equal to
    * [[searchBm25]]'s by contract (tix11), and served on the driver when
    * the query's files are small. Returns a local relation of the id
    * column, the other corpus columns and `score`, ordered by score
    * desc, id asc. */
  def fetchTopDocs(spark: SparkSession, corpus: Path, index: Path,
      terms: Seq[String], k: Int, idCol: String = "doc_id"): DataFrame = {
    val top = searchBm25BlockMax(spark, index, terms, k)._1.collect() // k rows, by contract
    if (top.isEmpty)
      return TxLog.readAt(spark, corpus).filter(lit(false))
        .withColumn("score", lit(0.0))
    val scoreOf = top.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ids = top.map(_.getLong(0))
    val hits = TxLog.readAt(spark, corpus, range = Some((idCol, ids.min, ids.max)))
      .filter(col(idCol).isin(ids.map(Long.box).toSeq: _*))
    val at = hits.schema.fieldIndex(idCol)
    val rest = hits.schema.indices.filter(_ != at)
    val schema = StructType((at +: rest).map(hits.schema.fields) :+
      StructField("score", DoubleType, nullable = false))
    val rows = hits.collect().map { r =>
      val id = r.getAs[Number](at).longValue
      (scoreOf(id), id, Row.fromSeq((at +: rest).map(r.get) :+ scoreOf(id)))
    }.sortWith { case ((s1, i1, _), (s2, i2, _)) => s1 > s2 || (s1 == s2 && i1 < i2) }
    spark.createDataFrame(rows.map(_._3).toSeq.asJava, schema)
  }

  private[ops] def posDir(index: Path): Path = index.resolveSibling(index.getFileName + "_pos")

  /** POSITIONAL postings — the OPTIONAL sibling table phrase queries
    * need: one row per term OCCURRENCE (term_hash, term, doc_id, pos),
    * range-clustered by term_hash like the frequency postings, with
    * its own watermark (the `_pos` log's source files), kept by the same
    * [[DerivedIndex.pending]] / [[DerivedIndex.commit]] increment.
    * Kept separate from [[ensureIndexed]]'s table so BM25 serving
    * never pays the ~dl-times-larger occurrence rows. */
  def ensurePositional(spark: SparkSession, corpus: Path, index: Path,
      idCol: String = "doc_id", textCol: String = "text",
      nClusters: Int = 8): Long = {
    val pd = posDir(index)
    // doc-level anti-join before the posexplode (guide §3.3): the
    // idempotency decision needs |new docs| rows, not |new occurrences|
    val inc = DerivedIndex.pending(spark, corpus, pd, "doc_id")(words(idCol, textCol))
      .getOrElse(return 0L)
    // one tokenize pass: the occurrence rows feed the clustered write,
    // and the new-doc count is OBSERVED during the same checkpoint pass
    // (one live row per doc_id — the TxLog append invariant — so the
    // doc-level count equals the old post-checkpoint distinct count)
    val obs = new Observation
    val mat = inc.rows
      .observe(obs, count(lit(1)).as("n"))
      .select(col("doc_id"), posexplode(col("__ws")).as(Seq("pos", "term")))
      .select(xxhash64(col("term")).as("term_hash"), col("term"),
        col("doc_id"), col("pos"))
      .localCheckpoint(true)
    val nNew = DerivedIndex.observed(obs, "n")
    DerivedIndex.commit(pd, inc, Map.empty, nNew) { (_, names) =>
      TxLog.appendClustered(spark, mat, pd, "term_hash",
        clusterBucket(nClusters), nClusters, sources = names): Unit
    }
    nNew
  }

  /** EXACT-PHRASE search from the positional index: each term's pruned
    * occurrence list is read as (doc_id, pos - i) — aligning a match's
    * occurrences to one shared start position — and the |phrase|-way
    * equi-join keeps exactly the starts where every term sits at its
    * offset. Cost tracks the phrase terms' occurrence lists (the rarest
    * term bounds the join), never the corpus: the exact-substring
    * decontamination primitive served from a lake artifact. Returns
    * (doc_id, n_occurrences) for matching documents. */
  def searchPhrase(spark: SparkSession, index: Path, phrase: String): DataFrame = {
    val terms = phrase.split(" ").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, "searchPhrase needs a non-empty phrase")
    val reads = terms.zipWithIndex.map { case (term, i) =>
      val h = termHash(term)
      TxLog.readAt(spark, posDir(index), range = Some(("term_hash", h, h)))
        .filter(col("term") === lit(term))
        .select(col("doc_id"), (col("pos") - i).as("p0"))
    }
    reads.reduce((a, b) => a.join(b, Seq("doc_id", "p0")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("doc_id"))
  }

  /** Postings of an explicit TERM SET — the decontamination primitive:
    * the query terms (benchmark-sized by contract, the pruneDeleted
    * discipline) each resolve to their covering clustered files by a
    * driver-side stats intersection (sorted-hash binary search per
    * file), so the scan reads only files that can hold ANY queried
    * term — |terms| point reads on a 100 TB index, never an index
    * scan. Exact terms re-checked by semi-join, so 64-bit collisions
    * cost nothing; the term_hash in-filter pushes into the parquet
    * scan when the set is small enough to inline. */
  def postingsForTerms(spark: SparkSession, index: Path, terms: DataFrame,
      termCol: String = "term"): DataFrame = {
    val t = terms.select(col(termCol).as("term")).distinct()
      .withColumn("term_hash", xxhash64(col("term")))
      .localCheckpoint(true) // hashed once: feeds the prune AND the re-check
    val hashes = t.select("term_hash").collect().map(_.getLong(0)).sorted
    val snap = TxLog.snapshotAt(index)
    val files = snap.files.filter { f =>
      val i = java.util.Arrays.binarySearch(hashes, f.minKey)
      val from = if (i >= 0) i else -i - 1
      from < hashes.length && hashes(from) <= f.maxKey
    }
    val base = TxLog.readFiles(spark, index, files)
    val pushed =
      if (hashes.length <= 1000)
        base.filter(col("term_hash").isin(hashes.map(Long.box).toSeq: _*))
      else base
    pushed.join(broadcast(t.select("term")), Seq("term"), "left_semi")
  }

  /** Remove the postings of deleted documents — churn-sized merge-on-
    * read deletes keyed on doc_id (the caller supplies the deleted keys;
    * the right-to-be-forgotten flow has them in hand). The statistics
    * shrink by the removed docs' contribution in the same commit, so
    * avgdl stays honest and no crash leaves them behind the postings.
    * One Spark job per table: the keys are collected to the driver (no
    * job for a local key frame), and the index's delete probe carries
    * `dl`, so the same rows give the DV matches and the shrink. */
  def pruneDeleted(spark: SparkSession, index: Path, deletedKeys: DataFrame,
      idCol: String = "doc_id"): Long = Jobs.labeled(spark, "text pruneDeleted") {
    // an insert-only CDF micro-batch (the common streaming case) exits
    // here, after at most the key collect
    val keys = TxLog.morKeys(deletedKeys, idCol)
    if (keys.isEmpty) return 0L
    // the positional sibling (if built) carries the same documents'
    // occurrence rows — a phrase query must not resurrect deleted docs.
    // Pruned whatever the index probe finds: a crash between the two
    // deletes redelivers with nothing left in the index, and the sibling
    // must still catch up (re-deleting already-DV'd keys is a no-op).
    if (TxLog.versions(posDir(index)).nonEmpty)
      TxLog.deleteMor(spark, posDir(index), keys, "doc_id"): Unit
    val d = TxLog.deleteMor(spark, index, keys, "doc_id", carry = Seq("dl"),
      props = deletedProps(index))
    if (d.dvFiles == 0) 0L else d.version
  }

  /** Stored (tf, dl) pairs per dictionary slice — enough for any
    * serving k the gates use; more pairs only tighten θ̂, never
    * correctness (any SUBSET of a list's postings lower-bounds its
    * k-th best partial). */
  private val TopPairs = 32

  /** The per-(term, SLICE) dictionary rows behind the bounded search
    * modes: document frequency, the dl-independent score ceiling, the
    * slice's top (tf, dl) pairs (packed dl<<20 | min(tf, 2^20-1) — the
    * tf cap only LOWERS a recomputed partial, so a driver-side θ̂ from
    * stored pairs stays a safe lower bound), and the postings commit
    * this slice indexed (`slice_ver`, -1 = unbound). Pairs ride the
    * bounded [[graft.functions.TopKAgg]] heap — O(TopPairs) memory per
    * term with map-side combine, never a collect_list of a hot term's
    * whole posting list. */
  private def tstatsDelta(spark: SparkSession, posts: DataFrame,
      sliceVer: Long): DataFrame = {
    graft.functions.VectorFunctions.registerAll(spark)
    // TopKAgg is a TypedImperativeAggregate, so this plan runs as
    // ObjectHashAggregate — whose default sort-based fallback triggers
    // at 128 in-memory groups, far under any real vocabulary, turning
    // the dictionary build into a full sort of the increment's
    // postings. Each group buffer is a k-bounded heap (~0.5 KB), so a
    // 128k-group hash map is ~64 MB per task — cheap against the sort
    // it avoids (the tix02/03 build-cost fix, round-15 verdict #6).
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
    posts.groupBy(col("term_hash"), col("term"))
      .agg(count(lit(1)).as("df"),
        max(col("tf").cast("double") /
          (col("tf").cast("double") + lit(1.2) * (lit(1.0) - 0.75))).as("tf_bound"),
        expr(("topk_pairs(cast(tf as double) / (cast(tf as double) + 0.3 " +
          "+ 0.9 * cast(dl as double) / 64.0), " +
          s"shiftleft(dl, 20) + least(tf, 1048575), $TopPairs)")).as("top_pairs"))
      .withColumn("slice_ver", lit(sliceVer))
  }

  /** Index LIFECYCLE maintenance — the bloom index's vacuum discipline
    * applied to the postings. A long-lived index degrades two ways:
    * every incremental [[ensureIndexed]] appends its OWN clustered
    * file-set (term_hash ranges overlap across commits, so a term
    * lookup pays ~one file per increment), and [[pruneDeleted]] leaves
    * DV sidecars whose anti-join every read replays. This folds both
    * back to the freshly-built shape:
    *   1. index the increment (the binding properties supply the
    *      id/text columns; [[ensureIndexed]]);
    *   2. re-cluster ALL postings into nClusters range-DISJOINT files
    *      with DVs folded in (one distributed compactClustered job,
    *      one atomic commit — readers never block), restoring the
    *      one-file-per-term seek;
    *   3. rebuild the dictionary exact, and bring the positional
    *      sibling (if built) through steps 1 and 2;
    *   4. vacuum dead versions of every sibling table.
    * Serving through the rewrite is identical by construction (same
    * rows, new layout) — TextIndexSpec pins it, gate tix05 proves the
    * per-term file count returns to the clustered bound. */
  def maintain(spark: SparkSession, corpus: Path, index: Path,
      vacuumKeep: Int = 1, vacuumMinAgeMs: Long = 0L): DerivedIndex.MaintainReport = {
    val (idCol, textCol, nClusters) = binding(index).getOrElse {
      if (TxLog.versions(index).isEmpty) ("doc_id", "text", 8) // fresh index: maintain IS the build
      else throw new IllegalStateException(
        s"text index at $index has no id_col binding property — its id/text binding is " +
          "unknown and maintenance will not guess one. Run TextIndex.ensureIndexed " +
          "once with the original idCol/textCol/nClusters to record it, then maintain.")
    }
    val indexedNew = ensureIndexed(spark, corpus, index, idCol, textCol, nClusters)
    val snap0 = TxLog.snapshotAt(index)
    // NOTE (optimization r17): the compaction scan + the dictionary
    // rebuild's scan below are a deliberate TWO sequential parquet
    // passes over the postings. Fusing them through one
    // localCheckpoint was built and A/B'd — it swaps a columnar,
    // page-cache-friendly re-read for a row-format block-store
    // materialization plus an extra job, and measured NEUTRAL-to-worse
    // (tix05 69→70 jobs); at scale the cache write+2 reads move MORE
    // bytes than the second parquet pass. Left as two passes.
    if (snap0.files.nonEmpty)
      TxLog.compactClustered(spark, index, "term_hash",
        clusterBucket(nClusters), nClusters): Unit
    // the _tstats dictionary: increments appended log-structured slices
    // and pruneDeleted left its df counts stale-high — rebuild it EXACT
    // from the live (DV-folded) postings, restoring the range clustering
    // and the recount-free search path. One slice, bound to the
    // freshly-compacted postings commit: after this every term's unit
    // resolves to exactly its one clustered file
    if (TxLog.versions(tstatsDir(index)).nonEmpty) {
      val v = TxLog.latestVersion(index)
      rebuildDictionary(spark, index, v, v, nClusters)
    }
    // the positional sibling (if built) degrades the same two ways —
    // fold its increments back too
    if (TxLog.versions(posDir(index)).nonEmpty) {
      ensurePositional(spark, corpus, index, idCol, textCol, nClusters): Unit
      if (TxLog.snapshotAt(posDir(index)).files.nonEmpty)
        TxLog.compactClustered(spark, posDir(index), "term_hash",
          clusterBucket(nClusters), nClusters): Unit
    }
    DerivedIndex.report(indexedNew, snap0, index,
      DerivedIndex.vacuum(Seq(index, tstatsDir(index), posDir(index)), vacuumKeep,
        vacuumMinAgeMs))
  }

  /** One dictionary slice's facts for one term (the [[dictCache]]
    * payload). */
  private final case class DictRow(term: String, df: Long, bound: Double,
      pairs: Seq[(Long, Long)], ver: Long)

  private val DictCacheEntries = 65536
  private val dictCache =
    new StampedCache[(Long, String), (Long, Long), Seq[DictRow]](DictCacheEntries)

  /** The term's xxhash64 (seed 42, Spark's SQL default) computed ON THE
    * DRIVER — bit-identical to the `xxhash64(term)` column the postings
    * carry (TextIndexSpec pins it), without paying one Spark job per
    * query term just to hash a constant. */
  private[ops] def termHash(term: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L)

  /** Files a single term's index scan must touch — the pruning-power
    * audit, decided from driver metadata alone ([[TxLog.pruneFiles]] on
    * the designated term_hash stats), no data read. */
  def filesForTerm(spark: SparkSession, index: Path, term: String): Int = {
    val h = termHash(term)
    TxLog.pruneFiles(TxLog.snapshotAt(index), h, h).size
  }
}

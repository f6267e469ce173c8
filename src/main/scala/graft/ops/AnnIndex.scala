package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The PERSISTED ANN (IVF) index as a self-maintaining lake artifact —
  * the TextIndex lifecycle applied to vectors (round-14 verdict #1).
  *
  * Layout (all ordinary TxLog tables, so every piece is versioned,
  * time-travelable, and streamable):
  *   - `<ix>`        assignments `(corpus cols..., cent_id)`, written
  *                   ONE FILE PER INVERTED LIST (clusterCol = cent_id):
  *                   footer [min,max] on cent_id IS the list boundary,
  *                   so a probe's candidate read prunes to exactly the
  *                   probed lists — FAISS's per-list storage re-expressed
  *                   as parquet + stats instead of a custom format. Its
  *                   properties ([[TxLog.propsAt]]) carry the binding
  *                   `id_col`, `emb_col`, `n_clusters`, set by the first
  *                   assignments commit — same contract as TextIndex:
  *                   maintenance REFUSES a legacy index without it
  *                   rather than guess and corrupt. Its source files
  *                   are the corpus watermark of
  *                   [[DerivedIndex.pending]] (files already assigned),
  *                   each increment's names riding its assignments
  *                   commit.
  *   - `<ix>_cent`   the trained coarse quantizer `(cent_id, cent_emb)`,
  *                   corpus-scaled C, seeded + one integer-quantized
  *                   Lloyd update (bit-deterministic: exact int64 sums,
  *                   IEEE means — graft.ops.Clustering). Trained ONCE on
  *                   the creating batch; a trained artifact never
  *                   invalidates, increments assign against it.
  *   - `<ix>_cb`, `<ix>_codes` the optional PQ sibling ([[ensurePq]]):
  *                   codebook and codes (binding `id_col`, `emb_col`,
  *                   `dims`, `m` in their properties, the encoded corpus
  *                   files in their source files).
  *
  * Degradation + cure (the tix05 disease, vector edition): each
  * incremental [[ensureIndexed]] appends its own per-list file-set, so
  * after N increments a probe pays up to N files per list, and
  * merge-on-read deletes leave DV sidecars every read must anti-join.
  * [[maintain]] re-clusters ALL assignments back to one file per list
  * with DVs folded (one distributed compactClustered job, one atomic
  * commit — readers never block) and vacuums dead versions. Serving
  * through the rewrite is identical by construction (same rows, new
  * layout) — gate sim14 pins both the equality and the
  * files-per-probe bound; AnnIndexSpec pins the contracts.
  *
  * The reference (a parser-to-sink shuttle, /root/reference/src/domain/ports.rs)
  * has no vector surface; the design here follows the published IVF
  * literature (Jégou et al., TPAMI 2011) re-expressed Spark-first.
  */
object AnnIndex {

  /** sim07's corpus-scaled target list size (125 vectors/list). */
  private val TargetListSize = 125

  private def centDir(index: Path): Path = index.resolveSibling(index.getFileName + "_cent")
  private def cbDir(index: Path): Path = index.resolveSibling(index.getFileName + "_cb")
  private[ops] def codesDir(index: Path): Path = index.resolveSibling(index.getFileName + "_codes")

  /** The PQ sibling's fixed knobs — knn06's contract (64 dims padded,
    * 8 sub-quantizers, 2 Lloyd iterations; the clustered write lays
    * codes out one file per SUB-SPACE — 8 files — with 4-way shuffle
    * parallelism), the codeword count corpus-scaled by the same rule. */
  private val PqDims = 64
  private val PqM = 8
  private val PqIters = 2
  private val PqSubClusters = 4
  private def pqKOf(n: Long): Int =
    math.max(16L, math.min(256L, (n + 31) / 32)).toInt

  private def cosExpr(a: String, b: String): String =
    s"round(vector_cosine($a, $b), 6)"

  /** The index's self-describing binding, from the assignments table's
    * properties; None when no commit set it — maintenance must NOT
    * guess (same contract as TextIndex's binding). */
  private def binding(index: Path): Option[(String, String, Int)] = {
    val p = TxLog.propsAt(index)
    p.get("id_col").map(id => (id, p("emb_col"), p("n_clusters").toInt))
  }

  /** Whether the index carries its binding — checked by CALL maintain's
    * sibling pass before driving [[maintain]]. */
  def hasBinding(index: Path): Boolean = binding(index).isDefined

  /** The id column the index is bound to (None for a legacy index
    * without the binding) — what [[graft.ops.Forget]] keys the atomic
    * erasure on. */
  def boundIdCol(index: Path): Option[String] = binding(index).map(_._1)

  /** Coarse quantizer: C = max(16, ceil(n/125)) LOWEST-ID seeds BY RANK,
    * one quantized Lloyd update — the exact rule of the sim07/knn06
    * builds (SimilarityQueries.refinedIvfCentroids), parameterized by
    * column. Seeding is by rank, not by the literal value test
    * `id < C`: `CALL ann_index` runs on arbitrary user tables, and a
    * corpus whose ids are offset or sparse would yield few or zero
    * seeds under the value test — an index that silently serves
    * nothing. On dense 0-based ids (the gate corpora) rank-seeding is
    * value-identical to `id < C`, so the sim07/knn06 oracles hold. The
    * C-th-smallest id resolves through TakeOrderedAndProject (a
    * distributed top-C, never a global sort window), so seeding stays
    * executor-parallel at corpus scale. */
  private def trainCentroids(spark: SparkSession, train: DataFrame,
      idCol: String, embCol: String): DataFrame =
      Jobs.labeled(spark, "ann trainCentroids") {
    val q = Clustering.quantize(train, idCol, embCol)
    val cnt = train.count()
    val nC = math.max(16L, (cnt + TargetListSize - 1) / TargetListSize)
    // the seed-id cutoff: max of the C smallest ids (inclusive filter
    // below keeps exactly the C lowest ranks; ids are unique keys)
    val init = q.join(
        broadcast(q.select(col(idCol)).orderBy(col(idCol).asc).limit(
          math.min(nC, Int.MaxValue.toLong).toInt)),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("cid"),
        expr("transform(q, x -> cast(x as double))").as("m"))
    Clustering.recomputeMeans(Clustering.assign(q, init, idCol))
      .select(col("cid").as("cent_id"), col("m").as("cent_emb"))
  }

  /** Nearest-centroid assignment preserving EVERY corpus column (the
    * index row is the corpus row + its home list). Flat broadcast rank
    * below Ann.TwoLevelMinCentroids; coarse→fine sqrt(C) decomposition
    * above it (same crossover as graft.ops.Ann, which owns the
    * fixed-schema variant the sim gates pin). `c` is `cent`'s row count,
    * which the caller knows from the log. */
  private[ops] def assignAll(vecs: DataFrame, cent: DataFrame, c: Long,
      idCol: String, embCol: String): DataFrame = {
    val keep = vecs.columns.map(col)
    if (c <= Ann.TwoLevelMinCentroids) {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("__a_cos").desc, col("cent_id").asc)
      vecs.join(broadcast(cent), lit(true))
        .withColumn("__a_cos", expr(cosExpr(embCol, "cent_emb")))
        .withColumn("__ark", row_number().over(w)).filter(col("__ark") === 1)
        .select(keep :+ col("cent_id"): _*)
    } else {
      val nCoarse = math.ceil(math.sqrt(c.toDouble)).toInt
      val coarse = cent.orderBy(col("cent_id").asc).limit(nCoarse)
        .select(col("cent_id").as("coarse_id"), col("cent_emb").as("coarse_emb"))
        .localCheckpoint(true)
      val wf = Window.partitionBy(col("cent_id"))
        .orderBy(col("__f_cos").desc, col("coarse_id").asc)
      val fineMap = cent.join(broadcast(coarse), lit(true))
        .withColumn("__f_cos", expr(cosExpr("cent_emb", "coarse_emb")))
        .withColumn("__frk", row_number().over(wf)).filter(col("__frk") === 1)
        .select(col("coarse_id"), col("cent_id"), col("cent_emb"))
      val wc = Window.partitionBy(col(idCol))
        .orderBy(col("__c_cos").desc, col("coarse_id").asc)
      val vCoarse = vecs.join(broadcast(coarse), lit(true))
        .withColumn("__c_cos", expr(cosExpr(embCol, "coarse_emb")))
        .withColumn("__crk", row_number().over(wc)).filter(col("__crk") === 1)
        .select(keep :+ col("coarse_id"): _*)
      val wa = Window.partitionBy(col(idCol))
        .orderBy(col("__a_cos").desc, col("cent_id").asc)
      vCoarse.join(fineMap, Seq("coarse_id"))
        .withColumn("__a_cos", expr(cosExpr(embCol, "cent_emb")))
        .withColumn("__ark", row_number().over(wa)).filter(col("__ark") === 1)
        .select(keep :+ col("cent_id"): _*)
    }
  }

  /** Assign the increment [[DerivedIndex.pending]] finds, keyed on the
    * id column: the first call TRAINS the coarse quantizer on its batch
    * and IS the build; later calls assign against the persisted
    * centroids (one shared rule, so the index cannot drift) and land as
    * ACID appends, one file per touched list ([[DerivedIndex.commit]]).
    * The arguments must match the recorded binding
    * ([[DerivedIndex.bind]]). Returns newly indexed vector count. */
  def ensureIndexed(spark: SparkSession, corpus: Path, index: Path,
      idCol: String = "vec_id", embCol: String = "embedding",
      nClusters: Int = 8): Long = Jobs.labeled(spark, "ann ensureIndexed") {
    graft.functions.VectorFunctions.registerAll(spark)
    val bind = Map("id_col" -> idCol, "emb_col" -> embCol, "n_clusters" -> nClusters.toString)
    val built = DerivedIndex.bind(index, bind, "ensureIndexed")
    val inc = DerivedIndex.pending(spark, corpus, index, idCol)(identity).getOrElse(return 0L)
    val vecs = inc.rows
    val cent =
      if (TxLog.versions(centDir(index)).isEmpty) {
        val c = trainCentroids(spark, vecs, idCol, embCol).localCheckpoint(true)
        TxLog.append(spark, c, centDir(index), "cent_id", nParts = 1): Unit
        c
      } else TxLog.readAt(spark, centDir(index))
    // the live centroid count, from the log's file stats: no count job
    val nCent = TxLog.snapshotAt(centDir(index)).files.map { f =>
      f.rows - TxLog.dvKeysFor(centDir(index), f).fold(0)(_._2.size)
    }.sum
    // the batch's and the assigned counts are both OBSERVED during the
    // checkpoint pass — no separate count job (optimization r17)
    val seen = new Observation
    val obs = new Observation
    val assigned = assignAll(vecs.observe(seen, count(lit(1)).as("n")), cent, nCent,
      idCol, embCol)
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val n = DerivedIndex.observed(obs, "n")
    // fail LOUDLY before the watermark advances: a degenerate build
    // (zero centroids trained, or an assignment that dropped every
    // vector) must not mark the corpus files indexed — that would leave
    // an index permanently serving nothing while claiming coverage.
    // With no centroid, adaptive execution drops the batch's side of the
    // empty join and its count is never observed: the batch is read again
    lazy val batchEmpty =
      if (nCent > 0) DerivedIndex.observed(seen, "n") == 0
      else vecs.isEmpty
    require(n > 0 || batchEmpty,
      s"ANN index build at $index assigned 0 of the batch's vectors " +
        "(zero trained centroids?) — refusing to advance the watermark")
    DerivedIndex.commit(index, inc, if (built) Map.empty else bind, n) { (props, names) =>
      TxLog.appendClustered(spark, assigned, index,
        "cent_id", clusterCol = col("cent_id"), nClusters = nClusters,
        props = props, sources = names): Unit
    }
    n
  }

  /** Max files-per-probe over every trained list — centroid-count-sized
    * driver work (C stats lookups on one snapshot). After [[maintain]]
    * this is exactly 1: the clustered bound. */
  def maxFilesPerCent(spark: SparkSession, index: Path): Int =
    maxFilesPerCent(spark, index, centDir(index))

  /** Same audit for an ad-hoc assignments/centroids pair (the knn06
    * IVFADC tables, which live outside the sibling convention). */
  def maxFilesPerCent(spark: SparkSession, assignments: Path, centroids: Path): Int = {
    val snap = TxLog.snapshotAt(assignments)
    val cents = TxLog.readAt(spark, centroids)
      .select("cent_id").collect().map(_.getLong(0))
    if (cents.isEmpty) 0
    else cents.map(c => TxLog.pruneFilesOn(snap, "cent_id", c, c).size).max
  }

  /** Whether the index carries the PQ (IVFADC) sibling — what folds
    * its maintenance into [[maintain]] behind the same no-guessing
    * fence as the flat index. */
  def hasPq(index: Path): Boolean = pqBinding(index).isDefined

  /** The PQ sibling's (id, emb) binding, from the codes table's
    * properties. */
  private def pqBinding(index: Path): Option[(String, String)] = {
    val p = TxLog.propsAt(codesDir(index))
    p.get("id_col").map(id => (id, p("emb_col")))
  }

  /** PQ-encode the increment [[DerivedIndex.pending]] finds for the
    * codes table — the `pq => true` half of `CALL ann_index` (round-15
    * verdict #5: the knn06 four-table layout folded under the sibling
    * convention). First call TRAINS the codebook on its batch (Pq.model
    * — rank-seeded k-means per sub-space, knn06's knobs) and IS the
    * build; later calls encode against the persisted codebook (a trained
    * artifact never retrains — old codes stay valid).
    * The assignments half ([[ensureIndexed]]) and this half advance as
    * separate idempotent commits: a crash between them re-converges on
    * the next call (the streaming twin knn07 shows the one-transaction
    * composition; the dq08 audit proves the converged consistency). */
  def ensurePq(spark: SparkSession, corpus: Path, index: Path,
      idCol: String = "vec_id", embCol: String = "embedding"): Long =
      Jobs.labeled(spark, "ann ensurePq") {
    graft.functions.VectorFunctions.registerAll(spark)
    val bind = Map("id_col" -> idCol, "emb_col" -> embCol, "dims" -> PqDims.toString,
      "m" -> PqM.toString)
    val built = DerivedIndex.bind(codesDir(index), bind, "ensurePq")
    val inc = DerivedIndex.pending(spark, corpus, codesDir(index), idCol)(identity)
      .getOrElse(return 0L)
    // an anti-joined increment feeds the count AND the encode/train —
    // checkpoint it so the codes-table scan + anti-join run once (a
    // fresh build's rows are a bare parquet read: nothing to save); the
    // increment count rides the checkpoint pass as an observed metric
    val obs = new Observation
    val vecs =
      if (!inc.antiJoined) inc.rows
      else inc.rows.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    val n = if (!inc.antiJoined) vecs.count() else DerivedIndex.observed(obs, "n")
    DerivedIndex.commit(codesDir(index), inc, if (built) Map.empty else bind, n) {
      (props, names) =>
        val codes =
          if (TxLog.versions(cbDir(index)).isEmpty) {
            val (codes0, cb) = Pq.model(vecs, idCol, embCol,
              dims = PqDims, m = PqM, k = pqKOf(n), iters = PqIters)
            val cbMat = cb.localCheckpoint(true)
            require(cbMat.count() > 0,
              s"PQ codebook training at ${cbDir(index)} yielded 0 codewords " +
                "on a nonempty batch — refusing to advance the watermark")
            TxLog.append(spark, cbMat, cbDir(index), "cid", nParts = 1): Unit
            codes0
          } else Pq.encode(vecs, TxLog.readAt(spark, cbDir(index)),
            idCol, embCol, dims = PqDims, m = PqM)
        TxLog.appendClustered(spark, codes, codesDir(index), idCol,
          clusterCol = col("sub"), nClusters = PqSubClusters,
          props = props, sources = names): Unit
    }
    n
  }

  /** One idempotent pass returning the index to the freshly-built
    * shape: (1) assign corpus files not yet in the watermark (the
    * binding properties supply the columns — a legacy index without
    * them REFUSES);
    * (2) re-cluster ALL assignments to one file per list, DVs folded,
    * one atomic commit; (3) the same two steps for the PQ sibling, if
    * built; (4) vacuum every sibling. The trained quantizer is never
    * retrained — serving through the rewrite is row-identical. */
  def maintain(spark: SparkSession, corpus: Path, index: Path,
      vacuumKeep: Int = 1, vacuumMinAgeMs: Long = 0L): DerivedIndex.MaintainReport = {
    val (idCol, embCol, nClusters) = binding(index).getOrElse {
      if (TxLog.versions(index).isEmpty) ("vec_id", "embedding", 8) // fresh: maintain IS the build
      else throw new IllegalStateException(
        s"ANN index at $index has no id_col binding property — its binding is unknown " +
          "and maintenance will not guess one. Run AnnIndex.ensureIndexed once with " +
          "the original idCol/embCol/nClusters to record it, then maintain.")
    }
    val indexedNew = ensureIndexed(spark, corpus, index, idCol, embCol, nClusters)
    val snap0 = TxLog.snapshotAt(index)
    if (snap0.files.nonEmpty)
      TxLog.compactClustered(spark, index, "cent_id",
        clusterCol = col("cent_id"), nClusters = nClusters): Unit
    // the PQ sibling (if built) degrades the same two ways — encode
    // corpus files that arrived since, re-cluster the codes back to
    // their per-subspace layout with DVs folded.
    // Behind the same no-guessing fence: only a self-describing codes
    // sibling (its binding properties) is maintained.
    pqBinding(index).foreach { case (pqId, pqEmb) =>
      ensurePq(spark, corpus, index, pqId, pqEmb): Unit
      if (TxLog.snapshotAt(codesDir(index)).files.nonEmpty)
        TxLog.compactClustered(spark, codesDir(index), pqId,
          clusterCol = col("sub"), nClusters = PqSubClusters): Unit
    }
    DerivedIndex.report(indexedNew, snap0, index,
      DerivedIndex.vacuum(Seq(index, centDir(index), cbDir(index), codesDir(index)),
        vacuumKeep, vacuumMinAgeMs))
  }

  /** The same cure for the IVFADC pair (knn06's four tables): the
    * assignments re-cluster to one file per list and the PQ codes
    * re-cluster back to their per-subspace layout, each folding its
    * knn08 DV sidecars, then both vacuum. Two commits — maintenance is
    * idempotent and readers never block, so cross-table atomicity
    * (which [[TxLog.transact]] gives WRITES) buys nothing here.
    * Returns (assignment files, code files) after. */
  def maintainIvfAdc(spark: SparkSession, assignments: Path, codes: Path,
      nClusters: Int = 8, subClusters: Int = 4,
      vacuumKeep: Int = 1, vacuumMinAgeMs: Long = 0L): (Long, Long) = {
    if (TxLog.snapshotAt(assignments).files.nonEmpty)
      TxLog.compactClustered(spark, assignments, "cent_id",
        clusterCol = col("cent_id"), nClusters = nClusters): Unit
    if (TxLog.snapshotAt(codes).files.nonEmpty)
      TxLog.compactClustered(spark, codes, "vec_id",
        clusterCol = col("sub"), nClusters = subClusters): Unit
    DerivedIndex.vacuum(Seq(assignments, codes), vacuumKeep, vacuumMinAgeMs): Unit
    (TxLog.snapshotAt(assignments).files.size.toLong,
      TxLog.snapshotAt(codes).files.size.toLong)
  }
}

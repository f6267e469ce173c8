package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Similarity search over the `embeddings` table (Array[Float], 64-dim).
  *
  * sim01 is the exact brute-force baseline: a broadcast nested-loop of a
  * small query set against all candidates — the right plan when |Q| is
  * small (the candidate side streams, nothing shuffles, top-k via
  * per-partition window). sim02 is the scale path: IVF-style bucketing
  * (deterministic centroids), where each query probes only its nearest
  * buckets — at 100 TB the candidate scan drops by ~n_lists/n_probes.
  *
  * Cross-engine determinism: dot products are left-fold double sums over
  * the array in index order in BOTH engines (Spark `aggregate` /
  * DuckDB `list_sum∘list_transform`); ranking uses cosine ROUNDED to 6
  * decimals with doc-id tie-breaks, so rank boundaries cannot flip on
  * last-ulp differences.
  */
object SimilarityQueries {

  /** Cosine via the native fused-loop Catalyst expression
    * (graft.functions.CosineSimilarity) — ~8x the declarative
    * aggregate∘zip_with chain and bit-identical to it
    * (VectorExpressionsSpec pins both claims). */
  private def cosExpr(a: String, b: String): String =
    s"round(vector_cosine($a, $b), 6)"

  private def freshTable(): java.nio.file.Path =
    SharedBases.tempDir("graft_sim").resolve("tbl")

  private def reg(spark: SparkSession): Unit =
    graft.functions.VectorFunctions.registerAll(spark)

  // ---- sim01: brute-force cosine top-10 for 8 query vectors. (A named
  // builder so sim05 can reuse it as the recall ground truth.)
  private def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("label"))
      val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"), col("label"),
          expr(cosExpr("q_emb", "c_emb")).as("cosine"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("rk"), col("c_id"), col("label"), col("cosine"))
        .orderBy("q_id", "rk")
  }

  /** CORPUS-SCALED IVF list count: C = max(16, ceil(n / 125)), i.e. a
    * ~125-vector target list size. With C fixed (the pre-round-7 shape)
    * the within-list self-join is n^2/C — quadratic in corpus size —
    * and the 10x scaling sweep measured exactly that bend on knn02
    * (38 s at 10x vs a linear ~12 s expectation; BENCH.md round-7
    * curves). With C ∝ n the per-list size is constant, so list joins
    * are n * target — linear. Floored at 16 so every driver SF
    * (n = 500..2000) computes C = 16, bit-identical to the fixed-16
    * results the oracle gate has always pinned; the DuckDB oracles
    * carry the same GREATEST(16, ...) subquery. */
  private val IvfTargetListSize = 125
  private def ivfCentroids(emb: DataFrame): DataFrame = {
    val nc = emb.agg(greatest(lit(16L),
      expr(s"(count(*) + ${IvfTargetListSize - 1}) div $IvfTargetListSize")).as("n_c"))
    emb.crossJoin(broadcast(nc)).filter(col("vec_id") < col("n_c"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
  }
  private def ivfCentSql: String =
    s"(SELECT GREATEST(16, (COUNT(*) + ${IvfTargetListSize - 1}) // $IvfTargetListSize) FROM embeddings)"

  /** PERSISTED-index coarse centroids, LLOYD-REFINED (round 14): seeds
    * are still the C lowest-id train vectors (C corpus-scaled above),
    * but ONE integer-quantized Lloyd update (km01's bit-deterministic
    * machinery — exact int64 per-dim sums, IEEE-double means, L2
    * argmin with cid tie-break) replaces each seed with its Voronoi
    * cell's mean. First-n seeds alone are deterministic but track the
    * id order, not the data distribution: on skewed real embeddings
    * list sizes imbalance and the hottest list becomes the serving
    * straggler at 100x (sim12 measures max/mean dropping on a skewed
    * fixture). The means live in the quantized (x*1e6) scale; cosine
    * is scale-invariant in each argument, so downstream assignment and
    * probing are unchanged. An empty cell simply drops — deterministic
    * in both engines. In-gate demonstration indexes (sim02, knn01-03,
    * knn05) keep the plain seed rule: their oracles pin the unrefined
    * shape and the production path is the persisted one. */
  private[graft] def refinedIvfCentroids(train: DataFrame): DataFrame = {
    val q = graft.ops.Clustering.quantize(train, "vec_id", "embedding")
    // seeds = the C LOWEST ids BY RANK (not the value test `id < C`,
    // which silently under-seeds a sparse or offset id space — the
    // round-16 ADVICE fix, mirrored in AnnIndex.trainCentroids so the
    // in-query chain and the persisted index train identically). The
    // C-th-smallest id resolves through TakeOrderedAndProject — a
    // distributed top-C, never a global-sort window.
    val cnt = train.count()
    val nC = math.max(16L, (cnt + IvfTargetListSize - 1) / IvfTargetListSize)
    val init = q.join(
        broadcast(q.select(col("vec_id")).orderBy(col("vec_id").asc)
          .limit(math.min(nC, Int.MaxValue.toLong).toInt)),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("cid"),
        expr("transform(q, x -> cast(x as double))").as("m"))
    graft.ops.Clustering.recomputeMeans(
        graft.ops.Clustering.assign(q, init, "vec_id"))
      .select(col("cid").as("cent_id"), col("m").as("cent_emb"))
  }

  /** IVF centroid ranking: every vector joined to its `nProbes` nearest
    * centroid lists (centroids = the C lowest-id vectors, C corpus-
    * scaled above; broadcast C-row attach, round-6 cosine,
    * (cosine desc, cent_id) tie-break). Shared by sim02's probe search
    * and knn01's graph build — one definition so the centroid count /
    * tie-break / hash family cannot silently diverge between the index
    * build and the graph build. (dd08/dd11 keep their own assignment:
    * different module, different candidate flow.) Returns (vec_id,
    * embedding, label, list_id, ark) with ark in [1, nProbes]. */
  private def ivfProbes(spark: SparkSession, dir: String, nProbes: Int): DataFrame = {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val cent = ivfCentroids(emb)
      val assignW = Window.partitionBy(col("vec_id"))
        .orderBy(col("a_cos").desc, col("cent_id").asc)
      emb.join(broadcast(cent), lit(true))
        .select(col("vec_id"), col("embedding"), col("label"), col("cent_id"),
          expr(cosExpr("embedding", "cent_emb")).as("a_cos"))
        .withColumn("ark", row_number().over(assignW))
        .filter(col("ark") <= nProbes)
        .select(col("vec_id"), col("embedding"), col("label"),
          col("cent_id").as("list_id"), col("ark"))
  }

  /** IVF assignment proper: one home list per vector (ark = 1). */
  private def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    ivfProbes(spark, dir, nProbes = 1).drop("ark")

  /** knn01's ranked neighbor relation (src, rk, nbr, cosine), rk <= 3 —
    * shared by knn01 (graph export), knn02 (mutual-kNN clusters) and
    * knn03 (recall audit). MULTI-PROBE build (sim02's probe semantics
    * applied to the graph): ONE checkpointed centroid-ranking pass
    * yields both sides — candidates live in their ark=1 home list, each
    * source scans its nProbes nearest lists — so a vector whose true
    * neighbor sits just across a Voronoi boundary finds it, and a
    * singleton home list no longer strands its vector. A candidate has
    * exactly one home list, so no (src, nbr) pair is produced twice.
    * Cost: sum over lists of nProbes*|list|^2 vs the corpus all-pairs
    * n^2 — the n_lists/nProbes reduction that holds at any scale.
    * nProbes is the recall/cost knob; measured on this corpus
    * (sf0.001, recall@3 vs brute force, knn03's audit): 1 probe 0.60,
    * 2 probes 0.67, 3 probes 0.72, 4 probes 0.74 — the default 3 is
    * the first config clearing the 0.7 bar OpsSpec pins for sim05. */
  // the finished graph is a derived artifact three gates consume
  // (knn01 reports it, knn02 clusters it, knn03 audits its recall) —
  // derived once per (dir, nProbes) per JVM (SharedBases.memo) and
  // shared read-only (localCheckpointed)
  private def knnGraph(spark: SparkSession, dir: String,
      nProbes: Int = 3): DataFrame =
    SharedBases.memo(s"knngraph:$dir#$nProbes")(
      knnGraph0(spark, dir, nProbes).localCheckpoint(true))

  private[queries] def knnGraph0(spark: SparkSession, dir: String,
      nProbes: Int): DataFrame = {
      val ranked = ivfProbes(spark, dir, nProbes)
        .select(col("vec_id"), col("embedding"), col("list_id"), col("ark"))
        .localCheckpoint(true) // one assignment pass feeds both join sides
      // explicit aliases: both sides derive from the SAME checkpointed
      // frame, so an unaliased list_id equality would resolve to the
      // same attribute id — a trivially-true predicate turning the
      // keyed join into a cross product.
      val candidates = ranked.filter(col("ark") === 1).as("c")
      val probes = ranked.as("p")
      val scored = probes.join(candidates,
          col("p.list_id") === col("c.list_id") &&
            col("p.vec_id") =!= col("c.vec_id"))
        .select(col("p.vec_id").as("src"), col("c.vec_id").as("nbr"),
          expr(cosExpr("p.embedding", "c.embedding")).as("cosine"))
      val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("nbr").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("src"), col("rk"), col("nbr"), col("cosine"))
  }

  /** In-engine recall of the knn graph against brute-force ground truth
    * on a sampled query set (sim05's discipline: the exact side runs on
    * the SAMPLE, never the corpus). Exposed for the spec's 1-vs-2-probe
    * lift measurement as well as knn03's gate entry. */
  private[queries] def knnRecall(spark: SparkSession, dir: String,
      nProbes: Int): DataFrame = {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 32)
        .select(col("vec_id").as("src"), col("embedding").as("q_emb"))
      val c = emb.select(col("vec_id").as("nbr"), col("embedding").as("c_emb"))
      val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("nbr").asc)
      val exact = c.join(broadcast(q), col("src") =!= col("nbr"))
        .select(col("src"), col("nbr"), expr(cosExpr("q_emb", "c_emb")).as("cosine"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("src"), col("nbr"))
      val approx = knnGraph(spark, dir, nProbes)
        .filter(col("src") < 32)
        .select(col("src"), col("nbr")).withColumn("__hit", lit(1))
      exact.join(approx, Seq("src", "nbr"), "left_outer")
        .groupBy(col("src"))
        .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("k").cast("double"))
        .orderBy("src")
  }

  // ---- sim02: IVF-bucketed ANN. Centroids = vectors 0..15 (fixed,
  // deterministic); every vector is assigned to its nearest centroid
  // (the "inverted list"); each query probes its 2 nearest lists only.
  private def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val cent = ivfCentroids(emb)
      val assigned = ivfAssign(spark, dir)
      // queries probe their 2 nearest centroids
      val probeW = Window.partitionBy(col("q_id")).orderBy(col("p_cos").desc, col("cent_id").asc)
      val probes = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .join(broadcast(cent), lit(true))
        .select(col("q_id"), col("q_emb"), col("cent_id"),
          expr(cosExpr("q_emb", "cent_emb")).as("p_cos"))
        .withColumn("prk", row_number().over(probeW))
        .filter(col("prk") <= 2)
        .select(col("q_id"), col("q_emb"), col("cent_id").as("list_id"))
      // search only the probed lists
      val scored = probes.join(assigned, Seq("list_id"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("c_id"), col("label"),
          expr(cosExpr("q_emb", "embedding")).as("cosine"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("rk"), col("c_id"), col("label"), col("cosine"))
        .orderBy("q_id", "rk")
  }

  lazy val defs: Map[String, (SparkSession, String) => DataFrame] = baseDefs ++ streamingDefs

  private val baseDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim01_cosine_topk" -> ((spark: SparkSession, dir: String) =>
      bruteForceTopK(spark, dir)),

    "sim02_ivf_ann" -> ((spark: SparkSession, dir: String) =>
      ivfTopK(spark, dir)),

    // ---- sim05: ANN recall, measured IN the engine — per query, the
    // fraction of the exact brute-force top-10 that the IVF index
    // (2-of-16 probes) recovered. This is the quality gauge a production
    // index needs continuously: at 100 TB you can't eyeball recall, you
    // compute it on a sampled query set exactly like this (both sides are
    // keyed joins; the exact side runs on the SAMPLE of queries, not the
    // corpus).
    "sim05_ivf_recall" -> ((spark: SparkSession, dir: String) => {
      val exact = bruteForceTopK(spark, dir).select(col("q_id"), col("c_id"))
      val approx = ivfTopK(spark, dir).select(col("q_id"), col("c_id"))
        .withColumn("__hit", lit(1))
      exact.join(approx, Seq("q_id", "c_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("k").cast("double"))
        .orderBy("q_id")
    }),

    // ---- sim04: quantized-prefilter ANN — stage 1 scores every candidate
    // with the int8 asymmetric dot product (integer arithmetic on
    // floor-quantized codes: EXACT in both engines, no float-order
    // concerns) and keeps the top-30 per query; stage 2 reranks only the
    // survivors with the exact double cosine. At 100 TB stage 1 is the
    // memory-bandwidth win: the scan reads 4x fewer bytes per vector and
    // the exact kernel touches 30 rows per query instead of the corpus.
    "sim04_quantized_rerank" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      def quantized(idAs: String, embAs: String, qAs: String, sAs: String) = emb
        .withColumn("mx", expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
        .select(col("vec_id").as(idAs), col("embedding").as(embAs), col("label"),
          expr("transform(embedding, x -> cast(floor(cast(x as double) * 127.0 / mx) as double))").as(qAs),
          (col("mx") / lit(127.0)).as(sAs))
      val q = quantized("q_id", "q_emb", "qa", "sa").filter(col("q_id") < 8)
        .drop("label")
      val c = quantized("c_id", "c_emb", "qc", "sc")
      val approx = c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"), col("label"), col("q_emb"), col("c_emb"),
          // no round(): the int8 dot is an exact integer in a double and
          // the scale product is the same two IEEE multiplies in both
          // engines, so the raw value is already bit-identical
          expr("vector_dot(qa, qc) * (sa * sc)").as("approx"))
      val preW = Window.partitionBy(col("q_id")).orderBy(col("approx").desc, col("c_id").asc)
      val survivors = approx.withColumn("prk", row_number().over(preW))
        .filter(col("prk") <= 30)
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
      survivors
        .select(col("q_id"), col("c_id"), col("label"), col("approx"),
          expr(cosExpr("q_emb", "c_emb")).as("cosine"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("rk"), col("c_id"), col("label"), col("approx"), col("cosine"))
        .orderBy("q_id", "rk")
    }),

    // ---- knn01: k-NN GRAPH construction — every vector's top-3
    // neighbors, the batch primitive under graph-based dedup/clustering
    // and HNSW-style index bootstraps. Scale shape: vectors are
    // IVF-ranked (sim02's broadcast-16-centroids pass) and the build is
    // MULTI-PROBE (nProbes = 3, sim02's probe semantics): candidates
    // come from each source's 3 nearest lists, never the corpus
    // all-pairs — cost is sum over lists of 3|list|^2, ~n^2/5 here and
    // nProbes n^2/n_lists in general, with n_lists scaled to the corpus.
    // The centroid ranking is checkpointed once and feeds both join sides.
    // The extra probes close the single-probe build's recall gap
    // (neighbors just across a Voronoi boundary; singleton home lists)
    // — knn03 measures it in-engine, and the spec pins the probe lift
    // and the 0.7 bar. Determinism: round-6 cosine + vec_id tie-break.
    // knn01's declared output IS the shared graph artifact, so serving
    // it from the memo would make its bench entry measure a sort over
    // the memoized frame (0.06 s) instead of the derivation. knn01
    // re-derives the graph inside its own timed region every call;
    // knn02/knn03 (which CONSUME the graph as an input to real work)
    // read the memoized copy (knnGraph).
    "knn01_graph" -> ((spark: SparkSession, dir: String) =>
      knnGraph0(spark, dir, nProbes = 3).orderBy("src", "rk")),

    // ---- knn03: k-NN-graph recall audit — per sampled source (vec_id
    // < 32), the fraction of the TRUE top-3 (brute force on the sample,
    // sim05's discipline) that the multi-probe graph recovered. The
    // continuous quality gauge a production graph build ships with: the
    // exact side scores |sample| x n, not n^2.
    "knn03_graph_recall" -> ((spark: SparkSession, dir: String) =>
      knnRecall(spark, dir, nProbes = 3)),

    // ---- knn02: MUTUAL-kNN clusters — the graph-clustering payoff of
    // knn01: keep only RECIPROCATED edges (a in b's top-3 AND b in
    // a's top-3 — the standard symmetrization that kills hub-induced
    // false links), then connected components + member counts over
    // the mutual graph. This is density-based corpus clustering from
    // embeddings without choosing k (contrast km01's k-means): at
    // 100 TB the mutual filter is a self-join of the (src, nbr) edge
    // relation on the reversed key — edge-sized, never vector-sized —
    // and the CC loop runs on checkpointed mutual edges (<= 1.5 x
    // corpus edges). Output: every clustered vector with its entity
    // label and cluster size; singletons (no mutual edge) are absent,
    // exactly like er02's link-cluster semantics.
    "knn02_mutual_clusters" -> ((spark: SparkSession, dir: String) => {
      val e = knnGraph(spark, dir).select(col("src"), col("nbr"))
      val mutual = e.join(
          e.select(col("nbr").as("src"), col("src").as("nbr")),
          Seq("src", "nbr"), "left_semi")
        .filter(col("src") < col("nbr"))
      val cc = graft.ops.Graph.connectedComponents(mutual, "src", "nbr")
      cc.join(cc.groupBy(col("component")).agg(count(lit(1)).as("n_members")),
          "component")
        .select(col("id").as("vec_id"), col("component").as("cluster_id"),
          col("n_members"))
        .orderBy("vec_id")
    }),

    // ---- knn04: HARD-NEGATIVE MINING — the contrastive-training data
    // op: for each anchor of a training batch (vec_id < 32) find the
    // hardest POSITIVE (same label, max cosine), the hardest NEGATIVE
    // (different label, max cosine), and the SEMI-HARD negative
    // (FaceNet's rule: the most-similar negative still farther than the
    // positive), plus the triplet margin the loss will see. One
    // batch-x-corpus broadcast join scores everything (|batch| x n,
    // never n^2 — the corpus side streams through a single scan, the
    // per-anchor top-1s are map-side-combinable window ranks); at 100 TB
    // this is exactly the per-batch miner a trainer runs, so the shape
    // scales with batch size, not corpus size. Anchors whose label has
    // no second member have no positive and drop (inner join) — same
    // rule both engines.
    "knn04_hard_negatives" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 32)
        .select(col("vec_id").as("src"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val scored = emb
        .select(col("vec_id").as("nbr"), col("embedding").as("c_emb"),
          col("label").as("c_label"))
        .join(broadcast(q), col("src") =!= col("nbr"))
        .select(col("src"), col("q_label"), col("nbr"), col("c_label"),
          expr(cosExpr("q_emb", "c_emb")).as("cosine"))
        .localCheckpoint(true) // one scoring pass feeds all three miners
      val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("nbr").asc)
      val pos = scored.filter(col("q_label") === col("c_label"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("src"), col("nbr").as("pos_nbr"), col("cosine").as("pos_cos"))
      val neg = scored.filter(col("q_label") =!= col("c_label"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("src"), col("nbr").as("neg_nbr"), col("cosine").as("neg_cos"))
      val semi = scored.filter(col("q_label") =!= col("c_label"))
        .join(pos.select(col("src"), col("pos_cos")), Seq("src"))
        .filter(col("cosine") < col("pos_cos"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("src"), col("nbr").as("semi_nbr"), col("cosine").as("semi_cos"))
      pos.join(neg, Seq("src")).join(semi, Seq("src"), "left")
        .select(col("src"), col("pos_nbr"), col("pos_cos"),
          col("neg_nbr"), col("neg_cos"), col("semi_nbr"), col("semi_cos"),
          (col("pos_cos") - col("neg_cos")).as("margin"))
        .orderBy("src")
    }),

    // ---- sim03: pairwise label-centroid similarity — mean vector per
    // label (exact elementwise mean via posexplode + group), then cosine
    // between label centroids. Demonstrates vector aggregation.
    "sim03_label_centroids" -> ((spark: SparkSession, dir: String) => {
      val byDim = t(spark, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg((sum(col("v").cast("double")) / count(lit(1))).as("mean_v"), count(lit(1)).as("n"))
      byDim
        .groupBy(col("label"))
        .agg(
          max(col("n")).as("n_vectors"),
          round(sqrt(sum(col("mean_v") * col("mean_v"))), 6).as("centroid_norm"))
        .orderBy("label")
    }),

    // ---- sim06: product-quantization ANN (see graft.ops.Pq) — 8
    // subspaces x corpus-scaled centroids (pqK) trained by the
    // deterministic Lloyd loop, every vector stored as 8 codes; query =
    // floored-integer ADC shortlist (corpus-scaled rerank budget
    // pqShortlist, reads ONLY codes) -> exact rerank of the shortlist
    // -> top-10. The memory-compression scale path: at 100 TB the
    // corpus-wide pass touches the skinny code relation; full vectors
    // are read for the shortlist alone. Oracle = per-subspace
    // km01-style unrolled Lloyd CTEs + the ADC join + rerank, all
    // exact-integer after the floors, same scaled-knob subqueries.
    "sim06_pq_ann" -> ((spark: SparkSession, dir: String) => {
      val emb = t(spark, dir, "embeddings")
      val n = emb.count() // 1-row control-plane agg, the idSpan pattern
      // the shared full-corpus PQ model (trained once per JVM; knn05
      // composes the same artifact with IVF pruning)
      val (codes, codebook) = pqModelFull(spark, dir)
      graft.ops.Pq.adcRerankTopK(emb, codes, codebook,
          emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", dims = 64, m = 8,
          shortlistK = pqShortlist(n), topK = 10)
        .orderBy("rank")
    }),

    // ---- rrf01: HYBRID retrieval fusion — reciprocal-rank fusion
    // (Cormack/Clarke/Buettcher SIGIR'09, k = 60) of a sparse BM25
    // ranking (t14's exact expression) and a dense cosine ranking (one
    // query vector against the corpus). This is the retrieval stack's
    // standard two-arm merge: each arm produces its own top-20 with its
    // own tie-breaks, RRF needs only the RANKS (so float-score
    // incomparability across arms never matters), and a doc found by
    // both arms sums both reciprocals. Scale shape: each arm ends in a
    // distributed TakeOrdered top-20; the rank windows then run over
    // those 20-row bounded relations (not the corpus), and the fusion
    // join is 20x20-bounded.
    "rrf01_hybrid_fusion" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val qterms = Seq("spark", "join", "filter")
      val docsW = t(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val stats = docsW.agg(count(lit(1)).as("n"),
        (sum(size(col("ws"))).cast("double") / count(lit(1))).as("avgdl"))
      val tf = docsW
        .select(col("doc_id"), size(col("ws")).as("dl"), explode(col("ws")).as("w"))
        .filter(col("w").isInCollection(qterms))
        .groupBy(col("doc_id"), col("w"))
        .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
      val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val bmScored = tf.join(broadcast(dfq), "w").crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            col("tf").cast("double") /
            (col("tf").cast("double") +
              lit(1.2) * (lit(1.0) - 0.75 +
                lit(0.75) * col("dl").cast("double") / col("avgdl"))))
            .as("part"))
        .groupBy(col("doc_id")).agg(round(sum(col("part")), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(20) // TakeOrdered
      val sparse = bmScored.withColumn("bm25_rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("bm25_rank")) // 20-row bounded window
      val emb = t(spark, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      val cosTop = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          expr(cosExpr("q_emb", "embedding")).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id").asc).limit(20) // TakeOrdered
      val dense = cosTop.withColumn("cos_rank",
          row_number().over(Window.orderBy(col("cosine").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("cos_rank")) // 20-row bounded window
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("bm25_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("cos_rank")), lit(0.0))).as("rrf"),
          coalesce(col("bm25_rank"), lit(-1)).cast("bigint").as("bm25_rank"),
          coalesce(col("cos_rank"), lit(-1)).cast("bigint").as("cos_rank"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(10)
    }),

    // ---- sim07: the PERSISTED ANN index — IVF as two lake tables
    // (centroids + a cent_id-CLUSTERED assignments table), built ONCE,
    // INCREMENTALLY maintained, and queried from disk. The build
    // assigns the initial corpus (vec_id % 10 != 9) and commits;
    // the growth batch (% 10 = 9) is assigned against the PERSISTED
    // centroids and lands as one more ACID append — no rebuild. The
    // query path reads both tables back from the log. At 100 TB this
    // is the only viable ANN shape: the index build is amortized
    // across every query batch, a probe's candidate scan is confined
    // to the probed lists (the assignments table is clustered by
    // cent_id, so footer [min,max] stats ARE the list boundaries and
    // pushdown skips the rest), and the index itself is versioned —
    // time travel queries yesterday's index during a reindex.
    "sim07_lake_ann" -> ((spark: SparkSession, dir: String) =>
      lakeAnnTopK(spark, dir)),

    // ---- sim09: the recall audit for the PERSISTED index — what sim05
    // is to sim02: per query, the fraction of the exact brute-force
    // top-10 the lake-backed probe recovered. This is the continuous
    // quality gauge a production index service runs against its OWN
    // serving path (build + incremental appends + disk round-trip
    // included), not against an in-memory re-derivation.
    "sim09_lake_ann_recall" -> ((spark: SparkSession, dir: String) => {
      val exact = bruteForceTopK(spark, dir).select(col("q_id"), col("c_id"))
      val approx = lakeAnnTopK(spark, dir).select(col("q_id"), col("c_id"))
        .withColumn("__hit", lit(1))
      exact.join(approx, Seq("q_id", "c_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("k").cast("double"))
        .orderBy("q_id")
    }),

    // ---- knn05: IVF + PQ — the production ANN architecture (FAISS's
    // IVFADC, Jégou et al. 2011 §V): the coarse quantizer prunes the
    // corpus to the query's nProbes=2 nearest inverted lists, the ADC
    // pass scores ONLY those candidates from their m-byte codes, and
    // the exact rerank touches shortlist vectors alone. sim02 (IVF over
    // full vectors) and sim06 (PQ over the whole corpus) each solve
    // half the 100 TB problem; composed, the corpus-wide work is
    // |probed lists| * m bytes per candidate — neither the full vectors
    // nor the full code relation. Assignment, codebook training, and
    // the ADC arithmetic reuse the exact shared rules (ivfProbes,
    // Pq.model), so the oracle restates both halves verbatim.
    "knn05_ivf_pq" -> ((spark: SparkSession, dir: String) => {
      val emb = t(spark, dir, "embeddings")
      val n = emb.count()
      val home = ivfAssign(spark, dir).select(col("vec_id"), col("list_id"))
      val qProbes = ivfProbes(spark, dir, nProbes = 2)
        .filter(col("vec_id") === 0).select(col("list_id"))
      val cand = home.join(broadcast(qProbes), Seq("list_id")).select("vec_id")
      val (codes, codebook) = pqModelFull(spark, dir)
      val codesCand = codes.join(cand, Seq("vec_id"))
      graft.ops.Pq.adcRerankTopK(emb, codesCand, codebook,
          emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", dims = 64, m = 8,
          shortlistK = pqShortlist(n), topK = 10)
        .orderBy("rank")
    }),

    // ---- sim10: the PERSISTED PQ index — sim07's "index is a table"
    // lifecycle applied to sim06's memory-compression path. The
    // codebook trains ONCE on the initial corpus (vec_id % 10 != 9)
    // and both artifacts — the m x k codebook and the sub-CLUSTERED
    // skinny code relation — commit as versioned lake tables. The
    // growth batch is encoded against the PERSISTED codebook
    // (Pq.encode: nearest-codeword assignment, NEVER a retrain — the
    // production contract that keeps old codes valid) and lands as one
    // more ACID append. The ADC query reads codes + codebook purely
    // from disk and reranks only its shortlist from the vector
    // relation. At 100 TB this is the only viable PQ shape: training
    // cost amortizes across every arrival batch, the corpus-wide pass
    // reads m bytes/vector from the code table, and the index is
    // versioned — a reindex can't break in-flight queries.
    "sim10_lake_pq" -> ((spark: SparkSession, dir: String) => {
      val emb = t(spark, dir, "embeddings")
      val c0 = emb.filter(col("vec_id") % 10 =!= 9)
      val growth = emb.filter(col("vec_id") % 10 === 9)
      val n = c0.count() // TRAIN-corpus-scaled knobs (1-row agg)
      // shared pq0 build state (codebook + c0 codes), cloned — the
      // growth encode below appends to the codes table
      val fam = SharedBases.cloned(spark, pqFam0(spark, dir))
      val codeTable = fam.resolve("codes")
      val cbLake = graft.ops.TxLog.readAt(spark, fam.resolve("cb"))
      graft.ops.TxLog.appendClustered(spark,
        graft.ops.Pq.encode(growth, cbLake, "vec_id", "embedding", dims = 64, m = 8),
        codeTable, "vec_id", clusterCol = col("sub"), nClusters = 2)
      val codesLake = graft.ops.TxLog.readAt(spark, codeTable)
      graft.ops.Pq.adcRerankTopK(emb, codesLake, cbLake,
          emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", dims = 64, m = 8,
          shortlistK = pqShortlist(n), topK = 10)
        .orderBy("rank")
    }),

    // ---- knn06: IVFADC SERVED FROM THE PERSISTED INDEX — knn05 proves
    // the composition (Jégou et al. IVF pruning x PQ codes) but trains
    // its codebook and assigns lists in-gate; sim07 and sim10 prove the
    // artifacts persist. This composes them the way a production index
    // service runs: the BUILD commits all four artifacts (coarse
    // centroids, cent_id-clustered assignments, PQ codebook,
    // sub-clustered codes) as versioned lake tables; GROWTH advances
    // BOTH index halves in ONE multi-table ACID transaction (the tx23
    // machinery applied to index maintenance — a crash can never leave
    // a vector coarse-listed but code-less, which would silently drop
    // it from every ADC pass); and SERVING reads lake tables only — no
    // Lloyd iteration anywhere in the query plan (PlanSpec pins this).
    // The gate is the sim09 discipline: recall@10 of the served path
    // against the exact quantized-L2 top-10 for 4 queries. At 100 TB
    // this is the only viable shape — training amortizes across every
    // arrival batch, a probe reads |2 lists| * m bytes per candidate,
    // and both tables version together because they commit together.
    "knn06_lake_ivfadc" -> ((spark: SparkSession, dir: String) => {
      val (centT, assignT, cbT, codeT) = buildLakeIvfPq(spark, dir)
      val approx = serveLakeIvfAdc(spark, dir, centT, assignT, cbT, codeT)
        .select(col("q_id"), col("vec_id")).withColumn("__hit", lit(1))
      val exact = exactQuantizedTopK(spark, dir)
      exact.join(approx, Seq("q_id", "vec_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("k").cast("double"))
        .orderBy("q_id")
    }),

    // ---- sim12: CENTROID-BALANCE AUDIT — the measured case for the
    // Lloyd refinement (dd17/sim05's audit discipline applied to the
    // coarse quantizer): list-size imbalance (max/mean, x100 integer)
    // under the plain first-C seed rule vs the refined rule, on the
    // real corpus AND a skewed fixture (80% of vectors replaced by
    // copies of 10 high-id prototypes — the hot-topic shape real
    // embedding corpora have). Hot lists are the serving stragglers at
    // 100x: a probe pays the probed list's length, so max/mean IS the
    // tail-latency multiplier. All counts are exact integers the
    // oracle recomputes; the never-worse claim rides as a literal
    // flag (strict improvement measures at sf0.01/0.1; on the sf0.001
    // fixture the exact-copy clumps are unsplittable and refinement
    // exactly reproduces the seed stats), so if refinement ever makes
    // balance WORSE, the gate breaks instead of silently passing.
    "sim12_centroid_balance" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val maxId = emb.agg(max(col("vec_id").cast("long"))).head.getLong(0)
      val protos = emb.filter(col("vec_id") >= lit(maxId - 9L))
        .select((col("vec_id").cast("long") - lit(maxId - 9L)).as("pslot"),
          col("embedding").as("p_emb"))
      val skewed = emb
        .join(broadcast(protos), col("vec_id").cast("long") % 10 === col("pslot"))
        .select(col("vec_id"),
          when(col("vec_id") % 5 =!= 0, col("p_emb"))
            .otherwise(col("embedding")).as("embedding"))
      def audit(corpus: DataFrame, fixture: String): DataFrame = {
        val c = corpus.localCheckpoint(true) // feeds seeds, training, both assignments
        val nc = c.agg(greatest(lit(16L),
          expr(s"(count(*) + ${IvfTargetListSize - 1}) div $IvfTargetListSize")).as("n_c"))
        val seedCent = c.crossJoin(broadcast(nc)).filter(col("vec_id") < col("n_c"))
          .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
        def listStats(cent: DataFrame, prefix: String): DataFrame = {
          val w = Window.partitionBy(col("vec_id"))
            .orderBy(col("a_cos").desc, col("cent_id").asc)
          c.join(broadcast(cent), lit(true))
            .select(col("vec_id"), col("cent_id"),
              expr(cosExpr("embedding", "cent_emb")).as("a_cos"))
            .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
            .groupBy("cent_id").agg(count(lit(1)).as("cnt"))
            .agg(count(lit(1)).as("n_lists"), max(col("cnt")).as("max_list"),
              sum(col("cnt")).as("n"))
            .select(col("n_lists").as(s"${prefix}_n_lists"),
              col("max_list").as(s"${prefix}_max_list"),
              expr("(max_list * 100 * n_lists) div n")
                .as(s"${prefix}_max_x100_over_mean"))
        }
        listStats(seedCent, "seed")
          .crossJoin(broadcast(listStats(refinedIvfCentroids(c), "refined")))
          .select(lit(fixture).as("fixture"),
            col("seed_n_lists"), col("seed_max_list"), col("seed_max_x100_over_mean"),
            col("refined_n_lists"), col("refined_max_list"),
            col("refined_max_x100_over_mean"),
            (col("refined_max_x100_over_mean") <= col("seed_max_x100_over_mean"))
              .as("not_worse"))
      }
      audit(emb.select(col("vec_id"), col("embedding")), "real")
        .unionByName(audit(skewed, "skew"))
        .orderBy("fixture")
    }),
  )

  /** knn06's BUILD: all four IVFADC artifacts as lake tables. The
    * initial corpus (vec_id % 10 != 9) trains both quantizers; the
    * growth batch (% 10 = 9) is assigned against the PERSISTED
    * centroids and encoded against the PERSISTED codebook, and both
    * appends commit in ONE multi-table transaction.
    *
    * knn06/08/09 and dq08 all need this SAME deterministic build, so it
    * is two shared families (`ivfpq_base`, `ivfpq_full`), each holding
    * the tables `cent`, `assign`, `cb` and `codes`. Every caller
    * receives a fresh ZERO-COPY CLONE (SharedBases.cloned): the
    * delete/maintain gates mutate their own logs and can never bleed
    * into each other; a clone's vacuum only unlinks ITS hardlinks. */
  private[graft] def buildLakeIvfPq(spark: SparkSession, dir: String):
      (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path, java.nio.file.Path) =
    ivfPqTables(SharedBases.cloned(spark, ivfPqFamFull(spark, dir)))

  /** knn07's opening state: a clone of the `ivfpq_base` family. */
  private[graft] def buildLakeIvfPqBase(spark: SparkSession, dir: String):
      (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path, java.nio.file.Path) =
    ivfPqTables(SharedBases.cloned(spark, ivfPqFam0(spark, dir)))

  private def ivfPqTables(b: java.nio.file.Path):
      (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path, java.nio.file.Path) =
    (b.resolve("cent"), b.resolve("assign"), b.resolve("cb"), b.resolve("codes"))

  /** knn06/knn07's BASE build: the initial corpus (vec_id % 10 != 9)
    * trains both quantizers and all four artifacts commit as lake
    * tables; growth is NOT applied here — knn06 adds it as one batch
    * transaction, knn07 as streaming exactly-once transactions. */
  private def ivfPqFam0(spark: SparkSession, dir: String): java.nio.file.Path =
    SharedBases.base(spark, s"ivfpq_base:$dir") { b =>
      reg(spark)
      val (centT, assignT, cbT, codeT) = ivfPqTables(b)
      val emb = t(spark, dir, "embeddings")
      val c0 = emb.filter(col("vec_id") % 10 =!= 9)
      val n0 = c0.count() // TRAIN-corpus-scaled knobs (1-row agg)
      // coarse quantizer: sim07's Lloyd-refined centroid rule on the
      // TRAIN corpus (training runs at BUILD time only; serving still
      // reads lake tables with no Lloyd in the plan — PlanSpec pins it)
      val cent = refinedIvfCentroids(c0)
      graft.ops.TxLog.append(spark, cent, centT, "cent_id", nParts = 1)
      graft.ops.TxLog.appendClustered(spark,
        graft.ops.Ann.assignToCentroids(c0, cent), assignT,
        "cent_id", clusterCol = col("cent_id"), nClusters = 8)
      val (codes0, codebook) = graft.ops.Pq.model(
        c0, "vec_id", "embedding", dims = 64, m = 8, k = pqK(n0), iters = 2)
      graft.ops.TxLog.append(spark, codebook, cbT, "cid", nParts = 1)
      graft.ops.TxLog.appendClustered(spark, codes0, codeT,
        "vec_id", clusterCol = col("sub"), nClusters = 4)
    }

  /** ivfpq_base + the growth batch, applied as ONE transaction with two
    * participants: the assignments and codes tables advance atomically
    * (all-or-nothing across crashes). */
  private def ivfPqFamFull(spark: SparkSession, dir: String): java.nio.file.Path =
    SharedBases.base(spark, s"ivfpq_full:$dir") { b =>
      SharedBases.cloneInto(spark, ivfPqFam0(spark, dir), b)
      val (centT, assignT, cbT, codeT) = ivfPqTables(b)
      val emb = t(spark, dir, "embeddings")
      val growth = emb.filter(col("vec_id") % 10 === 9)
      val centLake = graft.ops.TxLog.readAt(spark, centT)
      val cbLake = graft.ops.TxLog.readAt(spark, cbT)
      graft.ops.TxLog.transact(spark, Seq(
        graft.ops.TxLog.TxnAppend(assignT,
          graft.ops.Ann.assignToCentroids(growth, centLake), "cent_id", nParts = 1),
        graft.ops.TxLog.TxnAppend(codeT,
          graft.ops.Pq.encode(growth, cbLake, "vec_id", "embedding", dims = 64, m = 8),
          "vec_id", nParts = 1))): Unit
    }

  // ---- SHARED ANN/PQ build families: every build two or more gates
  // repeat verbatim. Canonical families build once per JVM; read-only
  // consumers read them directly, mutating consumers get zero-copy
  // clones.

  /** ann0: refined centroids + the c0 assignments (8-cluster layout) —
    * the build phase sim07/sim08/sim13 share; growth NOT applied. */
  private def annFam0(spark: SparkSession, dir: String): java.nio.file.Path =
    SharedBases.base(spark, s"ann0:$dir") { b =>
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val c0 = emb.filter(col("vec_id") % 10 =!= 9)
      val cent = refinedIvfCentroids(c0).localCheckpoint(true)
      graft.ops.TxLog.append(spark, cent, b.resolve("cent"), "cent_id", nParts = 1)
      graft.ops.TxLog.appendClustered(spark,
        graft.ops.Ann.assignToCentroids(c0, cent), b.resolve("assign"),
        "cent_id", clusterCol = col("cent_id"), nClusters = 8)
    }

  /** annFull: ann0 + the growth batch assigned against the PERSISTED
    * centroids (2-cluster append) — sim07's final index state; sim07
    * and sim09 serve it read-only, sim13 clones it. */
  private def annFamFull(spark: SparkSession, dir: String): java.nio.file.Path =
    SharedBases.base(spark, s"annfull:$dir") { b =>
      SharedBases.cloneInto(spark, annFam0(spark, dir), b)
      val emb = t(spark, dir, "embeddings")
      val growth = emb.filter(col("vec_id") % 10 === 9)
      val centLake = graft.ops.TxLog.readAt(spark, b.resolve("cent"))
      graft.ops.TxLog.appendClustered(spark,
        graft.ops.Ann.assignToCentroids(growth, centLake), b.resolve("assign"),
        "cent_id", clusterCol = col("cent_id"), nClusters = 2)
    }

  /** pq0: the persisted-PQ build phase sim10/sim11 share — codebook
    * trained on c0 (Pq.model), c0 codes sub-clustered 4-way. */
  private def pqFam0(spark: SparkSession, dir: String): java.nio.file.Path =
    SharedBases.base(spark, s"pq0:$dir") { b =>
      val emb = t(spark, dir, "embeddings")
      val c0 = emb.filter(col("vec_id") % 10 =!= 9)
      val n = c0.count()
      val (codes0, codebook) = graft.ops.Pq.model(
        c0, "vec_id", "embedding", dims = 64, m = 8, k = pqK(n), iters = 2)
      graft.ops.TxLog.append(spark, codebook, b.resolve("cb"), "cid", nParts = 1)
      graft.ops.TxLog.appendClustered(spark, codes0, b.resolve("codes"),
        "vec_id", clusterCol = col("sub"), nClusters = 4)
    }

  /** The FULL-corpus PQ model sim06 and knn05 both train in-gate —
    * trained once per JVM, shared read-only (localCheckpointed): a
    * trained artifact, not a query result; both gates still compute
    * their rankings from it in full. */
  private def pqModelFull(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    SharedBases.memo(s"pqmodel_full:$dir") {
      val emb = t(spark, dir, "embeddings")
      val n = emb.count()
      val (codes, codebook) = graft.ops.Pq.model(
        emb, "vec_id", "embedding", dims = 64, m = 8, k = pqK(n), iters = 2)
      (codes.localCheckpoint(true), codebook.localCheckpoint(true))
    }

  /** ab0: embeddings corpus (90%, 2 parts) + the CALL-driven flat ANN
    * sibling — the opening state of sim14 (and, with the PQ sibling
    * added, knn10/knn11). */
  private def abFam0(spark: SparkSession, dir: String): java.nio.file.Path =
    SharedBases.base(spark, s"ab0:$dir") { b =>
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val cat = SharedBases.catalogFor(spark, b)
      graft.ops.TxLog.append(spark,
        emb.filter(col("vec_id") % 10 =!= 9)
          .select(col("vec_id").cast("bigint").as("vec_id"),
            col("embedding"), col("label")),
        b.resolve("tbl"), "vec_id", nParts = 2)
      spark.sql(s"CALL $cat.ann_index('tbl', 'vec_id', 'embedding')").collect(): Unit
    }

  /** ab1: ab0 + the PQ (codes) sibling — knn10/knn11's opening state.
    * The refresh CALL trains the codebook on the same 90% batch the
    * original first call trained on (the flat half no-ops: watermark
    * current). */
  private def abFam1(spark: SparkSession, dir: String): java.nio.file.Path =
    SharedBases.base(spark, s"ab1:$dir") { b =>
      SharedBases.cloneInto(spark, abFam0(spark, dir), b)
      val cat = SharedBases.catalogFor(spark, b)
      spark.sql(s"CALL $cat.ann_index('tbl', 'vec_id', 'embedding', pq => true)")
        .collect(): Unit
    }

  /** docEmb: the documents⋈embeddings corpus with its text AND flat ANN
    * siblings built through the SQL procedures — the opening state of
    * lf01 and dq09 (dq09 adds the PQ sibling on its clone). */
  private def docEmbFam(spark: SparkSession, dir: String): java.nio.file.Path =
    SharedBases.base(spark, s"docemb:$dir") { b =>
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val docsT = t(spark, dir, "documents")
      val d = docsT.select(col("doc_id").cast("bigint").as("doc_id"), col("text"))
        .join(emb.select(col("vec_id").cast("bigint").as("doc_id"),
          col("embedding"), col("label")), "doc_id")
      val cat = SharedBases.catalogFor(spark, b)
      graft.ops.TxLog.append(spark, d, b.resolve("tbl"), "doc_id", nParts = 2)
      spark.sql(s"CALL $cat.text_index('tbl', 'text')").collect(): Unit
      spark.sql(s"CALL $cat.ann_index('tbl', 'doc_id', 'embedding')").collect(): Unit
    }

  /** knn06's SERVING path — reads ONLY committed lake tables (plus the
    * base vector relation for the query rows and the shortlist rerank):
    * probe 2 lists from the persisted centroids, candidates from the
    * persisted assignments, ADC from the persisted codes + codebook.
    * No Lloyd iteration, no assignment, no training in this plan. */
  private[graft] def serveLakeIvfAdc(spark: SparkSession, dir: String,
      centT: java.nio.file.Path, assignT: java.nio.file.Path,
      cbT: java.nio.file.Path, codeT: java.nio.file.Path): DataFrame = {
    reg(spark)
    val emb = t(spark, dir, "embeddings")
    // knob only — deterministic per corpus dir, memoized so each serve
    // doesn't pay a corpus-count job to size the shortlist
    val n0 = SharedBases.memo(s"train_count:$dir")(
      emb.filter(col("vec_id") % 10 =!= 9).count())
    val centLake = graft.ops.TxLog.readAt(spark, centT)
    val assignLake = graft.ops.TxLog.readAt(spark, assignT)
    val cbLake = graft.ops.TxLog.readAt(spark, cbT)
    val codesLake = graft.ops.TxLog.readAt(spark, codeT)
    (0 until 4).map { qid =>
      val q = emb.filter(col("vec_id") === qid)
      val probeW = Window.orderBy(col("p_cos").desc, col("cent_id").asc)
      val probeLists = centLake
        .crossJoin(broadcast(q.select(col("embedding").as("q_emb"))))
        .select(col("cent_id"), expr(cosExpr("q_emb", "cent_emb")).as("p_cos"))
        .withColumn("prk", row_number().over(probeW)).filter(col("prk") <= 2)
        .select(col("cent_id"))
      val cand = assignLake.join(broadcast(probeLists), Seq("cent_id"))
        .select("vec_id")
      val codesCand = codesLake.join(cand, Seq("vec_id"))
      graft.ops.Pq.adcRerankTopK(emb, codesCand, cbLake, q,
          "vec_id", "embedding", dims = 64, m = 8,
          shortlistK = pqShortlist(n0), topK = 10)
        .withColumn("q_id", lit(qid.toLong))
    }.reduce(_ unionAll _)
      .select(col("q_id"), col("rank"), col("vec_id"),
        col("exact_dist"), col("approx_dist"))
  }

  /** The exact ground truth in the SAME metric the ADC rerank ranks by
    * (quantized squared L2), full-corpus, per query 0..3 — so knn06's
    * recall isolates exactly the IVF-pruning + shortlist loss.
    *
    * MEMOIZED per (dir, candidate filter) per JVM (SharedBases.memo):
    * the relation is deterministic — six
    * gates (knn06/08/09/10/11, dq08) re-deriving the same brute-force
    * pass measured the corpus scan six times, not the operator under
    * test. `surviving = true` restricts candidates to knn08's
    * post-GDPR corpus (vec_id % 9 != 8); queries always rank. */
  private def exactQuantizedTopK(spark: SparkSession, dir: String,
      surviving: Boolean = false): DataFrame =
    SharedBases.memo(s"exact_topk:$dir#$surviving") {
      val keep = if (surviving) col("vec_id") % 9 =!= 8 else lit(true)
      exactQuantizedTopK0(spark, dir, keep).localCheckpoint(true)
    }

  private def exactQuantizedTopK0(spark: SparkSession, dir: String,
      keep: org.apache.spark.sql.Column): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val qz = graft.ops.Clustering.quantize(emb, "vec_id", "embedding")
    val q = qz.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("q").as("qq"))
    // `keep` restricts the CANDIDATE corpus (knn08's post-delete ground
    // truth); queries always rank
    val scored = qz.filter(keep).join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        expr("cast(floor(aggregate(zip_with(q, qq, (a, b) -> " +
          "(cast(a as double) - cast(b as double)) * " +
          "(cast(a as double) - cast(b as double))), 0D, " +
          "(acc, x) -> acc + x)) as long)").as("exact_dist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("exact_dist").asc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id"))
  }

  /** sim07's body as a named builder so sim09 can audit the SERVED
    * index (lake round-trip included) against brute force. */
  private def lakeAnnTopK(spark: SparkSession, dir: String): DataFrame = {
      reg(spark)
      // shared ann-full family (build + growth, annFamFull) — sim07 and
      // sim09 serve it read-only; the build/assignment rules are the
      // family's, unchanged from the original in-gate build
      val fam = annFamFull(spark, dir)
      serveLakeAnn(spark, dir,
        graft.ops.TxLog.readAt(spark, fam.resolve("cent")),
        graft.ops.TxLog.readAt(spark, fam.resolve("assign")))
  }

  /** sim07's SERVING plan alone (2-probe IVF from lake relations) —
    * shared by sim07's gate, sim13's delete-propagation gate, and the
    * serve-only bench lane. */
  private[graft] def serveLakeAnn(spark: SparkSession, dir: String,
      centLake: DataFrame, assignLake: DataFrame): DataFrame = {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val probeW = Window.partitionBy(col("q_id"))
        .orderBy(col("p_cos").desc, col("cent_id").asc)
      val probes = q.join(broadcast(centLake.select(col("cent_id"), col("cent_emb"))), lit(true))
        .select(col("q_id"), col("q_emb"), col("cent_id"),
          expr(cosExpr("q_emb", "cent_emb")).as("p_cos"))
        .withColumn("prk", row_number().over(probeW)).filter(col("prk") <= 2)
        .select(col("q_id"), col("q_emb"), col("cent_id"))
      val scored = probes.join(assignLake, Seq("cent_id"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("c_id"), col("label"),
          expr(cosExpr("q_emb", "embedding")).as("cosine"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .select(col("q_id"), col("rk"), col("c_id"), col("label"), col("cosine"))
        .orderBy("q_id", "rk")
  }

  val streamingDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- sim08: STREAMING maintenance of the persisted index — the
    // production shape sim07's batch increment approximates: new
    // vectors land in a bronze lake table, a graft-lake TAIL assigns
    // each micro-batch against the PERSISTED centroids and appends it
    // into the index with a batch-id-tagged exactly-once commit. The
    // index stays queryable and consistent through the whole drain
    // (every intermediate state is a committed snapshot), and a
    // restarted stream cannot double-index a batch. The probe query —
    // identical semantics to sim07's — must return the same rows, so
    // the two maintenance paths (batch increment, streaming tail) are
    // cross-gated against each other through one oracle.
    "sim08_streaming_index" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val growth = emb.filter(col("vec_id") % 10 === 9)
      // shared ann0 build state (sim07's batch-build twin), cloned —
      // the streamed growth below mutates the assignments table
      val fam = SharedBases.cloned(spark, annFam0(spark, dir))
      val assignTable = fam.resolve("assign")
      val bronze = fam.resolve("bronze")
      // the shared assignment kernel (flat at test scale, two-level
      // beyond Ann.TwoLevelMinCentroids) — identical to sim07's, so the
      // batch and streaming maintenance paths cannot drift
      def assignTo(vecs: DataFrame, centDf: DataFrame): DataFrame =
        graft.ops.Ann.assignToCentroids(vecs, centDf)
      val centLake = graft.ops.TxLog.readAt(spark, fam.resolve("cent"))
      // arrivals: two bronze commits, one graft-lake micro-batch each
      graft.ops.TxLog.append(spark, growth.filter(col("vec_id") % 2 === 0),
        bronze, "vec_id", nParts = 1)
      graft.ops.TxLog.append(spark, growth.filter(col("vec_id") % 2 === 1),
        bronze, "vec_id", nParts = 1)
      val ckpt = SharedBases.tempDir("graft_sim8_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", "1")
        .load(bronze.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          graft.ops.TxLog.streamingAppend(spark, assignTo(b, centLake),
            bid, assignTable, "cent_id"): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // probe purely from the persisted, stream-maintained index —
      // sim07's serving plan, one shared definition
      serveLakeAnn(spark, dir, centLake, graft.ops.TxLog.readAt(spark, assignTable))
    }),

    // ---- knn08: DELETE PROPAGATION through BOTH IVFADC halves in ONE
    // TRANSACTION per micro-batch — sim13's flow applied to the
    // composed index, with knn06's atomicity discipline inverted for
    // deletes: a crash can never leave a vector coarse-listed but
    // code-less OR code-listed but unprobeable, because the
    // assignments' and codes' merge-on-read deletes commit together
    // (TxLog.transact, churn-sized DV sidecars). The trained quantizers
    // (centroids, codebook) stay; the recall gate re-baselines the
    // exact ground truth on the SURVIVING corpus, so a deleted vector
    // leaking into any ADC pass breaks the hash.
    "knn08_ivfadc_delete" -> ((spark: SparkSession, dir: String) => {
      val (centT, assignT, cbT, codeT) = buildLakeIvfPq(spark, dir)
      val emb = t(spark, dir, "embeddings")
      val bronze = freshTable()
      graft.ops.TxLog.append(spark,
        emb.select(col("vec_id").cast("bigint").as("vec_id"),
          col("embedding"), col("label")),
        bronze, "vec_id", nParts = 2)
      graft.ops.TxLog.deleteMor(spark, bronze,
        emb.filter(col("vec_id") % 9 === 8)
          .select(col("vec_id").cast("bigint").as("vec_id")), "vec_id"): Unit
      val ckpt = SharedBases.tempDir("graft_knn8_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", "1")
        .load(bronze.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val dels = b.filter(col("_change_type") === "delete")
            .select(col("vec_id")).distinct().localCheckpoint(true)
          if (!dels.isEmpty)
            graft.ops.TxLog.transact(spark, Seq(
              graft.ops.TxLog.TxnDeleteMor(assignT, dels, "vec_id"),
              graft.ops.TxLog.TxnDeleteMor(codeT, dels, "vec_id"))): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val approx = serveLakeIvfAdc(spark, dir, centT, assignT, cbT, codeT)
        .select(col("q_id"), col("vec_id")).withColumn("__hit", lit(1))
      val exact = exactQuantizedTopK(spark, dir, surviving = true)
      exact.join(approx, Seq("q_id", "vec_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("k").cast("double"))
        .orderBy("q_id")
    }),

    // ---- knn09: IVFADC LIFECYCLE MAINTENANCE — sim14's cure for the
    // composed index. knn06's growth transaction appends UNCLUSTERED
    // (nParts=1) file-sets whose cent_id footers span every list, so
    // after growth EVERY probe pays the growth files; knn08's delete
    // transaction leaves DV sidecars on BOTH halves. maintainIvfAdc
    // re-clusters the assignments to one file per inverted list and the
    // codes back to their per-subspace layout, folding the DVs, then
    // vacuums — and the served recall is bit-identical through the
    // rewrite (knn08's oracle gates it; the layout claims are literals).
    "knn09_ivfadc_maintain" -> ((spark: SparkSession, dir: String) => {
      val (centT, assignT, cbT, codeT) = buildLakeIvfPq(spark, dir)
      val emb = t(spark, dir, "embeddings")
      // knn08's delete flow, batch-shaped: both halves in ONE txn
      val dels = emb.filter(col("vec_id") % 9 === 8)
        .select(col("vec_id").cast("bigint").as("vec_id")).localCheckpoint(true)
      graft.ops.TxLog.transact(spark, Seq(
        graft.ops.TxLog.TxnDeleteMor(assignT, dels, "vec_id"),
        graft.ops.TxLog.TxnDeleteMor(codeT, dels, "vec_id"))): Unit
      val overlapBefore =
        graft.ops.AnnIndex.maxFilesPerCent(spark, assignT, centT) > 1
      val dvsBefore =
        graft.ops.TxLog.snapshotAt(assignT).files.exists(_.dv.isDefined) &&
        graft.ops.TxLog.snapshotAt(codeT).files.exists(_.dv.isDefined)
      graft.ops.AnnIndex.maintainIvfAdc(spark, assignT, codeT): Unit
      val maxAfter = graft.ops.AnnIndex.maxFilesPerCent(spark, assignT, centT)
      val dvsAfter =
        graft.ops.TxLog.snapshotAt(assignT).files.count(_.dv.isDefined) +
        graft.ops.TxLog.snapshotAt(codeT).files.count(_.dv.isDefined)
      val approx = serveLakeIvfAdc(spark, dir, centT, assignT, cbT, codeT)
        .select(col("q_id"), col("vec_id")).withColumn("__hit", lit(1))
      val exact = exactQuantizedTopK(spark, dir, surviving = true)
      exact.join(approx, Seq("q_id", "vec_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("k").cast("double"))
        .withColumn("overlap_before", lit(overlapBefore))
        .withColumn("max_files_per_cent_after", lit(maxAfter.toLong))
        .withColumn("dvs_folded", lit(dvsBefore && dvsAfter == 0))
        .orderBy("q_id")
    }),

    // ---- knn10: the IVFADC FOUR-TABLE LAYOUT UNDER THE SIBLING
    // CONVENTION, driven entirely from SQL (round-15 verdict #5):
    // `CALL ann_index(..., pq => true)` builds/refreshes the flat
    // assignments AND the codes sibling (`tbl_ann_ix_codes` + codebook
    // + its own meta/watermark), `CALL forget` erases the GDPR class
    // from corpus + assignments + codes in ONE transaction, and
    // `CALL maintain` now reaches the codes sibling automatically
    // (maintainIvfAdc's cure behind the same no-guessing meta fence).
    // Serving and the recall are knn08's verbatim, so the hand-driven
    // four-table path (knn09) and the SQL sibling path are cross-gated
    // through ONE oracle; the layout cure and the atomic-forget marker
    // ride as literals.
    "knn10_pq_sibling_sql" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      // shared ab1 state (train corpus + first pq => true CALL — both
      // quantizers train there), cloned; the 2 growth increments still
      // run through the procedure here
      val base = SharedBases.cloned(spark, abFam1(spark, dir))
      val corpus = base.resolve("tbl")
      val cat = SharedBases.catalogFor(spark, base)
      Seq(col("vec_id") % 10 === 9 && col("vec_id") % 2 === 0,
          col("vec_id") % 10 === 9 && col("vec_id") % 2 === 1)
        .foreach { p =>
          graft.ops.TxLog.append(spark,
            emb.filter(p).select(col("vec_id").cast("bigint").as("vec_id"),
              col("embedding"), col("label")),
            corpus, "vec_id", nParts = 2)
          spark.sql(s"CALL $cat.ann_index('tbl', 'vec_id', 'embedding', " +
            "pq => true)").collect(): Unit
        }
      val index = base.resolve("tbl_ann_ix")
      val codes = base.resolve("tbl_ann_ix_codes")
      spark.sql(s"CALL $cat.forget('tbl', 'vec_id', 'vec_id % 9 = 8')").collect(): Unit
      def headTxn(p: java.nio.file.Path): String = {
        val vs = graft.ops.TxLog.versions(p)
        val s = new String(java.nio.file.Files.readAllBytes(
          p.resolve("_graft_log").resolve(f"v${vs.last}%020d").resolve("commit.json")))
        """"txn"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      }
      val m = headTxn(corpus)
      val atomicForget = m.nonEmpty && m == headTxn(index) && m == headTxn(codes)
      val overlapBefore = graft.ops.AnnIndex.maxFilesPerCent(spark, index) > 1
      val dvsBefore =
        graft.ops.TxLog.snapshotAt(index).files.exists(_.dv.isDefined) &&
        graft.ops.TxLog.snapshotAt(codes).files.exists(_.dv.isDefined)
      spark.sql(s"CALL $cat.maintain('tbl', 4, 4, vacuum_min_age_ms => 0)").collect(): Unit
      val maxAfter = graft.ops.AnnIndex.maxFilesPerCent(spark, index)
      val dvsAfter =
        graft.ops.TxLog.snapshotAt(index).files.count(_.dv.isDefined) +
        graft.ops.TxLog.snapshotAt(codes).files.count(_.dv.isDefined)
      val codesFilesAfter = graft.ops.TxLog.snapshotAt(codes).files.size
      val approx = serveLakeIvfAdc(spark, dir, base.resolve("tbl_ann_ix_cent"),
          index, base.resolve("tbl_ann_ix_cb"), codes)
        .select(col("q_id"), col("vec_id")).withColumn("__hit", lit(1))
      val exact = exactQuantizedTopK(spark, dir, surviving = true)
      exact.join(approx, Seq("q_id", "vec_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("k").cast("double"))
        .withColumn("overlap_before", lit(overlapBefore))
        .withColumn("max_files_per_cent_after", lit(maxAfter.toLong))
        .withColumn("dvs_folded", lit(dvsBefore && dvsAfter == 0))
        .withColumn("codes_files_after", lit(codesFilesAfter.toLong))
        .withColumn("atomic_forget", lit(atomicForget))
        .orderBy("q_id")
    }),

    // ---- knn11: STREAMING maintenance of the PQ SIBLING — the tix03/
    // sim08 discipline applied to the round-16 codes sibling, closing
    // the "every persisted index has a streaming twin" invariant for
    // the `pq => true` artifact. The creating batch trains BOTH
    // quantizers through `CALL ann_index(..., pq => true)`; growth
    // lands as corpus commits and the graft-lake tail re-issues the
    // SAME procedure per micro-batch (watermark diff + id anti-join =
    // exactly-once by idempotence). The streamed sibling must serve
    // EXACTLY what the batch path serves — knn06's oracle, verbatim —
    // and a full REDELIVERY (second stream, wiped engine checkpoint)
    // must be swallowed whole: both index tables' versions unchanged,
    // gated as a literal.
    "knn11_streaming_pq_sibling" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      // shared ab1 state (the creating batch trained both quantizers
      // through the procedure), cloned; growth + the streaming drains
      // run here
      val base = SharedBases.cloned(spark, abFam1(spark, dir))
      val corpus = base.resolve("tbl")
      val cat = SharedBases.catalogFor(spark, base)
      def sel(p: org.apache.spark.sql.Column) =
        emb.filter(p).select(col("vec_id").cast("bigint").as("vec_id"),
          col("embedding"), col("label"))
      graft.ops.TxLog.append(spark,
        sel(col("vec_id") % 10 === 9 && col("vec_id") % 2 === 0),
        corpus, "vec_id", nParts = 2)
      graft.ops.TxLog.append(spark,
        sel(col("vec_id") % 10 === 9 && col("vec_id") % 2 === 1),
        corpus, "vec_id", nParts = 2)
      def drain(): Unit = {
        val ckpt = SharedBases.tempDir("graft_knn11_ckpt")
        val q = spark.readStream.format("graft-lake")
          .option("maxVersionsPerBatch", "1")
          .load(corpus.toString)
          .writeStream
          .foreachBatch { (_: DataFrame, _: Long) =>
            spark.sql(s"CALL $cat.ann_index('tbl', 'vec_id', 'embedding', " +
              "pq => true)").collect(): Unit
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      val index = base.resolve("tbl_ann_ix")
      val codes = base.resolve("tbl_ann_ix_codes")
      val vA = (graft.ops.TxLog.latestVersion(index),
        graft.ops.TxLog.latestVersion(codes))
      drain() // full redelivery: fresh engine checkpoint, same tail
      val vB = (graft.ops.TxLog.latestVersion(index),
        graft.ops.TxLog.latestVersion(codes))
      val approx = serveLakeIvfAdc(spark, dir, base.resolve("tbl_ann_ix_cent"),
          index, base.resolve("tbl_ann_ix_cb"), codes)
        .select(col("q_id"), col("vec_id")).withColumn("__hit", lit(1))
      val exact = exactQuantizedTopK(spark, dir)
      exact.join(approx, Seq("q_id", "vec_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("k").cast("double"))
        .withColumn("redelivery_noop", lit(vA == vB))
        .orderBy("q_id")
    }),

    // ---- dq08: ANN-INDEX CONSISTENCY AUDIT — dq07's monitor applied
    // to the IVFADC family (round-14 verdict #2): after delete
    // propagation AND the maintenance rewrite, (a) the assignments' vec
    // set must equal the live corpus's exactly (anti-joins both ways —
    // a stranded assignment OR an unassigned vector each breaks its own
    // zero), (b) the codes must cover the same set with exactly m rows
    // per vector (a partial encode is as corrupt as a missing one),
    // (c) every home list must exist in the trained quantizer. All
    // checks are joins/aggregates over the index tables themselves —
    // index-sized, never corpus-rescanning — surfaced as 1-row flags.
    "dq08_ann_consistency" -> ((spark: SparkSession, dir: String) => {
      val (centT, assignT, _, codeT) = buildLakeIvfPq(spark, dir)
      val emb = t(spark, dir, "embeddings")
      val bronze = freshTable()
      graft.ops.TxLog.append(spark,
        emb.select(col("vec_id").cast("bigint").as("vec_id"),
          col("embedding"), col("label")),
        bronze, "vec_id", nParts = 2)
      val dels = emb.filter(col("vec_id") % 9 === 8)
        .select(col("vec_id").cast("bigint").as("vec_id")).localCheckpoint(true)
      graft.ops.TxLog.deleteMor(spark, bronze, dels, "vec_id"): Unit
      graft.ops.TxLog.transact(spark, Seq(
        graft.ops.TxLog.TxnDeleteMor(assignT, dels, "vec_id"),
        graft.ops.TxLog.TxnDeleteMor(codeT, dels, "vec_id"))): Unit
      // the invariants must SURVIVE the rewrite, so audit after it
      graft.ops.AnnIndex.maintainIvfAdc(spark, assignT, codeT): Unit
      val live = graft.ops.TxLog.readAt(spark, bronze).select("vec_id")
      val assign = graft.ops.TxLog.readAt(spark, assignT)
      val codes = graft.ops.TxLog.readAt(spark, codeT)
      val cents = graft.ops.TxLog.readAt(spark, centT).select("cent_id")
      // ONE vec_id-keyed pass for the membership zeros AND the arity
      // checks (full-outer join of per-id aggregates + conditional
      // counts) instead of seven separate count() actions each
      // re-shuffling the same relations (guide §2.4); the orphan-list
      // check is centroid-count-sized and rides as a broadcast.
      val assignAgg = assign.groupBy("vec_id").agg(count(lit(1)).as("__an"))
      val codesAgg = codes.groupBy("vec_id").agg(count(lit(1)).as("__cn"))
      val m = live.withColumn("__l", lit(1))
        .join(assignAgg, Seq("vec_id"), "full_outer")
        .join(codesAgg, Seq("vec_id"), "full_outer")
      val orphans = assign.select("cent_id").distinct()
        .join(cents, Seq("cent_id"), "left_anti")
        .agg(count(lit(1)).as("orphan_lists"))
      m.agg(
          count(col("__l")).as("corpus_vecs"),
          count(col("__an")).as("assigned_vecs"),
          count(when(col("__an").isNotNull && col("__l").isNull, 1))
            .as("assignments_stranded"),
          count(when(col("__l").isNotNull && col("__an").isNull, 1))
            .as("vecs_unassigned"),
          count(when(col("__cn").isNotNull && col("__l").isNull, 1))
            .as("codes_stranded"),
          count(when(col("__l").isNotNull && col("__cn").isNull, 1))
            .as("vecs_uncoded"),
          count(when(col("__an") > 1, 1)).as("multi_homed"),
          count(when(col("__cn").isNotNull && col("__cn") =!= 8, 1))
            .as("bad_code_arity"))
        .crossJoin(broadcast(orphans))
        .select(col("corpus_vecs"), col("assigned_vecs"),
          col("assignments_stranded"), col("vecs_unassigned"),
          col("codes_stranded"), col("vecs_uncoded"),
          col("multi_homed"), col("bad_code_arity"), col("orphan_lists"))
    }),

    // ---- sim13: DELETE PROPAGATION into the persisted ANN index — the
    // tix06 discipline applied to vectors (the GDPR flow a vector lake
    // owes): vectors leave the bronze corpus AFTER the index is built;
    // the corpus's CDF tail turns each micro-batch's delete rows into a
    // merge-on-read delete on the ASSIGNMENTS table (churn-sized DV
    // commits, exactly-once by idempotence — a redelivered batch's keys
    // are already DV'd). The trained quantizer (centroids) stays — a
    // trained artifact never invalidates — but deleted vectors must
    // vanish from every probe's candidates: the oracle is sim07's chain
    // with the deleted residue class excluded from `assigned` only.
    "sim13_index_delete_propagation" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      // shared ann-full build state (sim07's index), cloned — the CDF
      // tail below merge-on-read-deletes from the assignments table
      val fam = SharedBases.cloned(spark, annFamFull(spark, dir))
      val assignTable = fam.resolve("assign")
      val bronze = fam.resolve("bronze")
      val centLake = graft.ops.TxLog.readAt(spark, fam.resolve("cent"))
      // bronze corpus: all vectors; the deletes land after the build
      graft.ops.TxLog.append(spark,
        emb.select(col("vec_id").cast("bigint").as("vec_id"),
          col("embedding"), col("label")),
        bronze, "vec_id", nParts = 2)
      graft.ops.TxLog.deleteMor(spark, bronze,
        emb.filter(col("vec_id") % 9 === 8)
          .select(col("vec_id").cast("bigint").as("vec_id")), "vec_id"): Unit
      val ckpt = SharedBases.tempDir("graft_sim13_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", "1")
        .load(bronze.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val dels = b.filter(col("_change_type") === "delete")
            .select(col("vec_id")).distinct()
          if (!dels.isEmpty)
            graft.ops.TxLog.deleteMor(spark, assignTable, dels, "vec_id"): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      serveLakeAnn(spark, dir, centLake, graft.ops.TxLog.readAt(spark, assignTable))
    }),

    // ---- lf01: ATOMIC GDPR ERASURE across corpus + EVERY keyed index
    // sibling (round-15 verdict #4) — sim13/sim14's delete flow issued
    // separate deleteMor commits per table, so a reader BETWEEN them
    // could resolve an ANN/text index still naming keys the corpus had
    // erased. `CALL forget` routes all participants through ONE
    // TxLog.transact (commit-marker 2PC): every head commit carries the
    // SAME txn marker — gated here by reading the commit.jsons — and
    // flips with one create-exclusive outcome file. The corpus carries
    // BOTH a text column and an embedding column, so one call must
    // reach the text postings AND the ANN assignments; the erased
    // residue class is proven absent from each by count, and the text
    // stats shrink (avgdl honesty) rides as the stats_docs column.
    "lf01_atomic_forget" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      // shared docEmb state (corpus + text + flat ANN siblings, built
      // through the procedures), cloned — forget mutates every table
      val base = SharedBases.cloned(spark, docEmbFam(spark, dir))
      val corpus = base.resolve("tbl")
      val cat = SharedBases.catalogFor(spark, base)
      spark.sql(s"CALL $cat.forget('tbl', 'doc_id', 'doc_id % 9 = 8')").collect(): Unit
      val tix = base.resolve("tbl_text_ix")
      val aix = base.resolve("tbl_ann_ix")
      def headTxn(p: java.nio.file.Path): String = {
        val vs = graft.ops.TxLog.versions(p)
        val s = new String(java.nio.file.Files.readAllBytes(
          p.resolve("_graft_log").resolve(f"v${vs.last}%020d").resolve("commit.json")))
        """"txn"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      }
      val m = headTxn(corpus)
      val atomic = m.nonEmpty && m == headTxn(tix) && m == headTxn(aix)
      val statsDocs = graft.ops.TextIndex.corpusStats(tix)._1
      import org.apache.spark.sql.functions.{count => cnt}
      graft.ops.TxLog.readAt(spark, corpus)
        .agg(cnt(lit(1)).as("corpus_docs"),
          sum(when(col("doc_id") % 9 === 8, 1).otherwise(0))
            .cast("bigint").as("erased_in_corpus"))
        .withColumn("stats_docs", lit(statsDocs))
        .crossJoin(broadcast(
          graft.ops.TxLog.readAt(spark, tix)
            .select(col("doc_id")).distinct()
            .agg(cnt(lit(1)).as("text_docs"),
              sum(when(col("doc_id") % 9 === 8, 1).otherwise(0))
                .cast("bigint").as("erased_in_text_index"))))
        .crossJoin(broadcast(
          graft.ops.TxLog.readAt(spark, aix)
            .agg(cnt(lit(1)).as("ann_rows"),
              sum(when(col("doc_id") % 9 === 8, 1).otherwise(0))
                .cast("bigint").as("erased_in_ann_index"))))
        .withColumn("atomic_commit", lit(atomic))
    }),

    // ---- dq09: FORGET-CONSISTENCY AUDIT — dq07/dq08's monitor
    // generalized across EVERY keyed sibling lf01's transaction
    // touches: after CALL forget, (a) the text postings' doc set, (b)
    // the ANN assignments' id set and (c) the PQ codes' id set must
    // each equal the live corpus EXACTLY (anti-joins both ways — a
    // stranded index row and an unindexed survivor each break their
    // own zero), and every surviving vector must carry exactly m=8
    // code rows (a partial encode is as corrupt as a missing one).
    // This is the audit that would have CAUGHT the pre-round-16
    // two-commit erasure window had a reader raced it.
    "dq09_forget_consistency" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      // shared docEmb state (corpus + text + flat ANN siblings), cloned;
      // the PQ sibling trains here (the refresh CALL encodes the same
      // full-corpus batch the original single call encoded), then
      // forget mutates every table
      val base = SharedBases.cloned(spark, docEmbFam(spark, dir))
      val corpus = base.resolve("tbl")
      val cat = SharedBases.catalogFor(spark, base)
      spark.sql(s"CALL $cat.ann_index('tbl', 'doc_id', 'embedding', pq => true)")
        .collect(): Unit
      spark.sql(s"CALL $cat.forget('tbl', 'doc_id', 'doc_id % 9 = 8')").collect(): Unit
      val live = graft.ops.TxLog.readAt(spark, corpus).select("doc_id")
      val inText = graft.ops.TxLog.readAt(spark, base.resolve("tbl_text_ix"))
        .select("doc_id").distinct()
      val inAnn = graft.ops.TxLog.readAt(spark, base.resolve("tbl_ann_ix"))
        .select("doc_id").distinct()
      val codesRel = graft.ops.TxLog.readAt(spark, base.resolve("tbl_ann_ix_codes"))
      val inCodes = codesRel.select("doc_id").distinct()
      // ONE doc_id-keyed pass for every anti-join zero (full-outer
      // membership join + conditional counts) instead of six separate
      // count() actions each re-shuffling the same relations — at
      // corpus scale, one pass holds all the numbers (guide §2.4)
      val badArity = codesRel.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 8)
        .agg(count(lit(1)).as("bad_code_arity"))
      val m = live.withColumn("__l", lit(1))
        .join(inText.withColumn("__t", lit(1)), Seq("doc_id"), "full_outer")
        .join(inAnn.withColumn("__a", lit(1)), Seq("doc_id"), "full_outer")
        .join(inCodes.withColumn("__c", lit(1)), Seq("doc_id"), "full_outer")
      m.agg(
          count(col("__l")).as("corpus_docs"),
          count(when(col("__t").isNotNull && col("__l").isNull, 1))
            .as("text_stranded"),
          count(when(col("__l").isNotNull && col("__t").isNull, 1))
            .as("docs_unindexed"),
          count(when(col("__a").isNotNull && col("__l").isNull, 1))
            .as("ann_stranded"),
          count(when(col("__l").isNotNull && col("__a").isNull, 1))
            .as("docs_unassigned"),
          count(when(col("__c").isNotNull && col("__l").isNull, 1))
            .as("codes_stranded"),
          count(when(col("__l").isNotNull && col("__c").isNull, 1))
            .as("docs_uncoded"))
        .crossJoin(broadcast(badArity))
    }),

    // ---- sim14: ANN-INDEX LIFECYCLE MAINTENANCE — tix05's cure applied
    // to vectors (the round-14 verdict's #1): each incremental CALL
    // ann_index appends its OWN per-list file-set, so after N increments
    // a probe pays up to N files per inverted list, and the GDPR deletes
    // (sim13's flow) leave DV sidecars every candidate read must
    // anti-join. CALL maintain's ANN-sibling pass re-clusters ALL
    // assignments back to ONE FILE PER LIST with DVs folded (one atomic
    // commit — readers never block), and after it the index's watermark
    // (its log's source files) covers every live corpus file; serving
    // through the rewrite is row-identical: the sim13 oracle (sim07's
    // chain, deleted class excluded from candidates) gates the ranking,
    // the layout claims ride as gated literals. Everything runs through
    // the SQL procedures — create, refresh, delete, maintain.
    "sim14_ann_index_maintain" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      // shared ab0 state (train corpus + first CALL — centroids train
      // there, matching sim07's oracle CTE), cloned; the 2 growth
      // increments still run through the procedure here
      val base = SharedBases.cloned(spark, abFam0(spark, dir))
      val corpus = base.resolve("tbl")
      val cat = SharedBases.catalogFor(spark, base)
      Seq(col("vec_id") % 10 === 9 && col("vec_id") % 2 === 0,
          col("vec_id") % 10 === 9 && col("vec_id") % 2 === 1)
        .foreach { p =>
          graft.ops.TxLog.append(spark,
            emb.filter(p).select(col("vec_id").cast("bigint").as("vec_id"),
              col("embedding"), col("label")),
            corpus, "vec_id", nParts = 2)
          spark.sql(s"CALL $cat.ann_index('tbl', 'vec_id', 'embedding')").collect(): Unit
        }
      val index = base.resolve("tbl_ann_ix")
      // GDPR churn: one residue class leaves corpus AND index (MOR DVs)
      val delKeys = emb.filter(col("vec_id") % 9 === 8)
        .select(col("vec_id").cast("bigint").as("vec_id"))
      graft.ops.TxLog.deleteMor(spark, corpus, delKeys, "vec_id"): Unit
      graft.ops.TxLog.deleteMor(spark, index, delKeys, "vec_id"): Unit
      val overlapBefore = graft.ops.AnnIndex.maxFilesPerCent(spark, index) > 1
      val dvsBefore = graft.ops.TxLog.snapshotAt(index).files.count(_.dv.isDefined)
      spark.sql(s"CALL $cat.maintain('tbl', 4, 4, vacuum_min_age_ms => 0)").collect(): Unit
      val maxAfter = graft.ops.AnnIndex.maxFilesPerCent(spark, index)
      val dvsAfter = graft.ops.TxLog.snapshotAt(index).files.count(_.dv.isDefined)
      val covered = graft.ops.TxLog.snapshotAt(corpus).files.map(_.path).toSet
        .subsetOf(graft.ops.TxLog.sourcesAt(index))
      serveLakeAnn(spark, dir,
          graft.ops.TxLog.readAt(spark, base.resolve("tbl_ann_ix_cent")),
          graft.ops.TxLog.readAt(spark, index))
        .withColumn("overlap_before", lit(overlapBefore))
        .withColumn("max_files_per_cent_after", lit(maxAfter.toLong))
        .withColumn("dvs_folded", lit(dvsBefore > 0 && dvsAfter == 0))
        .withColumn("watermark_folded", lit(covered))
    }),

    // ---- sim11: STREAMING maintenance of the persisted PQ index — the
    // sim08 discipline applied to sim10's artifact. Growth vectors land
    // in a bronze lake table; the graft-lake TAIL encodes each
    // micro-batch against the PERSISTED codebook (Pq.encode — nearest
    // codeword, NEVER a retrain, so old codes stay valid) and appends
    // it with a batch-id-tagged exactly-once commit into the codes
    // table. The ADC query — identical semantics to sim10's — must
    // return the same rows, so the batch-increment and streaming-tail
    // maintenance paths are cross-gated against each other through ONE
    // oracle; LakeStreamSpec's redelivery row proves a restarted
    // stream cannot double-encode a batch.
    "sim11_streaming_pq" -> ((spark: SparkSession, dir: String) => {
      reg(spark)
      val emb = t(spark, dir, "embeddings")
      val c0 = emb.filter(col("vec_id") % 10 =!= 9)
      val growth = emb.filter(col("vec_id") % 10 === 9)
      val n = c0.count() // TRAIN-corpus-scaled knobs (1-row agg)
      // shared pq0 build state, cloned — the streamed growth below
      // appends to the codes table
      val fam = SharedBases.cloned(spark, pqFam0(spark, dir))
      val codeTable = fam.resolve("codes")
      val bronze = fam.resolve("bronze")
      val cbLake = graft.ops.TxLog.readAt(spark, fam.resolve("cb"))
      // arrivals: two bronze commits, one graft-lake micro-batch each
      graft.ops.TxLog.append(spark, growth.filter(col("vec_id") % 2 === 0),
        bronze, "vec_id", nParts = 1)
      graft.ops.TxLog.append(spark, growth.filter(col("vec_id") % 2 === 1),
        bronze, "vec_id", nParts = 1)
      val ckpt = SharedBases.tempDir("graft_sim11_ckpt")
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", "1")
        .load(bronze.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          graft.ops.TxLog.streamingAppend(spark,
            graft.ops.Pq.encode(b, cbLake, "vec_id", "embedding",
              dims = 64, m = 8),
            bid, codeTable, "vec_id"): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // serve purely from the persisted, stream-maintained artifacts
      val codesLake = graft.ops.TxLog.readAt(spark, codeTable)
      graft.ops.Pq.adcRerankTopK(emb, codesLake, cbLake,
          emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", dims = 64, m = 8,
          shortlistK = pqShortlist(n), topK = 10)
        .orderBy("rank")
    }),

    // ---- knn07: STREAMING IVFADC maintenance — the full production
    // shape: each arriving micro-batch advances BOTH index halves
    // (coarse assignments + PQ codes) in ONE multi-table transaction
    // driven exactly-once from the graft-lake tail (the tx24 machinery
    // applied to index maintenance). A crash mid-batch can never leave
    // a vector coarse-listed but code-less — it would silently vanish
    // from every ADC pass — and a restarted stream's full redelivery
    // (drained twice here, fresh checkpoint) is swallowed whole by the
    // txn-resolved batch-id watermark. Serving and the recall gate are
    // knn06's verbatim, so the batch-transaction and streaming-
    // transaction growth paths are cross-gated through ONE oracle.
    "knn07_streaming_ivfadc" -> ((spark: SparkSession, dir: String) => {
      val (centT, assignT, cbT, codeT) = buildLakeIvfPqBase(spark, dir)
      val emb = t(spark, dir, "embeddings")
      val growth = emb.filter(col("vec_id") % 10 === 9)
      val bronze = freshTable()
      graft.ops.TxLog.append(spark, growth.filter(col("vec_id") % 2 === 0),
        bronze, "vec_id", nParts = 1)
      graft.ops.TxLog.append(spark, growth.filter(col("vec_id") % 2 === 1),
        bronze, "vec_id", nParts = 1)
      val centLake = graft.ops.TxLog.readAt(spark, centT)
      val cbLake = graft.ops.TxLog.readAt(spark, cbT)
      def drain(): Unit = {
        val ckpt = SharedBases.tempDir("graft_knn7_ckpt")
        val q = spark.readStream.format("graft-lake")
          .option("maxVersionsPerBatch", "1")
          .load(bronze.toString)
          .writeStream
          .foreachBatch { (b: DataFrame, bid: Long) =>
            if (!graft.ops.TxLog.isBatchCommitted(codeT, bid)) {
              val batch = b.localCheckpoint(true)
              graft.ops.TxLog.transact(spark, Seq(
                graft.ops.TxLog.TxnAppend(assignT,
                  graft.ops.Ann.assignToCentroids(batch, centLake),
                  "cent_id", nParts = 1),
                graft.ops.TxLog.TxnAppend(codeT,
                  graft.ops.Pq.encode(batch, cbLake, "vec_id", "embedding",
                    dims = 64, m = 8),
                  "vec_id", nParts = 1, batchId = Some(bid)))): Unit
            }
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      drain() // full redelivery: fresh checkpoint, same batch ids — skipped
      val approx = serveLakeIvfAdc(spark, dir, centT, assignT, cbT, codeT)
        .select(col("q_id"), col("vec_id")).withColumn("__hit", lit(1))
      val exact = exactQuantizedTopK(spark, dir)
      exact.join(approx, Seq("q_id", "vec_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("k").cast("double"))
        .orderBy("q_id")
    }),
  )

  /** DuckDB twin of [[refinedIvfCentroids]]: quantize the train
    * relation, seed from the C lowest ids, one Lloyd update (km01's
    * kmeansSql shapes — BIGINT per-dim sums, double means, L2 argmin
    * with cid tie-break), ending in `cent(cent_id, cent_emb)`.
    * `fromRel` is the train relation ("embeddings WHERE ..." or a
    * prior CTE name); CTE names are lv_-prefixed to avoid collisions
    * when spliced into larger chains. */
  private def refinedCentCtes(fromRel: String): String =
    s"""lv_q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qq
       |  FROM $fromRel),
       |lv_seed AS (
       |  SELECT cid, m FROM (
       |    SELECT vec_id AS cid, list_transform(qq, x -> CAST(x AS DOUBLE)) AS m,
       |      ROW_NUMBER() OVER (ORDER BY vec_id) AS lv_rk
       |    FROM lv_q)
       |  WHERE lv_rk <= (SELECT GREATEST(16,
       |    (COUNT(*) + ${IvfTargetListSize - 1}) // $IvfTargetListSize) FROM lv_q)),
       |lv_a1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT lv_q.vec_id, s.cid,
       |      ROW_NUMBER() OVER (PARTITION BY lv_q.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(lv_q.qq, s.m),
       |          p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))), s.cid) AS rn
       |    FROM lv_q CROSS JOIN lv_seed s) WHERE rn = 1),
       |lv_x1 AS (
       |  SELECT lv_a1.cid, generate_subscripts(lv_q.qq, 1) AS dim, unnest(lv_q.qq) AS val
       |  FROM lv_a1 JOIN lv_q USING (vec_id)),
       |cent AS (
       |  SELECT cid AS cent_id,
       |    list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY dim) AS cent_emb
       |  FROM (SELECT cid, dim, CAST(SUM(val) AS BIGINT) AS s, COUNT(*) AS cnt
       |        FROM lv_x1 GROUP BY cid, dim)
       |  GROUP BY cid)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private def normSql(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}), 6)"

  private val sim01Sql: String =
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q_id, c.vec_id AS c_id, c.label, ${cosSql("q_emb", "c.embedding")} AS cosine
        |  FROM embeddings c JOIN q ON q.q_id <> c.vec_id),
        |ranked AS (
        |  SELECT q_id, c_id, label, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rk
        |  FROM scored)
        |SELECT q_id, rk, c_id, label, cosine FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin

  private val sim02Sql: String =
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings WHERE vec_id < $ivfCentSql),
        |assigned AS (
        |  SELECT vec_id, embedding, label, cent_id AS list_id FROM (
        |    SELECT e.vec_id, e.embedding, e.label, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSql("e.embedding", "cent_emb")} DESC, cent_id) AS ark
        |    FROM embeddings e CROSS JOIN cent)
        |  WHERE ark = 1),
        |probes AS (
        |  SELECT q_id, q_emb, cent_id AS list_id FROM (
        |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSql("e.embedding", "cent_emb")} DESC, cent_id) AS prk
        |    FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 8)
        |  WHERE prk <= 2),
        |scored AS (
        |  SELECT q_id, a.vec_id AS c_id, a.label, ${cosSql("q_emb", "a.embedding")} AS cosine
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id AND p.q_id <> a.vec_id),
        |ranked AS (
        |  SELECT q_id, c_id, label, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rk
        |  FROM scored)
        |SELECT q_id, rk, c_id, label, cosine FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin

  /** knn01's CTE chain through `ranked` — shared by the knn01/knn02/
    * knn03 oracles (knn02 prepends RECURSIVE for the CC part). 3-probe
    * build: sources come from their 3 nearest lists (ark <= 3),
    * candidates from their ark=1 home list. */
  private val knnCtes: String =
    s"""cent AS (SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings WHERE vec_id < $ivfCentSql),
      |probed AS (
      |  SELECT vec_id, embedding, cent_id AS list_id, ark FROM (
      |    SELECT e.vec_id, e.embedding, cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${cosSql("e.embedding", "cent_emb")} DESC, cent_id) AS ark
      |    FROM embeddings e CROSS JOIN cent)
      |  WHERE ark <= 3),
      |scored AS (
      |  SELECT x.vec_id AS src, y.vec_id AS nbr,
      |    ${cosSql("x.embedding", "y.embedding")} AS cosine
      |  FROM probed x JOIN probed y
      |    ON x.list_id = y.list_id AND y.ark = 1 AND x.vec_id <> y.vec_id),
      |ranked AS (
      |  SELECT src, nbr, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rk
      |  FROM scored)""".stripMargin

  /** PQ corpus-scaled knobs — the same disease knn02's fixed-16 IVF had,
    * measured on sim06 in round 7 (recall@10 = 1.0 at n=500 but 0.6 at
    * n=2000): a FIXED codebook and a FIXED rerank budget both coarsen
    * relative to a growing corpus. Scaled like the IVF list count, with
    * the driver-SF floor keeping n<=500 runs bit-identical to the
    * fixed-knob results the oracle gate has always pinned:
    *  - k (centroids per subspace) = clamp(16, 256, ceil(n/32)) — cell
    *    occupancy stays bounded; 256 is the classic 1-byte-code cap.
    *  - shortlist (exact-rerank budget) = clamp(100, 4096, ceil(n/5)) —
    *    the broadcast-safe rerank budget; measured recall@10 = 0.99 at
    *    n=2000 under these (0.75 with the old fixed knobs), spec-pinned
    *    >= 0.8 by PqRecallSpec. */
  private[graft] def pqK(n: Long): Int =
    math.max(16L, math.min(256L, (n + 31) / 32)).toInt
  private[graft] def pqShortlist(n: Long): Int =
    math.max(100L, math.min(4096L, (n + 4) / 5)).toInt
  private val pqKSql: String =
    "(SELECT GREATEST(16, LEAST(256, (COUNT(*) + 31) // 32)) FROM embeddings)"
  private val pqShortlistSql: String =
    "(SELECT GREATEST(100, LEAST(4096, (COUNT(*) + 4) // 5)) FROM embeddings)"

  /** km01-style unrolled 2-round Lloyd over ONE PQ subspace (corpus-
    * scaled k, seeds = the k lowest vec_ids), on the 1-based-inclusive
    * embedding slice [lo+1 .. lo+dsub]; all CTE names suffixed _s.
    * `trainCond` restricts which vectors TRAIN the codebook (seeds,
    * assignment rounds, centroid recompute); the FINAL assignment
    * (a2_s) always covers every vector — exactly the engine's split,
    * where growth vectors are encoded against the persisted codebook
    * by the same nearest-codeword rule but never move a centroid. */
  private def pqSubCtes(s: Int, lo: Int, dsub: Int,
      trainCond: String = "TRUE", kSql: String = pqKSql): String = {
    def dist(qRel: String, cRel: String) =
      s"""SELECT e.vec_id, c.cid,
         |    list_sum(list_transform(list_zip(e.q, c.m),
         |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))) AS dist
         |  FROM $qRel e CROSS JOIN $cRel c""".stripMargin
    s"""q_$s AS (
       |  SELECT vec_id, list_transform(embedding[${lo + 1}:${lo + dsub}],
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |tr_$s AS (
       |  SELECT * FROM q_$s WHERE $trainCond),
       |c0_$s AS (
       |  SELECT cid, m FROM (
       |    SELECT vec_id AS cid, list_transform(q, x -> CAST(x AS DOUBLE)) AS m,
       |      ROW_NUMBER() OVER (ORDER BY vec_id) AS pq_rk
       |    FROM tr_$s)
       |  WHERE pq_rk <= $kSql),
       |d1_$s AS (
       |  ${dist(s"tr_$s", s"c0_$s")}),
       |a1_$s AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM d1_$s) WHERE rn = 1),
       |x1_$s AS (
       |  SELECT a.cid, generate_subscripts(q.q, 1) AS dim, unnest(q.q) AS val
       |  FROM a1_$s a JOIN tr_$s q USING (vec_id)),
       |s1_$s AS (
       |  SELECT cid, dim, CAST(SUM(val) AS BIGINT) AS sv, COUNT(*) AS cnt
       |  FROM x1_$s GROUP BY cid, dim),
       |c1_$s AS (
       |  SELECT cid, list(CAST(sv AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY dim) AS m
       |  FROM s1_$s GROUP BY cid),
       |d2_$s AS (
       |  ${dist(s"q_$s", s"c1_$s")}),
       |a2_$s AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM d2_$s) WHERE rn = 1)""".stripMargin
  }

  /** The full PQ ADC + rerank oracle, parameterized by the training
    * split — sim06 trains on everything, sim10 on the initial corpus
    * only (with knobs scaled to the TRAIN count). */
  private def pqAnnSql(trainCond: String, kSql: String, shortlistSql: String): String = {
    val subs = 0 until 8
    "WITH " + subs.map(s => pqSubCtes(s, s * 8, 8, trainCond, kSql)).mkString(",\n") + ",\n" +
      s"""codes AS (
         |  ${subs.map(s => s"SELECT vec_id, $s AS sub, cid AS code FROM a2_$s")
              .mkString("\n  UNION ALL\n  ")}),
         |qt AS (
         |  ${subs.map(s => s"SELECT $s AS sub, q FROM q_$s WHERE vec_id = 0")
              .mkString("\n  UNION ALL\n  ")}),
         |cb AS (
         |  ${subs.map(s => s"SELECT $s AS sub, cid, m FROM c1_$s")
              .mkString("\n  UNION ALL\n  ")}),
         |dt AS (
         |  SELECT qt.sub, cb.cid AS code,
         |    CAST(floor(list_sum(list_transform(list_zip(qt.q, cb.m),
         |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))) AS BIGINT) AS d
         |  FROM qt JOIN cb ON qt.sub = cb.sub),
         |approx AS (
         |  SELECT c.vec_id, CAST(sum(dt.d) AS BIGINT) AS approx_dist
         |  FROM codes c JOIN dt ON c.sub = dt.sub AND c.code = dt.code
         |  WHERE c.vec_id <> 0
         |  GROUP BY c.vec_id),
         |shortlist AS (SELECT vec_id, approx_dist FROM approx
         |  ORDER BY approx_dist, vec_id LIMIT $shortlistSql),
         |qfull AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
         |  FROM embeddings WHERE vec_id = 0),
         |rerank AS (
         |  SELECT s.vec_id, s.approx_dist,
         |    CAST(floor(list_sum(list_transform(
         |      list_zip(list_transform(e.embedding,
         |        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), qf.q),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))) AS BIGINT)
         |      AS exact_dist
         |  FROM shortlist s
         |  JOIN embeddings e ON s.vec_id = e.vec_id
         |  CROSS JOIN qfull qf),
         |top AS (SELECT vec_id, exact_dist, approx_dist FROM rerank
         |  ORDER BY exact_dist, vec_id LIMIT 10)
         |SELECT row_number() OVER (ORDER BY exact_dist, vec_id) AS rank,
         |  vec_id, exact_dist, approx_dist
         |FROM top ORDER BY rank""".stripMargin
  }

  private val sim06Sql: String = pqAnnSql("TRUE", pqKSql, pqShortlistSql)

  // sim10: codebook trained on the initial corpus only; knobs scale to
  // the TRAIN count (what the engine's c0.count() measures); the final
  // encode covers every vector — growth coded by the persisted book.
  private val sim10Sql: String = pqAnnSql("vec_id % 10 <> 9",
    "(SELECT GREATEST(16, LEAST(256, (COUNT(*) + 31) // 32)) " +
      "FROM embeddings WHERE vec_id % 10 <> 9)",
    "(SELECT GREATEST(100, LEAST(4096, (COUNT(*) + 4) // 5)) " +
      "FROM embeddings WHERE vec_id % 10 <> 9)")

  // knn05: sim06's PQ CTEs verbatim, with the ADC pass restricted to
  // the candidates of the query's 2 nearest IVF lists (sim02's
  // assignment rule verbatim) — IVFADC.
  private val knn05Sql: String = {
    val subs = 0 until 8
    "WITH " + subs.map(s => pqSubCtes(s, s * 8, 8)).mkString(",\n") + ",\n" +
      s"""codes AS (
         |  ${subs.map(s => s"SELECT vec_id, $s AS sub, cid AS code FROM a2_$s")
              .mkString("\n  UNION ALL\n  ")}),
         |qt AS (
         |  ${subs.map(s => s"SELECT $s AS sub, q FROM q_$s WHERE vec_id = 0")
              .mkString("\n  UNION ALL\n  ")}),
         |cb AS (
         |  ${subs.map(s => s"SELECT $s AS sub, cid, m FROM c1_$s")
              .mkString("\n  UNION ALL\n  ")}),
         |dt AS (
         |  SELECT qt.sub, cb.cid AS code,
         |    CAST(floor(list_sum(list_transform(list_zip(qt.q, cb.m),
         |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))) AS BIGINT) AS d
         |  FROM qt JOIN cb ON qt.sub = cb.sub),
         |cent AS (SELECT vec_id AS cent_id, embedding AS cent_emb
         |         FROM embeddings WHERE vec_id < $ivfCentSql),
         |home AS (
         |  SELECT vec_id, cent_id AS list_id FROM (
         |    SELECT e.vec_id, cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "cent_emb")} DESC, cent_id) AS ark
         |    FROM embeddings e CROSS JOIN cent) WHERE ark = 1),
         |qprobe AS (
         |  SELECT cent_id AS list_id FROM (
         |    SELECT cent_id,
         |      ROW_NUMBER() OVER (ORDER BY ${cosSql("e.embedding", "cent_emb")} DESC, cent_id) AS prk
         |    FROM embeddings e CROSS JOIN cent WHERE e.vec_id = 0) WHERE prk <= 2),
         |cand AS (SELECT h.vec_id FROM home h JOIN qprobe p ON h.list_id = p.list_id),
         |approx AS (
         |  SELECT c.vec_id, CAST(sum(dt.d) AS BIGINT) AS approx_dist
         |  FROM codes c
         |  JOIN cand ON cand.vec_id = c.vec_id
         |  JOIN dt ON c.sub = dt.sub AND c.code = dt.code
         |  WHERE c.vec_id <> 0
         |  GROUP BY c.vec_id),
         |shortlist AS (SELECT vec_id, approx_dist FROM approx
         |  ORDER BY approx_dist, vec_id LIMIT $pqShortlistSql),
         |qfull AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
         |  FROM embeddings WHERE vec_id = 0),
         |rerank AS (
         |  SELECT s.vec_id, s.approx_dist,
         |    CAST(floor(list_sum(list_transform(
         |      list_zip(list_transform(e.embedding,
         |        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), qf.q),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))) AS BIGINT)
         |      AS exact_dist
         |  FROM shortlist s
         |  JOIN embeddings e ON s.vec_id = e.vec_id
         |  CROSS JOIN qfull qf),
         |top AS (SELECT vec_id, exact_dist, approx_dist FROM rerank
         |  ORDER BY exact_dist, vec_id LIMIT 10)
         |SELECT row_number() OVER (ORDER BY exact_dist, vec_id) AS rank,
         |  vec_id, exact_dist, approx_dist
         |FROM top ORDER BY rank""".stripMargin
  }

  // knn06: the persisted-serving recall gate — the same IVFADC math as
  // knn05 but with sim10's training split (both quantizers train on the
  // initial corpus only; growth is assigned/coded by the SAME nearest
  // rules against the persisted artifacts, which is exactly what the
  // final a2/home assignments restate), for 4 queries, scored as
  // recall@10 against the exact quantized-L2 top-10 in the rerank's
  // own metric.
  private val knn06Sql: String = {
    val subs = 0 until 8
    val trainCond = "vec_id % 10 <> 9"
    val kSql = "(SELECT GREATEST(16, LEAST(256, (COUNT(*) + 31) // 32)) " +
      "FROM embeddings WHERE vec_id % 10 <> 9)"
    val shortSql = "(SELECT GREATEST(100, LEAST(4096, (COUNT(*) + 4) // 5)) " +
      "FROM embeddings WHERE vec_id % 10 <> 9)"
    "WITH " + subs.map(s => pqSubCtes(s, s * 8, 8, trainCond, kSql)).mkString(",\n") + ",\n" +
      refinedCentCtes(s"embeddings WHERE $trainCond") + ",\n" +
      s"""codes AS (
         |  ${subs.map(s => s"SELECT vec_id, $s AS sub, cid AS code FROM a2_$s")
              .mkString("\n  UNION ALL\n  ")}),
         |qt AS (
         |  ${subs.map(s => s"SELECT vec_id AS q_id, $s AS sub, q FROM q_$s WHERE vec_id < 4")
              .mkString("\n  UNION ALL\n  ")}),
         |cb AS (
         |  ${subs.map(s => s"SELECT $s AS sub, cid, m FROM c1_$s")
              .mkString("\n  UNION ALL\n  ")}),
         |dt AS (
         |  SELECT qt.q_id, qt.sub, cb.cid AS code,
         |    CAST(floor(list_sum(list_transform(list_zip(qt.q, cb.m),
         |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))) AS BIGINT) AS d
         |  FROM qt JOIN cb ON qt.sub = cb.sub),
         |home AS (
         |  SELECT vec_id, cent_id AS list_id FROM (
         |    SELECT e.vec_id, cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "cent_emb")} DESC, cent_id) AS ark
         |    FROM embeddings e CROSS JOIN cent) WHERE ark = 1),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 4),
         |qprobe AS (
         |  SELECT q_id, cent_id AS list_id FROM (
         |    SELECT q_id, cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY ${cosSql("q_emb", "cent_emb")} DESC, cent_id) AS prk
         |    FROM qv CROSS JOIN cent) WHERE prk <= 2),
         |cand AS (SELECT p.q_id, h.vec_id FROM home h JOIN qprobe p ON h.list_id = p.list_id),
         |approx AS (
         |  SELECT cd.q_id, c.vec_id, CAST(sum(dt.d) AS BIGINT) AS approx_dist
         |  FROM codes c
         |  JOIN cand cd ON cd.vec_id = c.vec_id
         |  JOIN dt ON dt.q_id = cd.q_id AND c.sub = dt.sub AND c.code = dt.code
         |  WHERE c.vec_id <> cd.q_id
         |  GROUP BY cd.q_id, c.vec_id),
         |shortlist AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) AS srk
         |    FROM approx) WHERE srk <= $shortSql),
         |qfull AS (
         |  SELECT vec_id AS q_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
         |  FROM embeddings WHERE vec_id < 4),
         |ev AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
         |  FROM embeddings),
         |rerank AS (
         |  SELECT s.q_id, s.vec_id,
         |    CAST(floor(list_sum(list_transform(list_zip(e.v, qf.q),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))) AS BIGINT) AS exact_dist
         |  FROM shortlist s
         |  JOIN ev e ON s.vec_id = e.vec_id
         |  JOIN qfull qf ON qf.q_id = s.q_id),
         |approxtop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY exact_dist, vec_id) AS rk
         |    FROM rerank) WHERE rk <= 10),
         |exactall AS (
         |  SELECT qf.q_id, e.vec_id,
         |    CAST(floor(list_sum(list_transform(list_zip(e.v, qf.q),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))) AS BIGINT) AS exact_dist
         |  FROM ev e CROSS JOIN qfull qf WHERE e.vec_id <> qf.q_id),
         |exacttop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY exact_dist, vec_id) AS rk
         |    FROM exactall) WHERE rk <= 10)
         |SELECT e.q_id AS q_id, COUNT(*) AS k, COUNT(a.vec_id) AS n_hits,
         |  CAST(COUNT(a.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
         |FROM exacttop e
         |LEFT JOIN approxtop a ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
  }

  /** Shared by sim07 (batch increment) and sim08 (streaming tail):
    * both maintenance paths must produce the SAME index, so one
    * oracle cross-gates them. */
  private val sim07Sql: String =
      s"""WITH ${refinedCentCtes("embeddings WHERE vec_id % 10 <> 9")},
        |assigned AS (
        |  SELECT vec_id, embedding, label, cent_id FROM (
        |    SELECT e.vec_id, e.embedding, e.label, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSql("e.embedding", "cent_emb")} DESC, cent_id) AS ark
        |    FROM embeddings e CROSS JOIN cent)
        |  WHERE ark = 1),
        |probes AS (
        |  SELECT q_id, q_emb, cent_id FROM (
        |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSql("e.embedding", "cent_emb")} DESC, cent_id) AS prk
        |    FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 8)
        |  WHERE prk <= 2),
        |scored AS (
        |  SELECT q_id, a.vec_id AS c_id, a.label, ${cosSql("q_emb", "a.embedding")} AS cosine
        |  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id AND p.q_id <> a.vec_id),
        |ranked AS (
        |  SELECT q_id, c_id, label, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rk
        |  FROM scored)
        |SELECT q_id, rk, c_id, label, cosine FROM ranked WHERE rk <= 10
        |ORDER BY q_id, rk""".stripMargin

  /** sim12's per-fixture audit row as a parenthesized subquery: seed
    * vs refined list-size stats over `fromRel`, improvement as a
    * LITERAL TRUE (the gate's claim, not a recomputation). */
  private def balanceAuditSql(fromRel: String, fixture: String): String =
    s"""(WITH base AS (SELECT vec_id, embedding FROM $fromRel),
       |${refinedCentCtes("base")},
       |sc AS (SELECT vec_id AS cent_id, embedding AS cent_emb FROM base
       |  WHERE vec_id < (SELECT GREATEST(16,
       |    (COUNT(*) + ${IvfTargetListSize - 1}) // $IvfTargetListSize) FROM base)),
       |sa AS (SELECT cent_id, COUNT(*) AS cnt FROM (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT b.vec_id, c.cent_id, ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |      ORDER BY ${cosSql("b.embedding", "c.cent_emb")} DESC, c.cent_id) AS rk
       |    FROM base b CROSS JOIN sc c) WHERE rk = 1) GROUP BY cent_id),
       |ra AS (SELECT cent_id, COUNT(*) AS cnt FROM (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT b.vec_id, c.cent_id, ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |      ORDER BY ${cosSql("b.embedding", "c.cent_emb")} DESC, c.cent_id) AS rk
       |    FROM base b CROSS JOIN cent c) WHERE rk = 1) GROUP BY cent_id),
       |ss AS (SELECT COUNT(*) AS seed_n_lists, MAX(cnt) AS seed_max_list,
       |  CAST((MAX(cnt) * 100 * COUNT(*)) // SUM(cnt) AS BIGINT)
       |    AS seed_max_x100_over_mean FROM sa),
       |rs AS (SELECT COUNT(*) AS refined_n_lists, MAX(cnt) AS refined_max_list,
       |  CAST((MAX(cnt) * 100 * COUNT(*)) // SUM(cnt) AS BIGINT)
       |    AS refined_max_x100_over_mean FROM ra)
       |SELECT '$fixture' AS fixture, ss.*, rs.*, TRUE AS not_worse
       |FROM ss CROSS JOIN rs)""".stripMargin

  /** knn08's oracle: knn06's chain with the deleted residue class
    * excluded from the served relations and the ground truth (shared
    * verbatim by knn09 — maintenance must not move the recall). */
  private lazy val knn08Sql: String = knn06Sql
    .replaceAll("cid AS code FROM a2_(\\d+)",
      "cid AS code FROM a2_$1 WHERE vec_id % 9 <> 8")
    .replace("FROM embeddings e CROSS JOIN cent) WHERE ark = 1)",
      "FROM embeddings e CROSS JOIN cent WHERE e.vec_id % 9 <> 8) WHERE ark = 1)")
    .replace("FROM ev e CROSS JOIN qfull qf WHERE e.vec_id <> qf.q_id)",
      "FROM ev e CROSS JOIN qfull qf WHERE e.vec_id <> qf.q_id AND e.vec_id % 9 <> 8)")

  val oracles: Map[String, String] = Map(
    "sim06_pq_ann" -> sim06Sql,

    // seed-vs-refined list stats recomputed exactly per fixture; the
    // never-worse claim is the literal flag.
    "sim12_centroid_balance" ->
      s"""WITH skew AS (
         |  SELECT e.vec_id,
         |    CASE WHEN e.vec_id % 5 <> 0 THEN h.embedding ELSE e.embedding END
         |      AS embedding
         |  FROM embeddings e JOIN embeddings h
         |    ON h.vec_id = (SELECT MAX(vec_id) - 9 FROM embeddings) + e.vec_id % 10)
         |SELECT * FROM ${balanceAuditSql("embeddings", "real")}
         |UNION ALL
         |SELECT * FROM ${balanceAuditSql("skew", "skew")}
         |ORDER BY fixture""".stripMargin,

    // the persisted PQ index: one codebook trained on the initial
    // corpus, every vector (growth included) coded by it, same ADC +
    // rerank readout — the lake round-trip must change nothing
    "sim10_lake_pq" -> sim10Sql,

    // IVFADC: sim02's list pruning composed with sim06's ADC — the
    // candidates of the two probed lists scored from codes, reranked
    "knn05_ivf_pq" -> knn05Sql,

    "knn06_lake_ivfadc" -> knn06Sql,

    // streaming-transaction growth must converge to the batch-
    // transaction index exactly: knn06's oracle, verbatim
    "knn07_streaming_ivfadc" -> knn06Sql,

    // knn08: knn06's chain with the deleted residue class excluded
    // from the SERVED relations (codes, home lists) and the exact
    // ground truth — the trained quantizer CTEs stay untouched
    "knn08_ivfadc_delete" -> knn08Sql,

    // dq08: the two live counts recomputed from the surviving corpus;
    // every violation counter is the literal zero the audit claims
    "dq08_ann_consistency" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS corpus_vecs,
         |  CAST(COUNT(*) AS BIGINT) AS assigned_vecs,
         |  CAST(0 AS BIGINT) AS assignments_stranded,
         |  CAST(0 AS BIGINT) AS vecs_unassigned,
         |  CAST(0 AS BIGINT) AS codes_stranded,
         |  CAST(0 AS BIGINT) AS vecs_uncoded,
         |  CAST(0 AS BIGINT) AS multi_homed,
         |  CAST(0 AS BIGINT) AS bad_code_arity,
         |  CAST(0 AS BIGINT) AS orphan_lists
         |FROM embeddings WHERE vec_id % 9 <> 8""".stripMargin,

    // knn11: the streamed sibling must converge to the batch build —
    // knn06's oracle verbatim; the redelivery no-op is the literal
    "knn11_streaming_pq_sibling" ->
      s"""SELECT q_id, k, n_hits, recall, TRUE AS redelivery_noop
         |FROM ($knn06Sql) ORDER BY q_id""".stripMargin,

    // knn10: knn08's recall verbatim again — the SQL sibling path must
    // serve exactly what the hand-driven four-table path serves; the
    // layout cure and the one-transaction forget marker are literals
    "knn10_pq_sibling_sql" ->
      s"""SELECT q_id, k, n_hits, recall,
         |  TRUE AS overlap_before,
         |  CAST(1 AS BIGINT) AS max_files_per_cent_after,
         |  TRUE AS dvs_folded,
         |  CAST(8 AS BIGINT) AS codes_files_after,
         |  TRUE AS atomic_forget
         |FROM ($knn08Sql) ORDER BY q_id""".stripMargin,

    // knn09: the recall is knn08's oracle verbatim (maintenance must
    // change nothing); the layout cure rides as gated literals
    "knn09_ivfadc_maintain" ->
      s"""SELECT q_id, k, n_hits, recall,
         |  TRUE AS overlap_before,
         |  CAST(1 AS BIGINT) AS max_files_per_cent_after,
         |  TRUE AS dvs_folded
         |FROM ($knn08Sql) ORDER BY q_id""".stripMargin,

    // The persisted index is semantically sim02 with centroids drawn
    // from the INITIAL corpus only (vec_id % 10 <> 9) and every vector —
    // initial at build time, growth at the incremental append (sim07)
    // or the streaming tail (sim08) — assigned by the same
    // nearest-centroid rule; ONE oracle cross-gates both maintenance
    // paths.
    "sim07_lake_ann" -> sim07Sql,
    "sim08_streaming_index" -> sim07Sql,

    // sim13: sim07's chain with the deleted residue class excluded
    // from the CANDIDATES only — the trained coarse quantizer stays
    "sim13_index_delete_propagation" ->
      sim07Sql.replace("FROM embeddings e CROSS JOIN cent)",
        "FROM embeddings e CROSS JOIN cent WHERE e.vec_id % 9 <> 8)"),

    // lf01: every count recomputed from the surviving residue classes
    // of the documents⋈embeddings corpus; the atomicity and zero-leak
    // claims are the gated literals
    "lf01_atomic_forget" ->
      """WITH surv AS (
        |  SELECT d.doc_id FROM documents d JOIN embeddings e
        |  ON d.doc_id = e.vec_id WHERE d.doc_id % 9 <> 8)
        |SELECT (SELECT COUNT(*) FROM surv) AS corpus_docs,
        |  CAST(0 AS BIGINT) AS erased_in_corpus,
        |  (SELECT COUNT(*) FROM surv) AS stats_docs,
        |  (SELECT COUNT(*) FROM surv) AS text_docs,
        |  CAST(0 AS BIGINT) AS erased_in_text_index,
        |  (SELECT COUNT(*) FROM surv) AS ann_rows,
        |  CAST(0 AS BIGINT) AS erased_in_ann_index,
        |  TRUE AS atomic_commit""".stripMargin,

    // dq09: the live count recomputed from the surviving join; every
    // violation counter is the literal zero the atomic flip guarantees
    "dq09_forget_consistency" ->
      """SELECT
        |  (SELECT COUNT(*) FROM documents d JOIN embeddings e
        |   ON d.doc_id = e.vec_id WHERE d.doc_id % 9 <> 8) AS corpus_docs,
        |  CAST(0 AS BIGINT) AS text_stranded,
        |  CAST(0 AS BIGINT) AS docs_unindexed,
        |  CAST(0 AS BIGINT) AS ann_stranded,
        |  CAST(0 AS BIGINT) AS docs_unassigned,
        |  CAST(0 AS BIGINT) AS codes_stranded,
        |  CAST(0 AS BIGINT) AS docs_uncoded,
        |  CAST(0 AS BIGINT) AS bad_code_arity""".stripMargin,

    // sim14: the ranking is sim13's oracle verbatim (the rewrite must
    // change nothing); the layout cure rides as gated literals —
    // overlapping per-list file-sets before, exactly one file per
    // probed list after, DVs folded, every live corpus file in the
    // watermark
    "sim14_ann_index_maintain" ->
      s"""SELECT q_id, rk, c_id, label, cosine,
         |  TRUE AS overlap_before,
         |  CAST(1 AS BIGINT) AS max_files_per_cent_after,
         |  TRUE AS dvs_folded, TRUE AS watermark_folded
         |FROM (${sim07Sql.replace("FROM embeddings e CROSS JOIN cent)",
             "FROM embeddings e CROSS JOIN cent WHERE e.vec_id % 9 <> 8)")})
         |ORDER BY q_id, rk""".stripMargin,

    // the streaming PQ tail must converge to sim10's exact rows: ONE
    // oracle cross-gates the batch-increment and streaming maintenance
    "sim11_streaming_pq" -> sim10Sql,

    // recall of the served index vs brute force: both rankings nested
    // verbatim, same shape as sim05's audit of sim02
    "sim09_lake_ann_recall" ->
      s"""SELECT e.q_id AS q_id, COUNT(*) AS k,
        |  COUNT(a.c_id) AS n_hits,
        |  CAST(COUNT(a.c_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        |FROM ($sim01Sql) e
        |LEFT JOIN ($sim07Sql) a ON e.q_id = a.q_id AND e.c_id = a.c_id
        |GROUP BY e.q_id ORDER BY q_id""".stripMargin,


    "sim01_cosine_topk" -> sim01Sql,

    // Both arms' rank lists replay exactly (t14's rounded BM25, the
    // round-6 cosine); the fusion is rank arithmetic — CAST the
    // literals to DOUBLE (DuckDB's bare 1.0 is DECIMAL and its
    // DECIMAL/BIGINT division would not be IEEE).
    "rrf01_hybrid_fusion" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |stats AS (
        |  SELECT count(*) AS n,
        |    CAST(SUM(len(ws)) AS DOUBLE) / count(*) AS avgdl
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, w, MAX(dl) AS dl, count(*) AS tf
        |  FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM docs)
        |  WHERE w IN ('spark', 'join', 'filter')
        |  GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |bmscored AS (
        |  SELECT tf.doc_id,
        |    round(SUM(
        |      ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
        |      CAST(tf.tf AS DOUBLE) /
        |      (CAST(tf.tf AS DOUBLE) +
        |        1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / stats.avgdl))), 6)
        |      AS score
        |  FROM tf JOIN df USING (w) CROSS JOIN stats
        |  GROUP BY tf.doc_id),
        |bmtop AS (SELECT doc_id, score FROM bmscored ORDER BY score DESC, doc_id LIMIT 20),
        |bmr AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS bm25_rank FROM bmtop),
        |qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |cos AS (
        |  SELECT e.vec_id AS doc_id, ${cosSql("q_emb", "e.embedding")} AS cosine
        |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
        |costop AS (SELECT doc_id, cosine FROM cos ORDER BY cosine DESC, doc_id LIMIT 20),
        |cdr AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS cos_rank FROM costop),
        |fused AS (
        |  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
        |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.bm25_rank), CAST(0.0 AS DOUBLE)) +
        |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + c.cos_rank), CAST(0.0 AS DOUBLE)) AS rrf,
        |    CAST(COALESCE(b.bm25_rank, -1) AS BIGINT) AS bm25_rank,
        |    CAST(COALESCE(c.cos_rank, -1) AS BIGINT) AS cos_rank
        |  FROM bmr b FULL OUTER JOIN cdr c ON b.doc_id = c.doc_id)
        |SELECT doc_id, rrf, bm25_rank, cos_rank FROM fused
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "sim02_ivf_ann" -> sim02Sql,

    // Both rankings nested verbatim as derived tables: the recall join is
    // over exactly the published sim01/sim02 results.
    "sim05_ivf_recall" ->
      s"""SELECT e.q_id AS q_id, COUNT(*) AS k,
        |  COUNT(a.c_id) AS n_hits,
        |  CAST(COUNT(a.c_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        |FROM ($sim01Sql) e
        |LEFT JOIN ($sim02Sql) a ON e.q_id = a.q_id AND e.c_id = a.c_id
        |GROUP BY e.q_id ORDER BY q_id""".stripMargin,

    "sim04_quantized_rerank" ->
      s"""WITH m AS (
        |  SELECT vec_id, embedding, label,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id, embedding, label,
        |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 127.0 / mx)) AS qa,
        |    mx / 127.0 AS s
        |  FROM m),
        |ap AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label,
        |    q.embedding AS q_emb, c.embedding AS c_emb,
        |    list_sum(list_transform(list_zip(q.qa, c.qa), p -> p[1] * p[2])) * (q.s * c.s) AS approx
        |  FROM qz q JOIN qz c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 8),
        |sv AS (
        |  SELECT q_id, c_id, label, q_emb, c_emb, approx,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx DESC, c_id) AS prk
        |  FROM ap),
        |rr AS (
        |  SELECT q_id, c_id, label, approx, ${cosSql("q_emb", "c_emb")} AS cosine
        |  FROM sv WHERE prk <= 30),
        |rk AS (
        |  SELECT q_id, c_id, label, approx, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rk
        |  FROM rr)
        |SELECT q_id, rk, c_id, label, approx, cosine FROM rk WHERE rk <= 10
        |ORDER BY q_id, rk""".stripMargin,

    "knn01_graph" ->
      ("WITH " + knnCtes + "\n" +
        "SELECT src, rk, nbr, cosine FROM ranked WHERE rk <= 3 ORDER BY src, rk"),

    "knn03_graph_recall" ->
      ("WITH " + knnCtes + s""",
        |knn AS (SELECT src, nbr FROM ranked WHERE rk <= 3 AND src < 32),
        |exact AS (
        |  SELECT src, nbr FROM (
        |    SELECT q.vec_id AS src, c.vec_id AS nbr,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
        |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id < 32)
        |  WHERE rk <= 3)
        |SELECT e.src AS src, COUNT(*) AS k, COUNT(a.nbr) AS n_hits,
        |  CAST(COUNT(a.nbr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        |FROM exact e LEFT JOIN knn a ON e.src = a.src AND e.nbr = a.nbr
        |GROUP BY e.src ORDER BY src""".stripMargin),

    "knn02_mutual_clusters" ->
      ("WITH RECURSIVE " + knnCtes + """,
        |knn AS (SELECT src, nbr FROM ranked WHERE rk <= 3),
        |mutual AS (
        |  SELECT a.src, a.nbr FROM knn a
        |  JOIN knn b ON a.src = b.nbr AND a.nbr = b.src
        |  WHERE a.src < a.nbr),
        |edges AS (
        |  SELECT src, nbr AS dst FROM mutual
        |  UNION SELECT nbr, src FROM mutual),
        |reach(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src),
        |comp AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)
        |SELECT id AS vec_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
        |FROM comp ORDER BY vec_id""".stripMargin),

    "knn04_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS src, embedding AS q_emb, label AS q_label
        |           FROM embeddings WHERE vec_id < 32),
        |scored AS (
        |  SELECT src, q_label, c.vec_id AS nbr, c.label AS c_label,
        |    ${cosSql("q_emb", "c.embedding")} AS cosine
        |  FROM embeddings c JOIN q ON src <> c.vec_id),
        |pos AS (SELECT src, nbr AS pos_nbr, cosine AS pos_cos FROM (
        |  SELECT src, nbr, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rk
        |  FROM scored WHERE q_label = c_label) WHERE rk = 1),
        |neg AS (SELECT src, nbr AS neg_nbr, cosine AS neg_cos FROM (
        |  SELECT src, nbr, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rk
        |  FROM scored WHERE q_label <> c_label) WHERE rk = 1),
        |sh AS (SELECT src, nbr AS semi_nbr, cosine AS semi_cos FROM (
        |  SELECT s.src, s.nbr, s.cosine,
        |    ROW_NUMBER() OVER (PARTITION BY s.src
        |      ORDER BY s.cosine DESC, s.nbr) AS rk
        |  FROM scored s JOIN pos p ON s.src = p.src
        |  WHERE s.q_label <> s.c_label AND s.cosine < p.pos_cos) WHERE rk = 1)
        |SELECT pos.src, pos_nbr, pos_cos, neg_nbr, neg_cos, semi_nbr, semi_cos,
        |  pos_cos - neg_cos AS margin
        |FROM pos JOIN neg ON pos.src = neg.src
        |LEFT JOIN sh ON pos.src = sh.src
        |ORDER BY pos.src""".stripMargin,

    "sim03_label_centroids" ->
      """WITH by_dim AS (
        |  SELECT label, dim, SUM(CAST(v AS DOUBLE)) / COUNT(*) AS mean_v, COUNT(*) AS n
        |  FROM (SELECT label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) - 1 AS dim
        |        FROM embeddings)
        |  GROUP BY label, dim)
        |SELECT label, MAX(n) AS n_vectors,
        |  round(sqrt(SUM(mean_v * mean_v)), 6) AS centroid_norm
        |FROM by_dim GROUP BY label ORDER BY label""".stripMargin,
  )
}

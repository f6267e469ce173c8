package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

import graft.ops.TxLog

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash, and SimHash. Everything is engine-portable-deterministic: the
  * "random" hash families are derived from md5 (identical digests in both
  * engines), so even the MinHash signatures hash-match the DuckDB oracle.
  *
  * Scale design:
  *  - exact dedup = hash-groupBy on the fingerprint (one shuffle on fp;
  *    at 100 TB this is the classic dedup-by-content-hash pass);
  *  - n-gram Jaccard runs on shingle-inverted-index joins: explode
  *    shingles -> join on shingle -> count shared. The candidate
  *    generation is the scalable part; the full-corpus quadratic variant
  *    is deliberately NOT implemented (dd02 uses a deterministic sample —
  *    MinHash banding in dd03/dd04 is the full-corpus path);
  *  - MinHash: k=16 permutation-free minimum hashes per doc; banded 4×4
  *    for LSH candidates — band join replaces the all-pairs product.
  */
object DedupQueries {

  import graft.ops.Dedup

  /** Candidate pairs + MinHash component-match counts, shared by dd14
    * (similarity estimate) and dd15 (cross-source profile). ONE text
    * scan: the checkpointed signature relation feeds banding AND both
    * estimate-join sides. Returns (doc_a, doc_b, n_match), unfiltered. */
  private def minhashEstimates(docs: DataFrame): DataFrame = {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text").localCheckpoint(true)
    val bandRel = Dedup.bandSignaturesFromSigs(sigs, "doc_id").localCheckpoint(true)
    val cands = bandRel.as("x").join(bandRel.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val a = sigs.select(col("doc_id").as("doc_a") +:
      (0 until 16).map(j => col(s"mh$j").as(s"a$j")): _*)
    val b = sigs.select(col("doc_id").as("doc_b") +:
      (0 until 16).map(j => col(s"mh$j").as(s"b$j")): _*)
    val nMatch = (0 until 16).map(j => (col(s"a$j") === col(s"b$j")).cast("int"))
      .reduce(_ + _)
    cands.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dd01: exact dedup via content hash. Keeper = min doc_id.
    "dd01_exact_dedup" -> ((spark: SparkSession, dir: String) => {
      Dedup.exactClusters(t(spark, dir, "documents"), "doc_id", "text")
        .orderBy("keeper_doc_id")
    }),

    // ---- dd02: n-gram Jaccard similarity on a deterministic subsample
    // (doc_id % 50 == 0) via shingle-inverted-index join — the exact
    // verifier used downstream of LSH candidates.
    "dd02_ngram_jaccard" -> ((spark: SparkSession, dir: String) => {
      graft.functions.VectorFunctions.registerAll(spark)
      val docs = t(spark, dir, "documents").filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), call_function("shingles", col("text"), lit(8)).as("shingles"))
      val sizes = docs.select(col("doc_id"), size(col("shingles")).as("n_sh"))
      val inv = docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
      val pairs = inv.as("a").join(inv.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (col("n_shared").cast("double") /
            (col("na") + col("nb") - col("n_shared")).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= 0.08)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- dd03: MinHash signatures (k=16), fully oracle-checkable since
    // the hash family is md5-derived. One scan, no shuffle, no UDF.
    "dd03_minhash_signatures" -> ((spark: SparkSession, dir: String) => {
      Dedup.minhashSignatures(t(spark, dir, "documents"), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- dd04: LSH banding over the MinHash signatures: 4 bands × 4 rows;
    // docs sharing any band signature become candidate pairs. The band
    // join is the scale path: shuffle keyed on (band, signature) replaces
    // the all-pairs product.
    "dd04_lsh_candidates" -> ((spark: SparkSession, dir: String) => {
      Dedup.lshCandidates(t(spark, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")
    }),

    // ---- dd14: sketch-based similarity ESTIMATE — the step between
    // dd04's banded candidates and dd02's exact verify in the production
    // estimate-then-verify pipeline: est_jaccard = matching MinHash
    // components / k (an unbiased Jaccard estimator), thresholded before
    // any exact shingle work. n/16 is an exact binary division, so the
    // estimate hash-matches across engines. Scale shape: estimates are
    // computed ONLY for banded candidate pairs (never all pairs); the
    // signature relation joins by id — 17 narrow int columns, no text.
    "dd14_minhash_estimate" -> ((spark: SparkSession, dir: String) => {
      minhashEstimates(t(spark, dir, "documents"))
        .withColumn("est_jaccard", col("n_match").cast("double") / 16.0)
        .filter(col("n_match") >= 8)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- dd17: LSH RECALL audit — sim05's question asked of the dedup
    // path: what fraction of TRUE near-dup pairs does 4x4 banding
    // actually surface, as a function of similarity? The corpus has no
    // graded near-dup population, so the query synthesizes one the way
    // er01 synthesizes dirty names: each doc gets a PREFIX twin
    // (first 3 + doc_id % 48 words — doc lengths are 25-99 words, so
    // exact Jaccard spreads across the whole [0.08, 1] range). Truth is
    // the exact shingle Jaccard of each (doc, twin) pair — set
    // intersect/union sizes; candidacy depends only on the pair's own
    // two signatures. Reported per similarity bucket because that IS the
    // S-curve story: P(candidate) = 1-(1-j^4)^4 — near 1 at j >= 0.8,
    // ~0.2 at j = 0.5 — and the measured per-bucket recall pins where
    // the banding knobs stop being safe (below ~0.35 banding alone
    // misses most pairs: tighten bands or accept the loss; MMDS ch. 3).
    // Deterministic: fixed md5 hash family, exact counts, one IEEE
    // division. Scale shape: because every truth pair is (doc, its own
    // twin), the band-candidacy test "do the two share ANY band
    // signature" collapses from dd04's band equi-join to a PER-ROW
    // predicate over the pair's two MinHash signatures — the whole
    // audit is one corpus scan + a 4-group aggregate, zero joins
    // (a general corpus audit keeps the band join; that machinery is
    // gated by dd04/dd12/dd15).
    "dd17_lsh_recall" -> ((spark: SparkSession, dir: String) => {
      graft.functions.VectorFunctions.registerAll(spark)
      // Parallelism guard (t13's lesson): a small corpus arrives as ONE
      // file split and the four hash passes would run as a single task;
      // the explicit partition count stops AQE coalescing it back.
      val docs = t(spark, dir, "documents")
      val fanned =
        if (docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
          docs.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        else docs
      val s = fanned
        .select(col("doc_id"), col("text"),
          expr("array_join(slice(split(text, ' '), 1, 3 + cast(doc_id % 48 as int)), ' ')")
            .as("mtext"))
      // shingle sets and signatures land in named columns so each is
      // computed ONCE per row and shared by every consumer
      // (CollapseProject keeps multi-referenced non-cheap aliases
      // materialized — the same trap t13 hit with fingerprint arrays)
      def sig(c: String) = call_function("minhash_sig",
        call_function("shingle_hashes", col(c), lit(8)), lit(16))
      val bandHit = (0 until 4).map(b =>
          slice(col("ha"), b * 4 + 1, 4) === slice(col("hb"), b * 4 + 1, 4))
        .reduce(_ || _)
      s.select(col("doc_id"),
          call_function("shingles", col("text"), lit(8)).as("sa"),
          call_function("shingles", col("mtext"), lit(8)).as("sb"),
          sig("text").as("ha"), sig("mtext").as("hb"))
        .select(col("doc_id"),
          (size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))).cast("double")).as("jaccard"),
          when(bandHit, 1L).otherwise(0L).as("hit"))
        .filter(col("jaccard") >= 0.08)
        .withColumn("bucket", when(col("jaccard") >= 0.5, "4_j_ge_0.50")
          .when(col("jaccard") >= 0.35, "3_j_0.35_0.50")
          .when(col("jaccard") >= 0.2, "2_j_0.20_0.35")
          .otherwise("1_j_0.08_0.20"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_truth"), sum(col("hit")).as("n_caught"))
        .withColumn("recall",
          col("n_caught").cast("double") / col("n_truth").cast("double"))
        .orderBy("bucket")
    }),

    // ---- dd15: cross-source contamination matrix — "how much does
    // source X overlap source Y?", the question asked before mixing
    // corpora (common-crawl snapshots, books vs web, vendor datasets).
    // Profiles ALL LSH candidate pairs (no similarity threshold — the
    // matrix should show weak overlap too): per unordered source pair,
    // candidate count and mean estimated Jaccard.
    // Scale shape: candidates come from the band join (never all-pairs);
    // the (doc_id, source) relation is 2 narrow columns joined by id at
    // candidate grain — the same shape as dd14's signature joins; the
    // final agg has #sources^2/2 groups, trivially small.
    // Determinism: mean = exact int sum / exact int count in one IEEE
    // double division; least/greatest on ASCII source names.
    "dd15_cross_source_profile" -> ((spark: SparkSession, dir: String) => {
      val docs = t(spark, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
        .localCheckpoint(true) // feeds both side-joins below
      minhashEstimates(docs)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"), sum("n_match").as("sum_match"))
        .withColumn("mean_est_jaccard",
          col("sum_match").cast("double") / (col("n_pairs") * 16).cast("double"))
        .orderBy("source_a", "source_b")
    }),

    // ---- dd16: ASYMMETRIC near-dup — shingle CONTAINMENT
    // |A∩B| / min(|A|,|B|) instead of dd02's symmetric Jaccard. The
    // case this catches that Jaccard structurally can't: a short doc
    // quoted whole inside a much longer one has |∩|≈|A| but
    // |∪|≈|B|>>|A|, so Jaccard ~|A|/|B| → 0 while containment → 1 —
    // the quote-inclusion / boilerplate-embedding class of duplicate.
    // Same inverted-index join shape as dd02 (shared-shingle equi-join,
    // never all-pairs), same deterministic doc_id%50 subsample; only the
    // scoring denominator differs (least of the two set sizes).
    "dd16_shingle_containment" -> ((spark: SparkSession, dir: String) => {
      graft.functions.VectorFunctions.registerAll(spark)
      val docs = t(spark, dir, "documents").filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), call_function("shingles", col("text"), lit(8)).as("shingles"))
      val sizes = docs.select(col("doc_id"), size(col("shingles")).as("n_sh"))
      val inv = docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
      val pairs = inv.as("a").join(inv.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          (col("n_shared").cast("double") / least(col("na"), col("nb")).cast("double"))
            .as("containment"),
          // which doc is the (near-)contained one: the smaller set; ties -> doc_a
          when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
            .as("contained_doc"))
        .filter(col("containment") >= 0.1)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- dd05: 32-bit SimHash from md5-derived word hashes (frequency-
    // weighted bit votes). Scan-local; near-dup = small Hamming distance.
    "dd05_simhash" -> ((spark: SparkSession, dir: String) => {
      Dedup.simhash(t(spark, dir, "documents"), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- dd07: duplicate CLUSTERS — connected components over the LSH
    // candidate graph (iterative min-label propagation; fixpoint is the
    // unique min-id-per-component labeling, so fully oracle-able).
    "dd07_dup_clusters" -> ((spark: SparkSession, dir: String) => {
      val pairs = Dedup.lshCandidates(t(spark, dir, "documents"), "doc_id", "text")
      graft.ops.Graph.connectedComponents(pairs, "doc_a", "doc_b")
        .orderBy("id")
    }),

    // ---- dd09: dedup RETENTION policy — every document gets a
    // keep/drop decision: CC-cluster members keep only the min-id
    // canonical doc; docs outside any near-dup pair keep themselves.
    // This is the operator a pipeline actually runs after dd04/dd07 —
    // the cluster labels join back to the corpus (left_outer on the
    // tiny label relation) and `keep` falls out as id == component.
    "dd09_canonical_keep" -> ((spark: SparkSession, dir: String) => {
      val docs = t(spark, dir, "documents")
      val pairs = Dedup.lshCandidates(docs, "doc_id", "text")
      val cc = graft.ops.Graph.connectedComponents(pairs, "doc_a", "doc_b")
      docs.select(col("doc_id"))
        .join(cc, docs("doc_id") === cc("id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("keep", col("doc_id") === col("component"))
        .orderBy("doc_id")
    }),

    // ---- dd08: embedding-cosine near-dup — IVF-bucketed (nearest of 16
    // fixed centroids), pairs scored ONLY within a bucket: the candidate
    // set shrinks ~16x vs all-pairs while high-cosine pairs stay
    // co-bucketed. Native fused cosine kernel; round-6 determinism.
    "dd08_embedding_neardup" -> ((spark: SparkSession, dir: String) => {
      graft.functions.VectorFunctions.registerAll(spark)
      val emb = t(spark, dir, "embeddings")
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      val assignW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("a_cos").desc, col("cent_id").asc)
      val assigned = emb.join(broadcast(cent), lit(true))
        .select(col("vec_id"), col("embedding"), col("cent_id"),
          expr("round(vector_cosine(embedding, cent_emb), 6)").as("a_cos"))
        .withColumn("ark", row_number().over(assignW))
        .filter(col("ark") === 1)
        .select(col("vec_id"), col("embedding"), col("cent_id").as("list_id"))
        // localCheckpoint: both sides of the self-join below read `assigned`;
        // without it the 16-centroid broadcast+window assignment runs twice.
        .localCheckpoint(true)
      assigned.as("x").join(assigned.as("y"),
          col("x.list_id") === col("y.list_id") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
          expr("round(vector_cosine(x.embedding, y.embedding), 6)").as("cosine"))
        .filter(col("cosine") >= 0.30)
        .orderBy("vec_a", "vec_b")
    }),

    // ---- dd06: bounded-Hamming near-dup pairs over SimHash sketches via
    // 4x8-bit pigeonhole blocking (distance<=3 pairs must share a
    // segment) — equi-join candidates, then exact popcount verify.
    "dd06_simhash_near_pairs" -> ((spark: SparkSession, dir: String) => {
      Dedup.simhashNearPairs(t(spark, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- dd10: substring-level duplicate-SPAN coverage — per doc, the
    // fraction of its 8-token windows that also occur verbatim in some
    // OTHER doc (the fixed-k approximation of suffix-array ExactSubstr
    // dedup; whole-doc measures like dd02-dd06 miss a copied paragraph
    // inside an otherwise unique page). Single corpus scan; cross-doc
    // sharing detected with min!=max over the span-hash window, so no
    // shared-span join and no second scan.
    "dd10_span_coverage" -> ((spark: SparkSession, dir: String) => {
      Dedup.duplicateSpanStats(t(spark, dir, "documents"), "doc_id", "text", k = 8)
        .filter(col("n_dup_spans") > 0)
        .orderBy("doc_id")
    }),

    // ---- dd18: ExactSubstr excision (Lee et al. 2022) — dd10 measures
    // duplicated-span coverage; this emits the REWRITTEN corpus: every
    // cross-corpus repeated 8-token window except its first occurrence
    // is cut, adjacent cuts merge into maximal spans, and the cleaned
    // text is re-joined. Keep-first is deterministic (minimal (doc_id,
    // pos) per span hash). Scale shape in ops/Dedup.scaladoc.
    "dd18_substring_excision" -> ((spark: SparkSession, dir: String) => {
      Dedup.exciseDuplicateSpans(t(spark, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    // ---- dd11: SemDeDup — semantic dedup via k-means bucketing then
    // within-cluster cosine (Abbas et al. 2023, arXiv:2303.09540): cluster
    // the embedding space (deterministic Lloyd, k=8), then inside each
    // cluster greedily keep the lowest-id vector of every near-dup group
    // (drop any vector with an earlier same-cluster neighbor at rounded
    // cosine >= tau). Differs from dd08's fixed-centroid IVF: buckets are
    // LEARNED, and the output is the per-vector keep/drop decision a
    // curation run applies, not the pair list. Scale: the self-join is
    // within-cluster only (the k-means shuffle is k*d-sized, see
    // graft.ops.Clustering), and the drop test is a left_semi join — no
    // pair materialization past the filter.
    "dd11_semdedup" -> ((spark: SparkSession, dir: String) => {
      graft.functions.VectorFunctions.registerAll(spark)
      val emb = t(spark, dir, "embeddings")
      // localCheckpoint: the 2-round k-means assignment feeds both sides
      // of the self-join below (same expression-reuse trap as dd08).
      val assigned = graft.ops.Clustering
        .kmeansAssignments(emb, "vec_id", "embedding", k = 8, iters = 2)
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .localCheckpoint(true)
      val dropped = assigned.as("x").join(assigned.as("y"),
          col("x.cluster") === col("y.cluster") && col("y.vec_id") < col("x.vec_id") &&
            expr("round(vector_cosine(x.embedding, y.embedding), 6)") >= 0.35,
          "left_semi")
        .select(col("vec_id"), lit(true).as("is_dup"))
      assigned.select(col("vec_id"), col("cluster"))
        .join(dropped, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("cluster"), col("is_dup").isNull.as("keep"))
        .orderBy("vec_id")
    }),

    // ---- dd12: INCREMENTAL dedup — a new batch (doc_id % 10 = 7) tested
    // against the existing corpus (the rest): exact content-hash hit,
    // LSH-band near-dup candidacy, and the keep decision. The corpus side
    // collapses to DISTINCT fp / band-key relations (persistable
    // artifacts at 100 TB — new crawls never re-scan old data).
    // ---- er01: fuzzy entity resolution — match "dirty" entity names
    // (one deterministically dropped character, a fixture like pii01's
    // stamped contacts) back to the clean registry by trigram Jaccard.
    // Candidate generation is a trigram INVERTED-INDEX join (explode
    // distinct trigrams, equi-join on trigram) — never an all-pairs
    // product, so at 100 TB the cost is (names x trigrams) keyed joins.
    // STOP-TRIGRAM DF CAP: a trigram present in more than 15% of the
    // clean registry carries no discriminative signal but dominates the
    // join — its fan-out is quadratic in its posting length, the
    // classic skewed-key blowup at corpus scale. Such trigrams are
    // dropped from BOTH sides before sizing and joining, so similarity
    // is Jaccard over the discriminative trigrams only and every
    // surviving join key has per-side fan-out <= 0.15 x |registry| —
    // the same move as dd04's banding vs dd02's quadratic verify. The
    // cap is relative (the stop set is stable for a fixed language as
    // the corpus grows — measured here: the same 4 trigrams prune at
    // sf0.01 and sf0.1), and the stop relation is vocabulary-sized:
    // broadcast anti-joins, no extra shuffle. Top-1 per dirty name by
    // (jaccard, clean_id) — a total order, so the pick is
    // deterministic in both engines.
    "er01_fuzzy_entity_match" -> ((spark: SparkSession, dir: String) => {
      val jac = col("jaccard")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dirty_id")).orderBy(jac.desc, col("clean_id").asc)
      // The acceptance gate runs BEFORE the window: top-1-then-filter
      // and filter-then-top-1 are equivalent for the same ordering key
      // (if the global best passes the gate it is also the filtered
      // best; if not, the filtered partition is empty) — but Catalyst
      // cannot prove that, and the unpushed form sorts the FULL
      // candidate relation (6.5M pairs at sf0.1) for a window whose
      // survivors are ~0.1% of it.
      erPairs(spark, dir)
        .filter(col("jaccard") >= 0.5)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("dirty_id"), col("clean_id"), col("jaccard"),
          (col("dirty_id") === col("clean_id")).as("is_self"))
        .orderBy("dirty_id")
    }),

    // ---- er02: entity CLUSTERS — the step after er01's pairwise
    // matching in the standard block -> match -> cluster ER pipeline:
    // connected components over the accepted match edges turn pairwise
    // links into entity groups (A matched B, B matched C => one
    // entity), labeled by min id with member counts. Clusters on ALL
    // links above threshold, not er01's best-per-dirty pick: transitive
    // grouping wants every accepted edge. Self-matches carry no edge
    // information and are excluded. Cost is dominated by the shared
    // trigram-join pair scoring (data-inherent at this fixture — see
    // er01's scaladoc); the CC loop itself runs on checkpointed edges.
    "er02_entity_clusters" -> ((spark: SparkSession, dir: String) => {
      val edges = erPairs(spark, dir)
        .filter(col("jaccard") >= 0.5 && col("dirty_id") =!= col("clean_id"))
        .select(col("dirty_id").as("doc_a"), col("clean_id").as("doc_b"))
      val cc = graft.ops.Graph.connectedComponents(edges, "doc_a", "doc_b")
      cc.join(cc.groupBy(col("component")).agg(count(lit(1)).as("n_members")),
          "component")
        .select(col("id"), col("component").as("entity_id"), col("n_members"))
        .orderBy("id")
    }),
    // ---- er04: BLOCKING-QUALITY metrics — the audit every production
    // blocking scheme ships with (Christen, "Data Matching", ch. 7):
    // REDUCTION RATIO (how much of the n^2 comparison space the trigram
    // blocking prunes: 1 - |candidates| / (|dirty| x |clean|)) and
    // PAIRS COMPLETENESS (recall of the blocking alone: this fixture
    // derives each dirty name from its own clean row, so dirty_id ==
    // clean_id IS the ground-truth match set). These two numbers are
    // the whole tuning story for a 100 TB blocking stage — RR says the
    // candidate join stays tractable, PC says the stop-trigram cap
    // didn't price recall — and both are exact counts over the already
    // keyed candidate relation: no new join shape, one extra
    // aggregation over erPairs plus a broadcast 1-row corpus count.
    "er04_blocking_metrics" -> ((spark: SparkSession, dir: String) => {
      val names = t(spark, dir, "documents").agg(count(lit(1)).as("n_names"))
      erPairs(spark, dir)
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("dirty_id") === col("clean_id"), 1L).otherwise(0L))
            .as("n_true_found"))
        .crossJoin(broadcast(names))
        .select(col("n_names"), col("n_candidates"), col("n_true_found"),
          (lit(1.0) - col("n_candidates").cast("double") /
            (col("n_names").cast("double") * col("n_names").cast("double")))
            .as("reduction_ratio"),
          (col("n_true_found").cast("double") / col("n_names").cast("double"))
            .as("pairs_completeness"))
    }),

    // ---- er05: the PERSISTED-LINKS lifecycle gate (the sim07 move
    // applied to entity resolution — VERDICT r9 item 2). Builds the
    // candidate/links relation as a TxLog lake table from the BASE
    // corpus (doc_id % 10 != 7), then INCREMENTALLY maintains it when
    // the remaining docs arrive: only the new-side trigram joins run —
    // dirty(new) x clean(all) plus dirty(old) x clean(new), a disjoint
    // cover of every new pair — never an old x old rescoring. The STOP
    // set is PINNED at build time over the base registry (the same
    // frozen-artifact property as sim07's centroids: an index's
    // vocabulary doesn't drift under appends, it is rebuilt
    // deliberately), which is what makes incremental maintenance exact:
    // persisted(v0 ∪ increment) is proven multiset-EQUAL to the full
    // rebuild in-engine (incr_matches_full), and the DuckDB oracle
    // recomputes the same pinned-stop scoring independently. The
    // reported relation is read from DISK (the served path), so the
    // gate covers build + incremental append + parquet round-trip.
    // At 100 TB this is the production ER shape: new crawls append
    // churn-sized link deltas, audits and clustering read the artifact.
    "er05_persisted_links" -> ((spark: SparkSession, dir: String) => {
      // the lifecycle gate runs THREE scoring passes by design (build,
      // increment, independent full rebuild), so it takes a fixed
      // sub-corpus (doc_id % 3 = 0 — dd02's subset pattern): every
      // gated property (pinned stop set, disjoint incremental cover,
      // multiset equality, disk round-trip) is corpus-size-free
      val base = erBase(spark, dir).filter(col("doc_id") % 3 === 0)
      val dirty = erDirty(base)
      val cleanOld = base.filter(col("doc_id") % 10 =!= 7)
      val cleanNew = base.filter(col("doc_id") % 10 === 7)
      val dirtyOld = dirty.filter(col("dirty_id") % 10 =!= 7)
      val dirtyNew = dirty.filter(col("dirty_id") % 10 === 7)
      val ctOld = erTris(cleanOld.withColumnRenamed("doc_id", "clean_id"), "clean_id", "name")
      val ctNew = erTris(cleanNew.withColumnRenamed("doc_id", "clean_id"), "clean_id", "name")
      val ctAll = erTris(base.withColumnRenamed("doc_id", "clean_id"), "clean_id", "name")
      val dtOld = erTris(dirtyOld, "dirty_id", "dname")
      val dtNew = erTris(dirtyNew, "dirty_id", "dname")
      // stop set pinned over the BASE registry at build time — the
      // SHARED per-JVM artifact (er06 pins the identical set; deriving
      // it twice measured the same registry scan twice)
      val stop = erStopPinned(spark, dir)
      val table = SharedBases.tempDir("graft_er").resolve("links05")
      // nParts = 0: the pair relation leaves its aggregate already in
      // post-shuffle layout — the old repartition(defaultParallelism)
      // forced one more full exchange of every pair PLUS the round-robin
      // path's local sort (guide §2.5), keyed to the LOCAL core count
      // (optimization r17; AQE sizes the write parallelism instead)
      TxLog.append(spark, erScore(dtOld, ctOld, stop), table, "dirty_id"): Unit
      // incremental delta: disjoint cover of every pair touching a new
      // doc — the churn-sized side broadcast, the full side pre-filtered
      // (erScoreDelta*, guide §3.2), never an old x old rescoring
      TxLog.append(spark,
        erScoreDeltaDirty(dtNew, ctAll, stop)
          .unionByName(erScoreDeltaClean(dtOld, ctNew, stop)),
        table, "dirty_id"): Unit
      val persisted = TxLog.readAt(spark, table)
      // the full-rebuild reference: the SHARED per-JVM artifact
      // (localCheckpointed once; er06 proves against the same relation)
      val full = erFullLinksRef(spark, dir)
      val incrOk = SharedBases.multisetEqual(persisted, full)
      persisted.agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("dirty_id") === col("clean_id"), 1L).otherwise(0L))
            .as("n_true_found"),
          sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_links_05"),
          sum(when(col("jaccard") >= 0.3, 1L).otherwise(0L)).as("n_links_03"))
        .select(col("n_pairs"), col("n_true_found"), col("n_links_05"),
          col("n_links_03"),
          lit(if (incrOk) 1L else 0L).as("incr_matches_full"),
          lit(TxLog.history(table).size.toLong).as("n_commits"))
    }),

    // ---- er06: STREAMING maintenance of the persisted links table —
    // the sim08 move applied to entity resolution, closing the loop
    // er05 opened: new documents land in a BRONZE lake table, a
    // graft-lake tail drains it one commit per micro-batch, and each
    // batch appends its link delta into the links table with a
    // batch-id-tagged EXACTLY-ONCE commit. The delta algebra is er05's
    // disjoint cover computed against a SEEN-docs silver table the
    // stream itself maintains: delta(batch) = score(dirty(batch),
    // clean(seen ∪ batch)) ∪ score(dirty(seen), clean(batch)), then the
    // batch joins `seen` — both appends tagged with the SAME batch id,
    // so a replay after a crash between them recomputes the identical
    // delta (seen is unchanged until the second append lands) and each
    // commit is applied at most once. The stop set stays PINNED at
    // build time (the index-artifact property er05 establishes), so
    // the drained table is proven multiset-EQUAL to the full rebuild
    // in-engine, and the content gate is the SAME pinned-stop oracle
    // as er05 — cross-gating the batch and streaming maintenance paths
    // against each other through one recompute.
    "er06_streaming_links" -> ((spark: SparkSession, dir: String) => {
      val base = erBase(spark, dir).filter(col("doc_id") % 3 === 0)
      val isNew = col("doc_id") % 10 === 7
      // the SAME pinned stop set er05 builds with — shared per-JVM
      val stop = erStopPinned(spark, dir)
      val work = SharedBases.tempDir("graft_er")
      val links = work.resolve("links06")
      val bronze = work.resolve("bronze06")
      val seen = work.resolve("seen06")
      def dtOf(names: DataFrame) = erTris(
        names.select(col("doc_id").as("dirty_id"), col("dname")), "dirty_id", "dname")
      def ctOf(names: DataFrame) = erTris(
        names.select(col("doc_id").as("clean_id"), col("name")), "clean_id", "name")
      val named = base.select(col("doc_id"), col("name"), expr(
        """concat(substr(name, 1, cast(doc_id % length(name) as int)),
          |       substr(name, cast(doc_id % length(name) as int) + 2))""".stripMargin)
        .as("dname"))
      val namedOld = named.filter(!isNew)
      // v0: build from the base corpus; silver `seen` starts as base
      // (pair appends: nParts = 0 — the er05 rationale; the post-
      // aggregate layout already parallelizes the write)
      TxLog.append(spark, erScore(dtOf(namedOld), ctOf(namedOld), stop),
        links, "dirty_id"): Unit
      TxLog.append(spark, namedOld, seen, "doc_id", nParts = 2): Unit
      // arrivals: two bronze commits -> two micro-batches
      val growth = named.filter(isNew)
      TxLog.append(spark, growth.filter(col("doc_id") % 2 === 0), bronze, "doc_id", nParts = 1)
      TxLog.append(spark, growth.filter(col("doc_id") % 2 === 1), bronze, "doc_id", nParts = 1)
      // under `work` so the shutdown hook reclaims it with the tables
      val ckpt = Files.createDirectories(work.resolve("ckpt"))
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", "1")
        .load(bronze.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          val batch = b.localCheckpoint(true)
          val seenNow = TxLog.readAt(spark, seen).localCheckpoint(true)
          // per-batch delta cover with the batch side BROADCAST and the
          // seen side pre-filtered by the batch's trigrams (guide §3.2)
          // — the seen corpus is never shuffled in full per micro-batch
          val delta = erScoreDeltaDirty(dtOf(batch),
              ctOf(seenNow.unionByName(batch)), stop)
            .unionByName(erScoreDeltaClean(dtOf(seenNow), ctOf(batch), stop))
          TxLog.streamingAppend(spark, delta, bid, links, "dirty_id", nParts = 0): Unit
          TxLog.streamingAppend(spark, batch, bid, seen, "doc_id"): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val persisted = TxLog.readAt(spark, links)
      // the SAME full-rebuild reference er05 proves against (dtOf(named)
      // ≡ erDirty(base), ctOf(named) ≡ the clean trigrams — erFullLinksRef
      // restates both verbatim), shared per-JVM
      val full = erFullLinksRef(spark, dir)
      val streamOk = SharedBases.multisetEqual(persisted, full) &&
        TxLog.committedBatchIds(links) == Set(0L, 1L)
      persisted.agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("dirty_id") === col("clean_id"), 1L).otherwise(0L))
            .as("n_true_found"),
          sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_links_05"),
          sum(when(col("jaccard") >= 0.3, 1L).otherwise(0L)).as("n_links_03"))
        .select(col("n_pairs"), col("n_true_found"), col("n_links_05"),
          col("n_links_03"),
          lit(if (streamOk) 1L else 0L).as("stream_matches_full"),
          lit(TxLog.history(links).size.toLong).as("n_commits"))
    }),

    // ---- er03: exact edit-distance VERIFY — the third stage of the
    // canonical block -> cheap-match -> exact-verify ER pipeline
    // (er01 blocks on trigrams and scores Jaccard; er02 clusters
    // accepted links). Trigram Jaccard is set-based, so it confuses
    // anagram-ish rearrangements and shared-vocabulary names; the
    // Levenshtein gate kills those false accepts (at sf0.1 ~28k pairs
    // pass jaccard >= 0.5 yet sit > 2 edits apart — the class this
    // stage exists to reject). Cost shape: the expensive exact metric
    // runs ONLY on the blocked candidate pairs (never all-pairs), a
    // looser jaccard >= 0.3 pre-gate keeps recall for near-misses the
    // set metric underscores, and levenshtein is a codegen'd integer
    // kernel in both engines.
    "er03_edit_verify" -> ((spark: SparkSession, dir: String) => {
      val base = erBase(spark, dir)
      val dirty = erDirty(base)
      erPairs(spark, dir)
        .filter(col("jaccard") >= 0.3)
        .join(dirty, "dirty_id")
        .join(base.select(col("doc_id").as("clean_id"), col("name")), "clean_id")
        .withColumn("edit_dist", levenshtein(col("dname"), col("name")))
        .filter(col("edit_dist") <= 2)
        .select(col("dirty_id"), col("clean_id"), col("edit_dist"), col("jaccard"))
        .orderBy("dirty_id", "clean_id")
    }),
    // ---- c04: the COMPOSED entity-resolution pipeline — block ->
    // cheap-match -> exact-verify -> cluster as one composition (the
    // stages up to the verified edge set are a single deferred plan;
    // the CC loop then iterates on eagerly-checkpointed edges). er01,
    // er02, and er03 each gate one stage self-containedly and therefore
    // each re-derive the candidate scoring (the documented cost triple
    // in BENCH.md); this is the executable form of that design note: a
    // real pipeline computes erPairs ONCE, and every downstream stage
    // (jaccard pre-gate, Levenshtein verify, connected-components
    // clustering, member rollup) consumes the same relation. Clusters
    // are built over the VERIFIED link set (jaccard >= 0.3 AND
    // edit_dist <= 2, the production acceptance rule) — a different,
    // stricter entity table than er02's unverified jaccard >= 0.5
    // links. Scale shape: one candidate scoring pass, the verify joins
    // attach two narrow name relations by id, and the CC loop runs on
    // checkpointed verified edges (orders of magnitude smaller than
    // the candidate relation).
    "c04_entity_pipeline" -> ((spark: SparkSession, dir: String) => {
      val base = erBase(spark, dir)
      val dirty = erDirty(base)
      val verified = erPairs(spark, dir)
        .filter(col("jaccard") >= 0.3)
        .join(dirty, "dirty_id")
        .join(base.select(col("doc_id").as("clean_id"), col("name")), "clean_id")
        .filter(levenshtein(col("dname"), col("name")) <= 2 &&
          col("dirty_id") =!= col("clean_id"))
        .select(col("dirty_id").as("doc_a"), col("clean_id").as("doc_b"))
      val cc = graft.ops.Graph.connectedComponents(verified, "doc_a", "doc_b")
      cc.join(cc.groupBy(col("component")).agg(count(lit(1)).as("n_members")),
          "component")
        .select(col("id"), col("component").as("entity_id"), col("n_members"))
        .orderBy("id")
    }),
  ) ++ starDefs

  /** The ER fixture's name relations: `base` = (doc_id, name) with name =
    * first 3 words; `erDirty` = (dirty_id, dname) with one deterministically
    * dropped character — shared by er01-er04, c04, and erPairs. */
  private def erBase(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), expr("array_join(slice(split(text, ' '), 1, 3), ' ')").as("name"))

  private def erDirty(base: DataFrame): DataFrame =
    base.select(col("doc_id").as("dirty_id"), expr(
      """concat(substr(name, 1, cast(doc_id % length(name) as int)),
        |       substr(name, cast(doc_id % length(name) as int) + 2))""".stripMargin).as("dname"))

  /** The scored ER candidate pairs (dirty_id, clean_id, jaccard) —
    * shared by er01 (best-per-dirty pair report), er02 (entity
    * clustering over every accepted link), and er03 (exact
    * edit-distance verification of blocked candidates).
    *
    * A/B note (round 7, measured like round 5's window-vs-struct):
    * a LENGTH-BAND prefilter (prune joined rows where
    * min(n_d,n_c)/max(n_d,n_c) < 0.3 before the pair-count aggregate —
    * sound, since jaccard <= min/max) was measured on sf0.1 and prunes
    * 460 of 20,528,907 join rows (0.002%): this fixture's names are
    * uniform-length (first 3 words of a fixed-vocabulary generator), so
    * the band never fires and the extra size-attach joins on the JOIN
    * INPUT would cost more than they save. Not adopted; the candidate
    * volume here is data-inherent (26% of all pairs share a non-stop
    * trigram — tiny synthetic vocabulary), and the plan is already the
    * scale shape: broadcast trigram join, one exchange for the pair
    * aggregate, broadcast size attaches. On a real-language corpus the
    * band becomes a standard blocking component worth re-measuring. */
  /** Explode a name relation into its distinct trigrams.
    * Dedup.shinglesExpr carries the short-input guard (a name under 4
    * chars yields one whole-name shingle instead of a descending
    * sequence emitting position-0 windows the oracle never sees). */
  private def erTris(df: DataFrame, idCol: String, nameCol: String): DataFrame =
    df.select(col(idCol), explode(expr(Dedup.shinglesExpr(nameCol, 3))).as("tri"))

  /** The vocabulary-sized stop-trigram relation: trigrams present in
    * more than 15% of the given CLEAN registry's names (see er01's
    * scaladoc for the skew argument). localCheckpoint: the relation
    * feeds both anti-joins of every consumer — without it each re-runs
    * the registry scan + DF aggregation. */
  private def erStop(cleanTris: DataFrame, nClean: DataFrame): DataFrame =
    cleanTris.groupBy("tri").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nClean))
      .filter(col("df").cast("double") > lit(0.15) * col("n_clean").cast("double"))
      .select("tri")
      .localCheckpoint(true)

  /** Score one (dirty x clean) trigram-blocked candidate relation with
    * a GIVEN stop set: inverted-index equi-join on non-stop trigrams,
    * 2-phase pair-count aggregate, sizes joined back onto the (much
    * smaller) pair relation. A/B'd against a sizes-ride-along +
    * max(struct) variant: the struct max planned as SortAggregate and
    * the wider grouping key cost ~40% more than this shape (round 5). */
  private def erScore(dtAll: DataFrame, ctAll: DataFrame, stop: DataFrame): DataFrame = {
    val ct = ctAll.join(broadcast(stop), Seq("tri"), "left_anti")
    val dt = dtAll.join(broadcast(stop), Seq("tri"), "left_anti")
    val csz = ct.groupBy("clean_id").agg(count(lit(1)).as("n_c"))
    val dsz = dt.groupBy("dirty_id").agg(count(lit(1)).as("n_d"))
    val shared = dt.join(ct, "tri").groupBy("dirty_id", "clean_id")
      .agg(count(lit(1)).as("n_shared"))
    val jac = col("n_shared").cast("double") /
      (col("n_d") + col("n_c") - col("n_shared")).cast("double")
    shared.join(dsz, "dirty_id").join(csz, "clean_id")
      .select(col("dirty_id"), col("clean_id"), jac.as("jaccard"))
  }

  /** [[erScore]] for the INCREMENTAL cover where the DIRTY side is a
    * churn-sized delta (optimization r17, VERDICT r16 item 5; guide
    * §3.2 "reduce the big side before shuffling it"): the delta is
    * BROADCAST into the pair join (the full registry side is never
    * shuffled for it), and the registry-side size aggregate runs only
    * over clean ids that can pair — a broadcast semi-join on the
    * delta's trigrams pre-filters the registry before its exchange.
    * Any SUPERSET of the paired ids is a correct filter (the final
    * inner join drops unused sizes — at larger scale a Bloom filter
    * over the delta trigrams does the same job), and n_c stays exact:
    * the semi filter selects whole ids, never drops their rows.
    * Results are identical to erScore by construction — same pair set
    * (inner join on tri), same exact n_shared/n_d/n_c, same IEEE
    * division. */
  private def erScoreDeltaDirty(dtDelta: DataFrame, ctAll: DataFrame,
      stop: DataFrame): DataFrame = {
    val ct = ctAll.join(broadcast(stop), Seq("tri"), "left_anti")
    val dt = dtDelta.join(broadcast(stop), Seq("tri"), "left_anti")
    val dsz = dt.groupBy("dirty_id").agg(count(lit(1)).as("n_d"))
    // pair-sized by contract (churn x its trigram partners) — safe to
    // materialize, and reusing it saves a THIRD pass over the registry:
    // the paired clean ids are exactly `shared`'s clean_id set, so the
    // old `ct semi dt.tri` recomputation read the full side once more
    // for a set this relation already holds (optimization r17)
    val shared = ct.join(broadcast(dt), "tri").groupBy("dirty_id", "clean_id")
      .agg(count(lit(1)).as("n_shared"))
      .localCheckpoint(true)
    val cids = shared.select("clean_id").distinct()
    val csz = ct.join(broadcast(cids), Seq("clean_id"), "left_semi")
      .groupBy("clean_id").agg(count(lit(1)).as("n_c"))
    val jac = col("n_shared").cast("double") /
      (col("n_d") + col("n_c") - col("n_shared")).cast("double")
    shared.join(dsz, "dirty_id").join(csz, "clean_id")
      .select(col("dirty_id"), col("clean_id"), jac.as("jaccard"))
  }

  /** The symmetric delta cover: CLEAN side churn-sized, dirty side the
    * full registry — same pre-filter discipline with the roles
    * swapped. */
  private def erScoreDeltaClean(dtAll: DataFrame, ctDelta: DataFrame,
      stop: DataFrame): DataFrame = {
    val ct = ctDelta.join(broadcast(stop), Seq("tri"), "left_anti")
    val dt = dtAll.join(broadcast(stop), Seq("tri"), "left_anti")
    val csz = ct.groupBy("clean_id").agg(count(lit(1)).as("n_c"))
    // same pair-materialization as erScoreDeltaDirty: the paired dirty
    // ids ARE `shared`'s dirty_id set — no third pass over the registry
    val shared = dt.join(broadcast(ct), "tri").groupBy("dirty_id", "clean_id")
      .agg(count(lit(1)).as("n_shared"))
      .localCheckpoint(true)
    val dids = shared.select("dirty_id").distinct()
    val dsz = dt.join(broadcast(dids), Seq("dirty_id"), "left_semi")
      .groupBy("dirty_id").agg(count(lit(1)).as("n_d"))
    val jac = col("n_shared").cast("double") /
      (col("n_d") + col("n_c") - col("n_shared")).cast("double")
    shared.join(dsz, "dirty_id").join(csz, "clean_id")
      .select(col("dirty_id"), col("clean_id"), jac.as("jaccard"))
  }

  /** The full self-contained links derivation over one corpus dir
    * (package-visible: PlanSpec asserts the BUILD's join shape). */
  private[graft] def erPairsDerive(spark: SparkSession, dir: String): DataFrame = {
    val base = erBase(spark, dir)
    val dirty = erDirty(base)
    val ctAll = erTris(base.withColumnRenamed("doc_id", "clean_id"), "clean_id", "name")
    val dtAll = erTris(dirty, "dirty_id", "dname")
    erScore(dtAll, ctAll, erStop(ctAll, base.agg(count(lit(1)).as("n_clean"))))
  }

  // ---- shared er05/er06 reference artifacts (optimization r16): the
  // two lifecycle gates pin the SAME fixed sub-corpus (doc_id % 3 = 0),
  // the same build-time stop set and the same full-rebuild reference
  // relation — trained/derived once per JVM and shared read-only
  // (localCheckpointed); each gate still proves ITS maintained table
  // multiset-equal to this reference in-engine.
  /** The pinned stop set over the er05/er06 base registry (clean docs
    * with doc_id % 10 != 7 of the % 3 = 0 sub-corpus). */
  private def erStopPinned(spark: SparkSession, dir: String): DataFrame =
    SharedBases.memo(s"erstop:$dir") {
      val base = erBase(spark, dir).filter(col("doc_id") % 3 === 0)
      val cleanOld = base.filter(col("doc_id") % 10 =!= 7)
      val ctOld = erTris(cleanOld.withColumnRenamed("doc_id", "clean_id"),
        "clean_id", "name")
      erStop(ctOld, cleanOld.agg(count(lit(1)).as("n_clean")))
    }

  /** The full-rebuild reference links over the % 3 = 0 sub-corpus with
    * the pinned stop set — er05's `full` and er06's `full` verbatim. */
  private def erFullLinksRef(spark: SparkSession, dir: String): DataFrame =
    SharedBases.memo(s"erfull:$dir") {
      val base = erBase(spark, dir).filter(col("doc_id") % 3 === 0)
      val dirty = erDirty(base)
      val ctAll = erTris(base.withColumnRenamed("doc_id", "clean_id"),
        "clean_id", "name")
      val dtAll = erTris(dirty, "dirty_id", "dname")
      erScore(dtAll, ctAll, erStopPinned(spark, dir)).localCheckpoint(true)
    }

  /** The scored ER candidate pairs (dirty_id, clean_id, jaccard) —
    * shared by er01 (best-per-dirty pair report), er02 (entity
    * clustering over every accepted link), er03 (exact edit-distance
    * verification), er04 (blocking audit), and c04 (the composed
    * pipeline).
    *
    * PERSISTED LINKS TABLE (round 10, VERDICT r9 item 2): the relation
    * is no longer re-derived by every consumer — the first caller per
    * corpus builds it ONCE as a TxLog lake table (one distributed
    * staged write, footer stats on dirty_id) and every ER stage READS
    * the persisted links, the production shape: a 100 TB match/cluster/
    * audit pipeline scores candidates once and serves every downstream
    * consumer from the artifact. Content is identical to the inline
    * derivation (the build IS the derivation, deterministic), so every
    * consumer's results are unchanged; the lifecycle — build,
    * INCREMENTAL maintenance on corpus growth (new-side joins only,
    * never old-x-old rescoring), disk round-trip — is gated end-to-end
    * by er05 against both the full rebuild and the DuckDB oracle. */
  private def erPairs(spark: SparkSession, dir: String): DataFrame = {
    val fam = SharedBases.base(spark, s"erlinks:$dir") { b =>
      // nParts = 0 (the er05 rationale): the scored pairs leave their
      // aggregate already parallel — the old
      // repartition(defaultParallelism) re-exchanged the FULL pair
      // relation (plus round-robin's local sort) just to rename its
      // partitioning after a local-core-count constant
      TxLog.append(spark, erPairsDerive(spark, dir), b.resolve("links"), "dirty_id"): Unit
    }
    TxLog.readAt(spark, fam.resolve("links"))
  }

  // lazy: referenced from `defs`, which is declared earlier in this object
  private lazy val starDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dd13: large-star/small-star CC on a LONG-DIAMETER graph —
    // the scale path dd07's min-label propagation can't take. The
    // fixture chains consecutive doc_ids into 50-node paths (edge
    // i -> i+1 except at block boundaries): diameter 49, so min-label
    // needs ~49 rounds while the star method (Kiveris et al., SoCC'14)
    // must finish within maxIter = 10 — the query THROWS past that, so
    // a green row IS the O(log n) convergence proof, and the closed-form
    // component (floor(id/50)*50 = the block min) makes it
    // hash-oracle-able. OpsSpec additionally pins a 257-node path and
    // random-graph equivalence with propagation CC.
    "dd13_star_cc_chain" -> ((spark: SparkSession, dir: String) => {
      val ids = t(spark, dir, "documents").select(col("doc_id"))
      // Self-pairs enroll EVERY doc as a graph node (star CC labels
      // endpoint ids; a doc whose chain edges both fall at a block
      // boundary — possible when the corpus size isn't a multiple of
      // 50 — would otherwise vanish from the output while the
      // closed-form oracle still emits it).
      val edges = ids
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .filter(col("b") % 50 =!= 0)
        .join(ids.select(col("doc_id").as("b")), "b")
        .select("a", "b")
        .union(ids.select(col("doc_id").as("a"), col("doc_id").as("b")))
      graft.ops.Graph.connectedComponentsStar(edges, "a", "b", maxIter = 10)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    "dd12_incremental_dedup" -> ((spark: SparkSession, dir: String) => {
      val docs = t(spark, dir, "documents")
      Dedup.incrementalDedupFlags(
          docs.filter(col("doc_id") % 10 =!= 7),
          docs.filter(col("doc_id") % 10 === 7), "doc_id", "text")
        .orderBy("doc_id")
    }),
  )

  // DuckDB mirrors. h32: ('0x' || substr(md5(s),1,8))::BIGINT == Spark's
  // conv(...,16,10) (both unsigned 32-bit, fits BIGINT exactly).
  private[queries] def shinglesSqlOf(c: String): String =
    s"list_distinct(list_transform(range(1, greatest(length($c) - 7, 1) + 1), i -> substr($c, i, 8)))"
  private val shinglesSql = shinglesSqlOf("text")
  private def h32Sql(e: String) = s"(('0x' || substr(md5($e), 1, 8))::BIGINT)"
  /** The j-th MinHash component over column `c` — shared with c02's
    * chunk-grain signatures in CurationQueries. */
  private[queries] def minhashSqlOf(j: Int, c: String): String =
    s"list_min(list_transform(${shinglesSqlOf(c)}, s -> ((${2 * j + 1} * ${h32Sql("s")} + ${j * j + 7}) % 2147483647)))"
  private def minhashSql(j: Int): String = minhashSqlOf(j, "text")
  private val simhashSql: String = "(" +
    (0 until 32).map(j =>
      s"(CASE WHEN list_sum(list_transform(string_split(text, ' '), w -> (2 * ((${h32Sql("w")} >> $j) % 2) - 1))) > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ") + ")"

  /** er01's match-scoring CTE chain through `pairs` — shared by the
    * er01 and er02 oracles (er02 prepends RECURSIVE for the CC part). */
  private val erPairsCte: String =
    """base AS (
      |  SELECT doc_id, array_to_string(string_split(text, ' ')[1:3], ' ') AS name FROM documents),
      |dirty AS (
      |  SELECT doc_id AS dirty_id,
      |    substr(name, 1, CAST(doc_id % length(name) AS INT))
      |      || substr(name, CAST(doc_id % length(name) AS INT) + 2) AS dname
      |  FROM base),
      |ct0 AS (
      |  SELECT doc_id AS clean_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(length(name) - 2, 1) + 1), i -> substr(name, CAST(i AS INT), 3)))) AS tri
      |  FROM base),
      |dt0 AS (
      |  SELECT dirty_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(length(dname) - 2, 1) + 1), i -> substr(dname, CAST(i AS INT), 3)))) AS tri
      |  FROM dirty),
      |stop AS (
      |  SELECT tri FROM (SELECT tri, count(*) AS df FROM ct0 GROUP BY tri)
      |  WHERE CAST(df AS DOUBLE) > 0.15 * (SELECT CAST(count(*) AS DOUBLE) FROM base)),
      |ct AS (SELECT * FROM ct0 ANTI JOIN stop USING (tri)),
      |dt AS (SELECT * FROM dt0 ANTI JOIN stop USING (tri)),
      |csz AS (SELECT clean_id, count(*) AS n_c FROM ct GROUP BY 1),
      |dsz AS (SELECT dirty_id, count(*) AS n_d FROM dt GROUP BY 1),
      |shared AS (
      |  SELECT dirty_id, clean_id, count(*) AS n_shared
      |  FROM dt JOIN ct USING (tri) GROUP BY 1, 2),
      |pairs AS (
      |  SELECT dirty_id, clean_id,
      |    CAST(n_shared AS DOUBLE) / CAST(n_d + n_c - n_shared AS DOUBLE) AS jaccard
      |  FROM shared JOIN dsz USING (dirty_id) JOIN csz USING (clean_id))""".stripMargin

  /** Rounded strict-order cosine in DuckDB — mirrors vector_cosine + round(,6). */
  private def cosSql(a: String, b: String): String =
    s"round(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / " +
      s"(sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * " +
      s"sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"

  val oracles: Map[String, String] = Map(
    "dd11_semdedup" ->
      s"""${ClusteringQueries.kmeansSql},
        |av AS (
        |  SELECT a2.vec_id, a2.cid AS cluster, e.embedding
        |  FROM a2 JOIN embeddings e USING (vec_id)),
        |drops AS (
        |  SELECT DISTINCT x.vec_id FROM av x JOIN av y
        |    ON x.cluster = y.cluster AND y.vec_id < x.vec_id
        |  WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.35)
        |SELECT av.vec_id, av.cluster, d.vec_id IS NULL AS keep
        |FROM av LEFT JOIN drops d ON av.vec_id = d.vec_id
        |ORDER BY av.vec_id""".stripMargin,

    "dd01_exact_dedup" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY fp ORDER BY keeper_doc_id""".stripMargin,

    "dd02_ngram_jaccard" ->
      s"""WITH docs AS (
        |  SELECT doc_id, $shinglesSql AS shingles FROM documents WHERE doc_id % 50 = 0),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM docs),
        |inv AS (SELECT doc_id, unnest(shingles) AS sh FROM docs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b,
        |  CAST(n_shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON pairs.doc_a = sa.doc_id
        |JOIN sizes sb ON pairs.doc_b = sb.doc_id
        |WHERE CAST(n_shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.08
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dd16_shingle_containment" ->
      s"""WITH docs AS (
        |  SELECT doc_id, $shinglesSql AS shingles FROM documents WHERE doc_id % 50 = 0),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM docs),
        |inv AS (SELECT doc_id, unnest(shingles) AS sh FROM docs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, n_shared,
        |  CAST(n_shared AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment,
        |  CASE WHEN sa.n_sh <= sb.n_sh THEN doc_a ELSE doc_b END AS contained_doc
        |FROM pairs
        |JOIN sizes sa ON pairs.doc_a = sa.doc_id
        |JOIN sizes sb ON pairs.doc_b = sb.doc_id
        |WHERE CAST(n_shared AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.1
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dd03_minhash_signatures" ->
      ("SELECT doc_id, " +
        (0 until 16).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ") +
        " FROM documents ORDER BY doc_id"),

    "dd04_lsh_candidates" ->
      s"""WITH sig AS (
        |  SELECT doc_id, ${(0 until 16).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ")}
        |  FROM documents),
        |bands AS (
        |  ${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, concat_ws('_', ${(0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")}) AS band_sig FROM sig")
            .mkString("\n  UNION ALL\n  ")}
        |)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dd17_lsh_recall" ->
      s"""WITH s AS (
        |  SELECT doc_id, text,
        |    array_to_string((string_split(text, ' '))[1:(3 + CAST(doc_id % 48 AS INT))], ' ') AS mtext
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(list_intersect(${shinglesSqlOf("text")}, ${shinglesSqlOf("mtext")})) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(${shinglesSqlOf("text")}, ${shinglesSqlOf("mtext")}))) AS DOUBLE) AS jaccard,
        |    ${(0 until 16).map(j => s"${minhashSqlOf(j, "text")} AS ta$j").mkString(", ")},
        |    ${(0 until 16).map(j => s"${minhashSqlOf(j, "mtext")} AS tb$j").mkString(", ")}
        |  FROM s),
        |hits AS (
        |  SELECT jaccard,
        |    CASE WHEN ${(0 until 4).map(b =>
                "(" + (0 until 4).map(r => s"ta${b * 4 + r} = tb${b * 4 + r}").mkString(" AND ") + ")")
                .mkString(" OR ")}
        |      THEN 1 ELSE 0 END AS hit
        |  FROM sig
        |  WHERE jaccard >= 0.08),
        |bucketed AS (
        |  SELECT CASE WHEN jaccard >= 0.5 THEN '4_j_ge_0.50'
        |              WHEN jaccard >= 0.35 THEN '3_j_0.35_0.50'
        |              WHEN jaccard >= 0.2 THEN '2_j_0.20_0.35'
        |              ELSE '1_j_0.08_0.20' END AS bucket, hit
        |  FROM hits)
        |SELECT bucket, COUNT(*) AS n_truth, CAST(SUM(hit) AS BIGINT) AS n_caught,
        |  CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin,

    "dd14_minhash_estimate" ->
      s"""WITH sig AS (
        |  SELECT doc_id, ${(0 until 16).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ")}
        |  FROM documents),
        |bands AS (
        |  ${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, concat_ws('_', ${(0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")}) AS band_sig FROM sig")
            .mkString("\n  UNION ALL\n  ")}
        |),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
        |est AS (
        |  SELECT c.doc_a, c.doc_b,
        |    (${(0 until 16).map(j => s"CAST(sa.mh$j = sb.mh$j AS INT)").mkString(" + ")}) AS n_match
        |  FROM cand c
        |  JOIN sig sa ON c.doc_a = sa.doc_id
        |  JOIN sig sb ON c.doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, n_match, CAST(n_match AS DOUBLE) / 16.0 AS est_jaccard
        |FROM est WHERE n_match >= 8 ORDER BY doc_a, doc_b""".stripMargin,

    "dd15_cross_source_profile" ->
      s"""WITH sig AS (
        |  SELECT doc_id, ${(0 until 16).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ")}
        |  FROM documents),
        |bands AS (
        |  ${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, concat_ws('_', ${(0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")}) AS band_sig FROM sig")
            .mkString("\n  UNION ALL\n  ")}
        |),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
        |est AS (
        |  SELECT c.doc_a, c.doc_b,
        |    (${(0 until 16).map(j => s"CAST(sa.mh$j = sb.mh$j AS INT)").mkString(" + ")}) AS n_match
        |  FROM cand c
        |  JOIN sig sa ON c.doc_a = sa.doc_id
        |  JOIN sig sb ON c.doc_b = sb.doc_id)
        |SELECT least(a.source, b.source) AS source_a,
        |  greatest(a.source, b.source) AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(e.n_match) AS BIGINT) AS sum_match,
        |  CAST(sum(e.n_match) AS DOUBLE) / CAST(count(*) * 16 AS DOUBLE) AS mean_est_jaccard
        |FROM est e
        |JOIN documents a ON e.doc_a = a.doc_id
        |JOIN documents b ON e.doc_b = b.doc_id
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    "dd05_simhash" ->
      s"SELECT doc_id, $simhashSql AS simhash FROM documents ORDER BY doc_id",

    "dd07_dup_clusters" ->
      s"""WITH RECURSIVE sig AS (
        |  SELECT doc_id, ${(0 until 16).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ")}
        |  FROM documents),
        |bands AS (
        |  ${(0 until 4).map(b =>
             s"SELECT doc_id, $b AS band, concat_ws('_', ${(b * 4 until b * 4 + 4).map(r => s"mh$r").mkString(", ")}) AS band_sig FROM sig")
             .mkString("\n  UNION ALL\n  ")}
        |),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM cand
        |  UNION SELECT doc_b, doc_a FROM cand),
        |reach(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src)
        |SELECT id, MIN(label) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "dd09_canonical_keep" ->
      s"""WITH RECURSIVE sig AS (
        |  SELECT doc_id, ${(0 until 16).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ")}
        |  FROM documents),
        |bands AS (
        |  ${(0 until 4).map(b =>
             s"SELECT doc_id, $b AS band, concat_ws('_', ${(b * 4 until b * 4 + 4).map(r => s"mh$r").mkString(", ")}) AS band_sig FROM sig")
             .mkString("\n  UNION ALL\n  ")}
        |),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM cand
        |  UNION SELECT doc_b, doc_a FROM cand),
        |reach(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src),
        |cc AS (SELECT id, MIN(label) AS component FROM reach GROUP BY id)
        |SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component,
        |  d.doc_id = COALESCE(cc.component, d.doc_id) AS keep
        |FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
        |ORDER BY doc_id""".stripMargin,

    "dd08_embedding_neardup" -> {
      val cos = (a: String, b: String) =>
        s"round(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / " +
          s"(sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * " +
          s"sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, embedding, cent_id AS list_id FROM (
        |    SELECT e.vec_id, e.embedding, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cos("e.embedding", "cent_emb")} DESC, cent_id) AS ark
        |    FROM embeddings e CROSS JOIN cent)
        |  WHERE ark = 1)
        |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
        |  ${cos("x.embedding", "y.embedding")} AS cosine
        |FROM assigned x JOIN assigned y
        |  ON x.list_id = y.list_id AND x.vec_id < y.vec_id
        |WHERE ${cos("x.embedding", "y.embedding")} >= 0.30
        |ORDER BY vec_a, vec_b""".stripMargin
    },

    "dd06_simhash_near_pairs" ->
      s"""WITH sh AS (SELECT doc_id, $simhashSql AS simhash FROM documents),
        |seg AS (
        |  SELECT doc_id, simhash, s AS seg, (simhash >> (s * 8)) % 256 AS seg_val
        |  FROM sh, unnest([0, 1, 2, 3]) AS u(s)),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    x.simhash AS sh_a, y.simhash AS sh_b
        |  FROM seg x JOIN seg y
        |    ON x.seg = y.seg AND x.seg_val = y.seg_val AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
        |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dd10_span_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |spans AS (
        |  SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)),
        |m AS (
        |  SELECT doc_id,
        |    (MIN(doc_id) OVER (PARTITION BY h)) <> (MAX(doc_id) OVER (PARTITION BY h)) AS dup
        |  FROM spans),
        |per AS (
        |  SELECT doc_id, COUNT(*) AS n_spans,
        |    COUNT(CASE WHEN dup THEN 1 END) AS n_dup_spans
        |  FROM m GROUP BY doc_id)
        |SELECT doc_id, n_spans, n_dup_spans,
        |  CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_ratio
        |FROM per WHERE n_dup_spans > 0 ORDER BY doc_id""".stripMargin,

    "dd18_substring_excision" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |spans AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |cut AS (
        |  SELECT doc_id, pos, pos + 7 AS e FROM (
        |    SELECT doc_id, pos,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
        |    FROM spans) WHERE rk > 1),
        |brk AS (
        |  SELECT doc_id, pos, e,
        |    CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |      THEN 1 ELSE 0 END AS b
        |  FROM cut),
        |islands AS (
        |  SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS e FROM (
        |    SELECT doc_id, pos, e,
        |      SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |    FROM brk) GROUP BY doc_id, island),
        |perdoc AS (
        |  SELECT doc_id, COUNT(*) AS n_spans_cut,
        |    CAST(SUM(e - s + 1) AS BIGINT) AS n_tokens_cut
        |  FROM islands GROUP BY doc_id),
        |tokidx AS (
        |  SELECT doc_id, t[i] AS tok, i
        |  FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
        |clean AS (
        |  SELECT x.doc_id, string_agg(x.tok, ' ' ORDER BY x.i) AS clean_text
        |  FROM tokidx x
        |  WHERE NOT EXISTS (SELECT 1 FROM islands s
        |    WHERE s.doc_id = x.doc_id AND x.i BETWEEN s.s AND s.e)
        |  GROUP BY x.doc_id)
        |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
        |  COALESCE(p.n_spans_cut, 0) AS n_spans_cut,
        |  COALESCE(p.n_tokens_cut, 0) AS n_tokens_cut,
        |  CAST(COALESCE(p.n_tokens_cut, 0) AS DOUBLE) / CAST(len(d.t) AS DOUBLE)
        |    AS cut_ratio,
        |  COALESCE(c.clean_text, '') AS clean_text
        |FROM toks d
        |LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |LEFT JOIN clean c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // NOTE: erScoredCte is concatenated, never interpolated inside a
    // stripMargin block — a second stripMargin pass would eat the first
    // pipe of the `|| substr` concat lines.
    "er01_fuzzy_entity_match" ->
      ("WITH " + erPairsCte + ",\n" +
        """scored AS (
          |  SELECT dirty_id, clean_id, jaccard,
          |    row_number() OVER (PARTITION BY dirty_id
          |      ORDER BY jaccard DESC, clean_id) AS rk
          |  FROM pairs)
          |SELECT dirty_id, clean_id, jaccard, dirty_id = clean_id AS is_self
          |FROM scored WHERE rk = 1 AND jaccard >= 0.5
          |ORDER BY dirty_id""".stripMargin),

    // er05: the same scoring chain with the stop set PINNED over the
    // BASE registry (doc_id % 10 <> 7) — the build-time artifact
    // property the incremental path relies on. The two flags are
    // engine-side invariants (incremental == full rebuild; exactly two
    // commits) asserted as literals.
    "er05_persisted_links" ->
      """WITH base AS (
        |  SELECT doc_id, array_to_string(string_split(text, ' ')[1:3], ' ') AS name
        |  FROM documents WHERE doc_id % 3 = 0),
        |dirty AS (
        |  SELECT doc_id AS dirty_id,
        |    substr(name, 1, CAST(doc_id % length(name) AS INT))
        |      || substr(name, CAST(doc_id % length(name) AS INT) + 2) AS dname
        |  FROM base),
        |ct0 AS (
        |  SELECT doc_id AS clean_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(name) - 2, 1) + 1), i -> substr(name, CAST(i AS INT), 3)))) AS tri
        |  FROM base),
        |dt0 AS (
        |  SELECT dirty_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(dname) - 2, 1) + 1), i -> substr(dname, CAST(i AS INT), 3)))) AS tri
        |  FROM dirty),
        |stop AS (
        |  SELECT tri FROM (
        |    SELECT tri, count(*) AS df FROM ct0 WHERE clean_id % 10 <> 7 GROUP BY tri)
        |  WHERE CAST(df AS DOUBLE) >
        |    0.15 * (SELECT CAST(count(*) AS DOUBLE) FROM base WHERE doc_id % 10 <> 7)),
        |ct AS (SELECT * FROM ct0 ANTI JOIN stop USING (tri)),
        |dt AS (SELECT * FROM dt0 ANTI JOIN stop USING (tri)),
        |csz AS (SELECT clean_id, count(*) AS n_c FROM ct GROUP BY 1),
        |dsz AS (SELECT dirty_id, count(*) AS n_d FROM dt GROUP BY 1),
        |shared AS (
        |  SELECT dirty_id, clean_id, count(*) AS n_shared
        |  FROM dt JOIN ct USING (tri) GROUP BY 1, 2),
        |pairs AS (
        |  SELECT dirty_id, clean_id,
        |    CAST(n_shared AS DOUBLE) / CAST(n_d + n_c - n_shared AS DOUBLE) AS jaccard
        |  FROM shared JOIN dsz USING (dirty_id) JOIN csz USING (clean_id))
        |SELECT count(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN dirty_id = clean_id THEN 1 ELSE 0 END) AS BIGINT) AS n_true_found,
        |  CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_links_05,
        |  CAST(SUM(CASE WHEN jaccard >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_links_03,
        |  CAST(1 AS BIGINT) AS incr_matches_full,
        |  CAST(2 AS BIGINT) AS n_commits
        |FROM pairs""".stripMargin,

    // er06: the SAME pinned-stop recompute as er05 — one oracle
    // cross-gates the batch (er05) and streaming (er06) maintenance
    // paths; only the engine-side invariants differ (two exactly-once
    // streaming commits on top of the build = 3; drained table equals
    // the full rebuild).
    "er06_streaming_links" ->
      """WITH base AS (
        |  SELECT doc_id, array_to_string(string_split(text, ' ')[1:3], ' ') AS name
        |  FROM documents WHERE doc_id % 3 = 0),
        |dirty AS (
        |  SELECT doc_id AS dirty_id,
        |    substr(name, 1, CAST(doc_id % length(name) AS INT))
        |      || substr(name, CAST(doc_id % length(name) AS INT) + 2) AS dname
        |  FROM base),
        |ct0 AS (
        |  SELECT doc_id AS clean_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(name) - 2, 1) + 1), i -> substr(name, CAST(i AS INT), 3)))) AS tri
        |  FROM base),
        |dt0 AS (
        |  SELECT dirty_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(dname) - 2, 1) + 1), i -> substr(dname, CAST(i AS INT), 3)))) AS tri
        |  FROM dirty),
        |stop AS (
        |  SELECT tri FROM (
        |    SELECT tri, count(*) AS df FROM ct0 WHERE clean_id % 10 <> 7 GROUP BY tri)
        |  WHERE CAST(df AS DOUBLE) >
        |    0.15 * (SELECT CAST(count(*) AS DOUBLE) FROM base WHERE doc_id % 10 <> 7)),
        |ct AS (SELECT * FROM ct0 ANTI JOIN stop USING (tri)),
        |dt AS (SELECT * FROM dt0 ANTI JOIN stop USING (tri)),
        |csz AS (SELECT clean_id, count(*) AS n_c FROM ct GROUP BY 1),
        |dsz AS (SELECT dirty_id, count(*) AS n_d FROM dt GROUP BY 1),
        |shared AS (
        |  SELECT dirty_id, clean_id, count(*) AS n_shared
        |  FROM dt JOIN ct USING (tri) GROUP BY 1, 2),
        |pairs AS (
        |  SELECT dirty_id, clean_id,
        |    CAST(n_shared AS DOUBLE) / CAST(n_d + n_c - n_shared AS DOUBLE) AS jaccard
        |  FROM shared JOIN dsz USING (dirty_id) JOIN csz USING (clean_id))
        |SELECT count(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN dirty_id = clean_id THEN 1 ELSE 0 END) AS BIGINT) AS n_true_found,
        |  CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_links_05,
        |  CAST(SUM(CASE WHEN jaccard >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_links_03,
        |  CAST(1 AS BIGINT) AS stream_matches_full,
        |  CAST(3 AS BIGINT) AS n_commits
        |FROM pairs""".stripMargin,

    "er04_blocking_metrics" ->
      ("WITH " + erPairsCte + ",\n" +
        """m AS (
          |  SELECT count(*) AS n_candidates,
          |    CAST(sum(CASE WHEN dirty_id = clean_id THEN 1 ELSE 0 END) AS BIGINT) AS n_true_found
          |  FROM pairs),
          |nn AS (SELECT count(*) AS n_names FROM base)
          |SELECT nn.n_names, m.n_candidates, m.n_true_found,
          |  CAST(1 AS DOUBLE) - CAST(m.n_candidates AS DOUBLE) /
          |    (CAST(nn.n_names AS DOUBLE) * CAST(nn.n_names AS DOUBLE)) AS reduction_ratio,
          |  CAST(m.n_true_found AS DOUBLE) / CAST(nn.n_names AS DOUBLE) AS pairs_completeness
          |FROM m, nn""".stripMargin),

    "er03_edit_verify" ->
      ("WITH " + erPairsCte + "\n" +
        """SELECT p.dirty_id, p.clean_id,
          |  levenshtein(d.dname, b.name) AS edit_dist, p.jaccard
          |FROM pairs p
          |JOIN dirty d ON p.dirty_id = d.dirty_id
          |JOIN base b ON p.clean_id = b.doc_id
          |WHERE p.jaccard >= 0.3 AND levenshtein(d.dname, b.name) <= 2
          |ORDER BY p.dirty_id, p.clean_id""".stripMargin),

    "c04_entity_pipeline" ->
      ("WITH RECURSIVE " + erPairsCte + ",\n" +
        """verified AS (
          |  SELECT p.dirty_id, p.clean_id FROM pairs p
          |  JOIN dirty d ON p.dirty_id = d.dirty_id
          |  JOIN base b ON p.clean_id = b.doc_id
          |  WHERE p.jaccard >= 0.3 AND levenshtein(d.dname, b.name) <= 2
          |    AND p.dirty_id <> p.clean_id),
          |edges AS (
          |  SELECT dirty_id AS src, clean_id AS dst FROM verified
          |  UNION SELECT clean_id, dirty_id FROM verified),
          |reach(id, label) AS (
          |  SELECT DISTINCT src, src FROM edges
          |  UNION
          |  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src),
          |comp AS (SELECT id, MIN(label) AS entity_id FROM reach GROUP BY id)
          |SELECT id, entity_id,
          |  CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS n_members
          |FROM comp ORDER BY id""".stripMargin),

    "er02_entity_clusters" ->
      ("WITH RECURSIVE " + erPairsCte + ",\n" +
        """matches AS (
          |  SELECT dirty_id, clean_id FROM pairs
          |  WHERE jaccard >= 0.5 AND dirty_id <> clean_id),
          |edges AS (
          |  SELECT dirty_id AS src, clean_id AS dst FROM matches
          |  UNION SELECT clean_id, dirty_id FROM matches),
          |reach(id, label) AS (
          |  SELECT DISTINCT src, src FROM edges
          |  UNION
          |  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src),
          |comp AS (SELECT id, MIN(label) AS entity_id FROM reach GROUP BY id)
          |SELECT id, entity_id,
          |  CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS n_members
          |FROM comp ORDER BY id""".stripMargin),

    "dd13_star_cc_chain" ->
      """SELECT doc_id, (doc_id // 50) * 50 AS component
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dd12_incremental_dedup" ->
      s"""WITH sig AS (
        |  SELECT doc_id, ${(0 until 16).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ")}
        |  FROM documents),
        |bands AS (
        |  ${(0 until 4).map(b =>
             s"SELECT doc_id, $b AS band, concat_ws('_', ${(b * 4 until b * 4 + 4).map(r => s"mh$r").mkString(", ")}) AS band_sig FROM sig")
             .mkString("\n  UNION ALL\n  ")}
        |),
        |cb AS (SELECT DISTINCT band, band_sig FROM bands WHERE doc_id % 10 <> 7),
        |near AS (
        |  SELECT DISTINCT b.doc_id FROM bands b
        |  JOIN cb ON b.band = cb.band AND b.band_sig = cb.band_sig
        |  WHERE b.doc_id % 10 = 7),
        |cfp AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 7)
        |SELECT d.doc_id,
        |  md5(d.text) IN (SELECT fp FROM cfp) AS exact_dup,
        |  d.doc_id IN (SELECT doc_id FROM near) AS near_dup,
        |  NOT (md5(d.text) IN (SELECT fp FROM cfp)
        |       OR d.doc_id IN (SELECT doc_id FROM near)) AS keep
        |FROM documents d WHERE d.doc_id % 10 = 7 ORDER BY doc_id""".stripMargin,
  )
}

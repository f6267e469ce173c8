package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Persisted ANN-index lifecycle (sim14/knn09 gate the served rankings
  * against DuckDB): incremental builds degrade to N files per list,
  * maintain restores the one-file-per-list bound with DVs folded and
  * rows IDENTICAL through the rewrite; binding contracts match
  * TextIndex's (mismatch refused, legacy refusal, explicit backfill). */
class AnnIndexSpec extends SparkSpec {

  private def vecs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("vec_id")
      .withColumn("embedding",
        expr("transform(sequence(0, 7), d -> cast((vec_id * (d + 3)) % 17 as float))"))
      .withColumn("label", (col("vec_id") % 5).cast("int"))
  }

  private def sortedRows(index: java.nio.file.Path) =
    TxLog.readAt(spark, index)
      .select(col("vec_id"), col("cent_id"), col("label"))
      .orderBy("vec_id").collect().toSeq

  test("increments overlap lists, maintain restores the clustered bound, rows identical") {
    val base = Files.createTempDirectory("graft_annix")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    // 1 build + 2 increments — each appends its own per-list file-set
    TxLog.append(spark, vecs(0L to 59L), corpus, "vec_id", nParts = 2)
    // the centroid count that picks the assignment path comes from the
    // log's file stats, not from a count job over the centroids
    val buildJobs = jobsDuring { assert(AnnIndex.ensureIndexed(spark, corpus, index) == 60L) }
    assert(buildJobs <= 16, s"a fresh build ran $buildJobs Spark jobs")
    TxLog.append(spark, vecs(60L to 99L), corpus, "vec_id", nParts = 2)
    val incJobs = jobsDuring { assert(AnnIndex.ensureIndexed(spark, corpus, index) == 40L) }
    assert(incJobs <= 8, s"an increment ran $incJobs Spark jobs")
    TxLog.append(spark, vecs(100L to 139L), corpus, "vec_id", nParts = 2)
    assert(AnnIndex.ensureIndexed(spark, corpus, index) == 40L)
    assert(AnnIndex.ensureIndexed(spark, corpus, index) == 0L) // idempotent
    // compaction rewrites corpus files under new names — no re-index
    TxLog.compact(spark, corpus, "vec_id")
    var redelivered = -1L
    val jobs = jobsDuring { redelivered = AnnIndex.ensureIndexed(spark, corpus, index) }
    assert(redelivered == 0L)
    // the batch's row count rides the assignment pass; reading the
    // anti-joined batch again to test it for rows costs 3 more jobs
    assert(jobs <= 7, s"a compaction redelivery ran $jobs Spark jobs")
    val before = sortedRows(index)
    assert(AnnIndex.maxFilesPerCent(spark, index) > 1)
    val rep = AnnIndex.maintain(spark, corpus, index)
    assert(rep.filesAfter < rep.filesBefore)
    assert(AnnIndex.maxFilesPerCent(spark, index) == 1)
    assert(sortedRows(index) == before) // rewrite changes layout, never rows
  }

  test("maintain folds delete-propagation DVs and indexes corpus files that arrived since") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_annix2")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark, vecs(0L to 79L), corpus, "vec_id", nParts = 2)
    AnnIndex.ensureIndexed(spark, corpus, index): Unit
    // GDPR churn: keys leave corpus AND index (merge-on-read, DV sidecars)
    val dels = Seq(13L, 37L, 61L).toDF("vec_id")
    TxLog.deleteMor(spark, corpus, dels, "vec_id"): Unit
    TxLog.deleteMor(spark, index, dels, "vec_id"): Unit
    assert(TxLog.snapshotAt(index).files.exists(_.dv.isDefined))
    // new vectors after the deletes: maintain picks them up too
    TxLog.append(spark, vecs(80L to 99L), corpus, "vec_id", nParts = 1)
    val rep = AnnIndex.maintain(spark, corpus, index)
    assert(rep.rowsIndexed == 20L)
    assert(rep.dvsBefore > 0 && rep.dvsAfter == 0)
    val ids = TxLog.readAt(spark, index).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == ((0L to 99L).toSet -- Set(13L, 37L, 61L)))
  }

  test("a degenerate build (no centroid trained) is refused and leaves the watermark as it was") {
    val base = Files.createTempDirectory("graft_annix5")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    // null embeddings quantize to nothing: zero centroids, zero assigned
    TxLog.append(spark, vecs(0L to 19L).withColumn("embedding", lit(null).cast("array<float>")),
      corpus, "vec_id", nParts = 1)
    // and again on redelivery, now against the empty stored centroids
    (1 to 2).foreach { _ =>
      val ex = intercept[IllegalArgumentException](AnnIndex.ensureIndexed(spark, corpus, index))
      assert(ex.getMessage.contains("refusing to advance the watermark"), ex.getMessage)
      assert(TxLog.versions(index).isEmpty)
    }
  }

  test("binding contracts: mismatch refused, legacy index refuses maintain, backfill restores") {
    val base = Files.createTempDirectory("graft_annix3")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    TxLog.append(spark,
      vecs(0L to 19L).withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "emb"),
      corpus, "id", nParts = 1)
    AnnIndex.ensureIndexed(spark, corpus, index, idCol = "id", embCol = "emb"): Unit
    intercept[IllegalArgumentException] {
      AnnIndex.ensureIndexed(spark, corpus, index) // defaults != (id, emb, 8)
    }
    // a legacy index (a log whose commits carry no binding property)
    // must refuse maintenance outright
    val legacy = base.resolve("lx")
    TxLog.append(spark, TxLog.readAt(spark, index), legacy, "cent_id"): Unit
    TxLog.cloneTable(spark, base.resolve("ix_cent"), base.resolve("lx_cent")): Unit
    assert(!AnnIndex.hasBinding(legacy))
    val ex = intercept[IllegalStateException](AnnIndex.maintain(spark, corpus, legacy))
    assert(ex.getMessage.contains("id_col"))
    // backfill route: one explicit ensureIndexed with the original args
    assert(AnnIndex.ensureIndexed(spark, corpus, legacy, idCol = "id", embCol = "emb") == 0L)
    assert(AnnIndex.hasBinding(legacy))
    TxLog.append(spark, vecs(20L to 29L)
      .withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "emb"),
      corpus, "id", nParts = 1)
    val rep = AnnIndex.maintain(spark, corpus, legacy)
    assert(rep.rowsIndexed == 10L)
    assert(AnnIndex.maxFilesPerCent(spark, legacy) == 1)
  }

  test("assignAll: the two-level path (>256 centroids) equals the flat rank on clustered vectors") {
    import spark.implicits._
    graft.functions.VectorFunctions.registerAll(spark)
    // 300 well-separated centroids (> Ann.TwoLevelMinCentroids = 256
    // forces the coarse->fine decomposition); each corpus vector is a
    // small perturbation of its centroid, so the nearest assignment is
    // unambiguous and the sqrt(C) path must find the same home
    val cent = (0L until 300L).toDF("cent_id")
      .withColumn("cent_emb",
        expr("transform(sequence(0, 15), d -> " +
          "cast(abs(hash(cent_id, d)) % 1000 as double))"))
      .localCheckpoint(true)
    // exact copies of their home centroid (3 each): the nearest
    // assignment is exact-cosine-1 unambiguous, so flat and two-level
    // MUST agree — any disagreement is a real decomposition bug
    val vecs = (0L until 900L).toDF("vec_id")
      .withColumn("home", col("vec_id") % 300)
      .withColumn("embedding",
        expr("transform(sequence(0, 15), d -> " +
          "cast(abs(hash(home, d)) % 1000 as double))"))
    val two = AnnIndex.assignAll(vecs, cent, 300L, "vec_id", "embedding")
      .select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two.size == 900)
    (0L until 900L).foreach { v =>
      assert(two(v) == v % 300, s"vec $v assigned to ${two(v)}, expected ${v % 300}")
    }
  }

  test("maintainIvfAdc: unclustered growth + DVs on both halves fold back to the list layout") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_annix4")
    val assignT = base.resolve("assign")
    val codeT = base.resolve("codes")
    val v = vecs(0L to 59L)
    graft.functions.VectorFunctions.registerAll(spark)
    val cent = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    TxLog.appendClustered(spark, Ann.assignToCentroids(v, cent), assignT,
      "cent_id", clusterCol = col("cent_id"), nClusters = 4)
    val (codes, codebook) = Pq.model(v, "vec_id", "embedding", dims = 8, m = 4, k = 4, iters = 1)
    TxLog.appendClustered(spark, codes, codeT, "vec_id",
      clusterCol = col("sub"), nClusters = 2)
    // growth lands UNCLUSTERED (knn06's TxnAppend shape) — its file
    // spans every list, so every probe pays it
    val g = vecs(60L to 79L)
    TxLog.append(spark, Ann.assignToCentroids(g, cent), assignT, "cent_id", nParts = 1)
    TxLog.append(spark, Pq.encode(g, codebook, "vec_id", "embedding", dims = 8, m = 4),
      codeT, "vec_id", nParts = 1): Unit
    // delete a vector from BOTH halves (knn08's flow) — DVs appear
    val dels = Seq(42L).toDF("vec_id")
    TxLog.deleteMor(spark, assignT, dels, "vec_id"): Unit
    TxLog.deleteMor(spark, codeT, dels, "vec_id"): Unit
    assert(TxLog.snapshotAt(assignT).files.exists(_.dv.isDefined))
    assert(TxLog.snapshotAt(codeT).files.exists(_.dv.isDefined))
    // every list pays the growth file before the cure
    val centIds = (0L until 8L)
    def maxFiles = centIds.map(c =>
      TxLog.pruneFilesOn(TxLog.snapshotAt(assignT), "cent_id", c, c).size).max
    assert(maxFiles > 1)
    val beforeA = TxLog.readAt(spark, assignT)
      .select("vec_id", "cent_id").orderBy("vec_id").collect().toSeq
    val beforeC = TxLog.readAt(spark, codeT)
      .select("vec_id", "sub", "code").orderBy("vec_id", "sub").collect().toSeq
    AnnIndex.maintainIvfAdc(spark, assignT, codeT): Unit
    assert(maxFiles == 1)
    assert(TxLog.snapshotAt(assignT).files.forall(_.dv.isEmpty))
    assert(TxLog.snapshotAt(codeT).files.forall(_.dv.isEmpty))
    assert(TxLog.readAt(spark, assignT)
      .select("vec_id", "cent_id").orderBy("vec_id").collect().toSeq == beforeA)
    assert(TxLog.readAt(spark, codeT)
      .select("vec_id", "sub", "code").orderBy("vec_id", "sub").collect().toSeq == beforeC)
  }

  test("PQ sibling: trains once, increments encode against the stored codebook, " +
      "maintain reaches it, bindings refuse mismatch") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_annpq")
    val corpus = base.resolve("corpus")
    val index = base.resolve("ix")
    // the PQ contract slices dims=64 into 8 sub-spaces — the fixture
    // must carry full-width vectors or the padded subs would vanish
    def vecs64(ids: Seq[Long]) = ids.toDF("vec_id")
      .withColumn("embedding",
        expr("transform(sequence(0, 63), d -> cast((vec_id * (d + 3)) % 17 as float))"))
      .withColumn("label", (col("vec_id") % 5).cast("int"))
    def vecs(ids: Seq[Long]) = vecs64(ids)
    TxLog.append(spark, vecs(0L to 59L), corpus, "vec_id", nParts = 2)
    AnnIndex.ensureIndexed(spark, corpus, index): Unit
    assert(AnnIndex.ensurePq(spark, corpus, index) == 60L)
    assert(AnnIndex.hasPq(index))
    val cbT = base.resolve("ix_cb")
    val codesT = base.resolve("ix_codes")
    val cbV0 = TxLog.latestVersion(cbT)
    // every vector carries exactly m=8 code rows
    val arity = TxLog.readAt(spark, codesT).groupBy("vec_id")
      .agg(count(lit(1)).as("n")).filter(col("n") =!= 8).count()
    assert(arity == 0L)
    // increment: encodes against the PERSISTED codebook (no retrain —
    // the codebook table must not advance), idempotent under replay
    TxLog.append(spark, vecs(60L to 99L), corpus, "vec_id", nParts = 2)
    AnnIndex.ensureIndexed(spark, corpus, index): Unit
    assert(AnnIndex.ensurePq(spark, corpus, index) == 40L)
    assert(AnnIndex.ensurePq(spark, corpus, index) == 0L)
    assert(TxLog.latestVersion(cbT) == cbV0, "increment retrained the codebook")
    assert(TxLog.readAt(spark, codesT).select("vec_id").distinct().count() == 100L)
    // binding contract: a different column binding refuses
    intercept[IllegalArgumentException](
      AnnIndex.ensurePq(spark, corpus, index, idCol = "label"))
    // deletes leave DVs on the codes; maintain folds them and the
    // serving rows are identical through the rewrite
    TxLog.deleteMor(spark, index, Seq(7L, 21L).toDF("vec_id"), "vec_id"): Unit
    TxLog.deleteMor(spark, codesT, Seq(7L, 21L).toDF("vec_id"), "vec_id"): Unit
    val before = TxLog.readAt(spark, codesT)
      .select("vec_id", "sub", "code").orderBy("vec_id", "sub").collect().toSeq
    AnnIndex.maintain(spark, corpus, index): Unit
    assert(TxLog.snapshotAt(codesT).files.forall(_.dv.isEmpty), "codes DVs not folded")
    assert(TxLog.readAt(spark, codesT)
      .select("vec_id", "sub", "code").orderBy("vec_id", "sub").collect().toSeq == before)
    // every live corpus file is in the codes' watermark
    assert(TxLog.snapshotAt(corpus).files.map(_.path).toSet.subsetOf(TxLog.sourcesAt(codesT)))
  }
}

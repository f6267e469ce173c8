package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.TxLog

/** SQL-surface contracts of the TxLog catalog: latest-snapshot reads,
  * VERSION AS OF time travel, listTables, deletion-vector snapshots
  * served through the ResolveDvSnapshots analyzer rule, and the
  * read-only mount behavior. LakeQueries/sql01+sql02 gate the data
  * semantics against DuckDB; this covers the catalog plumbing. */
class GraftCatalogSpec extends SparkSpec {

  private def idsDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("doc_id").withColumn("payload", concat(lit("v"), col("doc_id")))
  }

  private def freshCatalog(): (String, java.nio.file.Path) = {
    val base = Files.createTempDirectory("graft_cat")
    val name = s"lake${math.abs(base.hashCode()).toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base.toString)
    (name, base)
  }

  test("catalog: SQL reads the latest snapshot; VERSION AS OF time-travels") {
    val (cat, base) = freshCatalog()
    val table = base.resolve("docs")
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 2)  // v0
    TxLog.append(spark, idsDf(10L to 19L), table, "doc_id", nParts = 2) // v1
    TxLog.deleteKeys(spark, table,
      idsDf(Seq(5L, 15L)).select("doc_id"), "doc_id", "doc_id")         // v2 (COW)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.docs").head.getLong(0) == 18L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.docs VERSION AS OF 1")
      .head.getLong(0) == 20L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.docs VERSION AS OF 0")
      .head.getLong(0) == 10L)
    // predicates and projection flow into the plain parquet scan
    val rows = spark.sql(
      s"SELECT payload FROM $cat.docs WHERE doc_id BETWEEN 14 AND 16 ORDER BY payload")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("v14", "v16"))
  }

  test("catalog: lists log-backed tables, serves DV snapshots") {
    val (cat, base) = freshCatalog()
    TxLog.append(spark, idsDf(0L to 4L), table = base.resolve("t1"), "doc_id", nParts = 1)
    TxLog.append(spark, idsDf(0L to 4L), table = base.resolve("t2"), "doc_id", nParts = 1)
    Files.createDirectories(base.resolve("not_a_table"))
    val listed = spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).toSet
    assert(listed == Set("t1", "t2"))
    // a merge-on-read snapshot is served transparently: the analyzer
    // rule swaps the relation for the DV-applying plan
    TxLog.deleteMor(spark, base.resolve("t1"), idsDf(Seq(2L)).select("doc_id"), "doc_id")
    val ids = spark.sql(s"SELECT doc_id FROM $cat.t1 ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L, 1L, 3L, 4L))
    // ...and time travel across the DV commit still works: v0 pre-delete
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.t1 VERSION AS OF 0")
      .head.getLong(0) == 5L)
    // the SQL answer is the API answer
    assert(spark.sql(s"SELECT SUM(doc_id) AS s FROM $cat.t1").head.getLong(0) ==
      TxLog.readAt(spark, base.resolve("t1"))
        .agg(org.apache.spark.sql.functions.sum("doc_id")).head.getLong(0))
    // compaction folds the vectors; the plain parquet mount resumes
    TxLog.compact(spark, base.resolve("t1"), "doc_id", nParts = 1)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.t1").head.getLong(0) == 4L)
  }

  test("catalog: CREATE TABLE / INSERT INTO / INSERT OVERWRITE are ACID commits") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.w (doc_id BIGINT, payload STRING)")
    val table = base.resolve("w")
    assert(TxLog.history(table).map(_._2) == Seq("create"))
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.w").head.getLong(0) == 0L)
    spark.sql(s"INSERT INTO $cat.w VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $cat.w SELECT doc_id, payload FROM $cat.w") // self-read append
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.w").head.getLong(0) == 4L)
    // INSERT OVERWRITE is ONE commit replacing the live set; history and
    // time travel keep the pre-overwrite state
    spark.sql(s"INSERT OVERWRITE $cat.w VALUES (9, 'z')")
    assert(spark.sql(s"SELECT doc_id FROM $cat.w").collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(TxLog.history(table).map(_._2) ==
      Seq("create", "append", "append", "overwrite"))
    val vPre = TxLog.latestVersion(table) - 1
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.w VERSION AS OF $vPre")
      .head.getLong(0) == 4L)
    // SQL writes honor CHECK constraints like every other writer
    TxLog.setConstraint(spark, table, "cap", "doc_id < 100")
    val e = intercept[Exception] { spark.sql(s"INSERT INTO $cat.w VALUES (200, 'no')") }
    assert(e.getMessage.contains("cap"), e.getMessage)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.w").head.getLong(0) == 1L)
  }

  test("catalog: CTAS, predicate DELETE (COW on affected files), DROP, RENAME") {
    val (cat, base) = freshCatalog()
    val t1 = base.resolve("src1")
    TxLog.append(spark, idsDf(0L to 99L), t1, "doc_id", nParts = 4)
    spark.sql(s"CREATE TABLE $cat.c AS SELECT doc_id, payload FROM $cat.src1 WHERE doc_id < 50")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.c").head.getLong(0) == 50L)
    val table = base.resolve("c")
    // predicate delete: only files containing a match are rewritten
    val filesBefore = TxLog.snapshotAt(table).files.size
    spark.sql(s"DELETE FROM $cat.c WHERE doc_id >= 40 AND payload IS NOT NULL")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.c").head.getLong(0) == 40L)
    assert(spark.sql(s"SELECT MAX(doc_id) AS m FROM $cat.c").head.getLong(0) == 39L)
    val (_, op, _, nRemoves) = TxLog.history(table).last
    assert(op == "delete" && nRemoves <= filesBefore)
    // ...and the delete recorded a CDC sidecar (change feed replayable)
    assert(TxLog.commitCdcFile(table, TxLog.latestVersion(table)).isDefined)
    // DELETE against a DV-carrying table routes through the same path
    TxLog.deleteMor(spark, table, idsDf(Seq(1L)).select("doc_id"), "doc_id")
    spark.sql(s"DELETE FROM $cat.c WHERE doc_id = 2")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.c").head.getLong(0) == 38L)
    // rename moves the directory; drop removes it
    spark.sql(s"ALTER TABLE $cat.c RENAME TO c2")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.c2").head.getLong(0) == 38L)
    spark.sql(s"DROP TABLE $cat.c2")
    assert(!Files.exists(base.resolve("c2")))
    val listed = spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).toSet
    assert(listed == Set("src1"))
  }

  test("catalog: PARTITIONED BY identity column routes SQL inserts to partitioned appends") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pt (doc_id BIGINT, tag STRING) PARTITIONED BY (tag)")
    val table = base.resolve("pt")
    assert(TxLog.partitionColsOf(table) == Seq("tag"))
    spark.sql(s"INSERT INTO $cat.pt VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    val snap = TxLog.snapshotAt(table)
    assert(snap.files.size == 2, s"one file per partition value, got ${snap.files}")
    assert(snap.files.flatMap(_.part.get("tag")).toSet == Set("a", "b"))
    // partition-pruned API read agrees with SQL
    assert(TxLog.readAt(spark, table, partitions = Map("tag" -> "a")).count() == 2L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.pt WHERE tag = 'a'")
      .head.getLong(0) == 2L)
    // INSERT OVERWRITE keeps the partition layout (partitionValues in
    // the log survive the overwrite; pruning still works)
    spark.sql(s"INSERT OVERWRITE $cat.pt VALUES (7, 'c'), (8, 'a')")
    val snap2 = TxLog.snapshotAt(table)
    assert(snap2.files.size == 2 &&
      snap2.files.flatMap(_.part.get("tag")).toSet == Set("a", "c"),
      s"overwrite must stay partitioned: ${snap2.files.map(f => (f.path, f.part))}")
    assert(TxLog.readAt(spark, table, partitions = Map("tag" -> "a"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(8L))
    assert(TxLog.history(table).map(_._2).last == "overwrite")
  }

  test("catalog: a clone of a partitioned table keeps its partitioning for SQL inserts") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ps (doc_id BIGINT, tag STRING) PARTITIONED BY (tag)")
    spark.sql(s"INSERT INTO $cat.ps VALUES (1, 'a'), (2, 'b')")
    val (src, clone) = (base.resolve("ps"), base.resolve("pc"))
    TxLog.cloneTable(spark, src, clone): Unit
    assert(TxLog.partitionColsOf(clone) == TxLog.partitionColsOf(src))
    assert(TxLog.partitionColsOf(clone) == Seq("tag"))
    spark.sql(s"INSERT INTO $cat.pc VALUES (3, 'a'), (4, 'c'), (5, 'c')")
    // the insert's files carry the clone's partition values, one per tag
    val added = TxLog.snapshotAt(clone).files
      .filterNot(f => TxLog.snapshotAt(src).files.exists(_.path == f.path))
    assert(added.size == 2 && added.flatMap(_.part.get("tag")).toSet == Set("a", "c"),
      s"the clone's insert must lay out by tag: ${added.map(f => (f.path, f.part))}")
    assert(TxLog.readAt(spark, clone, partitions = Map("tag" -> "c"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L))
    assert(TxLog.snapshotAt(src).files.size == 2, "the source is untouched")
  }

  test("catalog: CALL procedures run maintenance from SQL (compact, constraint, restore, vacuum)") {
    val (cat, base) = freshCatalog()
    val table = base.resolve("mt")
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 4)   // v0: 4 files
    TxLog.deleteMor(spark, table, idsDf(Seq(3L)).select("doc_id"), "doc_id") // v1: DV
    // compact folds the DV and rewrites to one file
    val vCompact = spark.sql(s"CALL $cat.compact('mt')").head.getLong(0)
    assert(vCompact == 2L)
    val snap = TxLog.snapshotAt(table)
    assert(snap.files.size == 1 && snap.files.forall(_.dv.isEmpty))
    assert(TxLog.readAt(spark, table).count() == 9L)
    // named-argument binding + constraint commit
    val vCon = spark.sql(
      s"CALL $cat.set_constraint(`table` => 'mt', name => 'cap', expr => 'doc_id < 100')")
      .head.getLong(0)
    assert(vCon == 3L)
    intercept[Exception] {
      TxLog.append(spark, idsDf(Seq(500L)), table, "doc_id", nParts = 1)
    }
    // restore back to the pre-compaction DV state
    assert(spark.sql(s"CALL $cat.restore('mt', 1)").head.getLong(0) == 4L)
    assert(TxLog.readAt(spark, table).count() == 9L)
    assert(TxLog.snapshotAt(table).files.count(_.dv.isDefined) == 1)
    // vacuum with an explicit age-0 window reclaims the dropped rewrite
    val reclaimed = spark.sql(
      s"CALL $cat.vacuum('mt', keep_versions => 1, min_age_ms => ${0L})")
      .head.getLong(0)
    assert(reclaimed >= 1L, s"expected the compacted file reclaimed, got $reclaimed")
    assert(TxLog.readAt(spark, table).count() == 9L)
    // unknown procedure: a clear error
    val e = intercept[Exception] { spark.sql(s"CALL $cat.bogus('mt')").collect() }
    assert(e.getMessage.contains("bogus"), e.getMessage)
  }

  test("catalog: CALL merge_into / update_where are the SQL DML escape hatch") {
    val (cat, base) = freshCatalog()
    val table = base.resolve("dml")
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 2)
    // MERGE from a temp view: updates replace same-key rows, new keys insert
    idsDf(Seq(3L, 42L)).withColumn("payload", lit("merged"))
      .createOrReplaceTempView("dml_src")
    val m = spark.sql(s"CALL $cat.merge_into('dml', 'dml_src', 'doc_id')").head
    assert(m.getLong(0) == 1L && m.getLong(2) == 0L) // version, dv_files
    val after = TxLog.readAt(spark, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(3L) == "merged" && after(42L) == "merged" && after(5L) == "v5")
    assert(after.size == 11)
    // merge-on-read form: zero files rewritten, sidecars instead
    idsDf(Seq(4L)).withColumn("payload", lit("mor"))
      .createOrReplaceTempView("dml_src2")
    val m2 = spark.sql(
      s"CALL $cat.merge_into('dml', 'dml_src2', 'doc_id', mor => true)").head
    assert(m2.getLong(1) == 0L && m2.getLong(2) >= 1L, s"$m2") // rewritten, dv
    assert(TxLog.readAt(spark, table).filter(col("doc_id") === 4L)
      .head.getString(1) == "mor")
    // UPDATE with an arbitrary (non-filter-translatable) predicate
    val u = spark.sql(s"CALL $cat.update_where('dml', 'doc_id', " +
      "'doc_id % 2 = 1 AND doc_id < 6', 'payload', 'upper(payload)')").head
    assert(u.getLong(1) == 3L, s"rows_updated: $u") // 1, 3, 5
    val after2 = TxLog.readAt(spark, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after2(1L) == "V1" && after2(3L) == "MERGED" && after2(5L) == "V5")
    assert(after2(7L) == "v7" && after2(2L) == "v2") // untouched
    // a no-match update commits nothing
    val v0 = TxLog.latestVersion(table)
    val u2 = spark.sql(s"CALL $cat.update_where('dml', 'doc_id', " +
      "'doc_id > 1000', 'payload', 'payload')").head
    assert(u2.getLong(1) == 0L && TxLog.latestVersion(table) == v0)
  }

  test("catalog: ALTER TABLE ADD COLUMN is a metadata commit; old files null-fill") {
    val (cat, base) = freshCatalog()
    val table = base.resolve("ev")
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)   // v0
    spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN score BIGINT")           // v1, no data
    assert(TxLog.history(table).map(_._2) == Seq("append", "set-schema"))
    // pre-evolution rows null-fill; the new column is insertable
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.ev WHERE score IS NULL")
      .head.getLong(0) == 5L)
    spark.sql(s"INSERT INTO $cat.ev VALUES (9, 'v9', 7)")
    assert(spark.sql(s"SELECT SUM(score) AS s FROM $cat.ev").head.getLong(0) == 7L)
    // time travel still reads the pre-evolution schema
    assert(!spark.sql(s"SELECT * FROM $cat.ev VERSION AS OF 0").columns.contains("score"))
    // duplicate columns and retypes are refused (RENAME/DROP are the
    // column-mapping surface — ColumnMappingSpec covers them)
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN score BIGINT") }
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev ALTER COLUMN score TYPE STRING")
    }
    assert(e.getMessage.contains("retype") || e.getMessage.contains("unreadable"),
      e.getMessage)
  }

  test("catalog: tags are commits; VERSION AS OF 'name' resolves them; checkpoints fold them") {
    val (cat, base) = freshCatalog()
    val table = base.resolve("tg")
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)   // v0
    TxLog.append(spark, idsDf(5L to 9L), table, "doc_id", nParts = 1)   // v1
    spark.sql(s"CALL $cat.tag('tg', 'stable', 0)")                      // v2
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.tg VERSION AS OF 'stable'")
      .head.getLong(0) == 5L)
    // repointing is one more commit; the old resolution is history
    spark.sql(s"CALL $cat.tag('tg', 'stable', 1)")                      // v3
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.tg VERSION AS OF 'stable'")
      .head.getLong(0) == 10L)
    assert(TxLog.tags(table, Some(2L)) == Map("stable" -> 0L), "tags time-travel")
    // tags survive a checkpoint boundary (v10 folds them)
    (0 until 8).foreach { i =>
      TxLog.append(spark, idsDf(Seq(20L + i)), table, "doc_id", nParts = 1)
    }
    assert(TxLog.latestVersion(table) >= 10L)
    assert(TxLog.tags(table) == Map("stable" -> 1L))
    // the $tags metadata table serves the current refs
    val tagRows = spark.sql(s"SELECT name, version FROM $cat.`tg$$tags`")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(tagRows == Seq(("stable", 1L)))
    // a TAGGED version is a vacuum retention root: its files survive a
    // keep-only-latest vacuum, so the tag stays readable; repointing
    // releases them
    TxLog.compact(spark, table, "doc_id", nParts = 1) // rewrites the live set
    TxLog.vacuum(table, keepVersions = 1, minAgeMs = 0L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.tg VERSION AS OF 'stable'")
      .head.getLong(0) == 10L, "tagged snapshot must survive vacuum")
    // numeric tag names and unknown-version targets are refused
    intercept[Exception] { TxLog.setTag(table, "7", 0L) }
    intercept[Exception] { spark.sql(s"CALL $cat.tag('tg', 'x', 999)").collect() }
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.tg VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("stable"), s"error should list tags: ${e.getMessage}")
  }

  test("catalog: TIMESTAMP AS OF resolves to the latest commit at or before t") {
    val (cat, base) = freshCatalog()
    val table = base.resolve("tt")
    TxLog.append(spark, idsDf(0L to 4L), table, "doc_id", nParts = 1)   // v0
    Thread.sleep(30)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(30)
    TxLog.append(spark, idsDf(5L to 9L), table, "doc_id", nParts = 1)   // v1
    def tsLit(ms: Long): String =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
    // between the commits -> v0; after the last -> v1 (the latest)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM $cat.tt TIMESTAMP AS OF '${tsLit(betweenMs)}'")
      .head.getLong(0) == 5L)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM $cat.tt TIMESTAMP AS OF '${tsLit(System.currentTimeMillis())}'")
      .head.getLong(0) == 10L)
    // before the first commit: a clear error
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.tt TIMESTAMP AS OF '2000-01-01 00:00:00'").collect()
    }
    assert(e.getMessage.contains("no commit"), e.getMessage)
  }

  test("catalog: $history and $files metadata tables reflect the log") {
    val (cat, base) = freshCatalog()
    val table = base.resolve("m")
    TxLog.append(spark, idsDf(0L to 9L), table, "doc_id", nParts = 2)
    TxLog.deleteMor(spark, table, idsDf(Seq(3L)).select("doc_id"), "doc_id")
    val hist = spark.sql(s"SELECT version, op FROM $cat.`m$$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist == Seq((0L, "append"), (1L, "delete-mor")))
    // the dv'd file shows its flag; footer stats ride along
    val files = spark.sql(
      s"SELECT has_dv, SUM(rows) AS r FROM $cat.`m$$files` GROUP BY has_dv ORDER BY has_dv")
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toSeq
    assert(files.map(_._2).sum == 10L) // rows stat is write-time (pre-dv)
    assert(files.exists(_._1 == true))
    // unknown suffix: a clear error
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.`m$$bogus`").collect()
    }
    assert(e.getMessage.contains("unknown metadata table"), e.getMessage)
  }

  test("catalog: predicates still push into the parquet scans under the DV rewrite") {
    val (cat, base) = freshCatalog()
    val table = base.resolve("p")
    TxLog.append(spark, idsDf(0L to 99L), table, "doc_id", nParts = 2)
    TxLog.deleteMor(spark, table, idsDf(Seq(10L)).select("doc_id"), "doc_id")
    val df = spark.sql(s"SELECT payload FROM $cat.p WHERE doc_id >= 90")
    assert(df.collect().length == 10)
    // the user predicate reaches the parquet scan THROUGH the
    // broadcast anti-join the rewrite introduced
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(doc_id,90)"), plan)
  }

  test("catalog: maintain picks compact for disjoint small files, none below threshold") {
    val (cat, base) = freshCatalog()
    val table = base.resolve("mt")
    // 10 files with DISJOINT doc_id ranges: too many files, but footer
    // pruning is intact -> the policy must pick plain compact, not the
    // clustered rewrite
    (0 until 10).foreach { i =>
      TxLog.append(spark, idsDf((i * 10L) until (i * 10L + 10L)), table, "doc_id", nParts = 1)
    }
    val r = spark.sql(s"CALL $cat.maintain('mt', max_files => 8, target_files => 2)")
      .collect().head
    assert(r.getString(0) == "compact", r.toString)
    assert(r.getLong(1) == 10L && r.getLong(2) == 2L, r.toString)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.mt").head.getLong(0) == 100L)
    // under the threshold: no rewrite, vacuum-with-zero-retention
    // reclaims the 10 replaced arrival files
    val r2 = spark.sql(s"CALL $cat.maintain('mt', vacuum_min_age_ms => 0)")
      .collect().head
    assert(r2.getString(0) == "none" && r2.getLong(3) == 10L, r2.toString)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.mt").head.getLong(0) == 100L)
    // merge-on-read debt: DV half the live set -> the policy folds
    // (compact) even under the file-count threshold
    TxLog.deleteMor(spark, table, idsDf(Seq(5L)).select("doc_id"), "doc_id")
    val r3 = spark.sql(s"CALL $cat.maintain('mt')").collect().head
    assert(r3.getString(0) == "compact", r3.toString)
    assert(TxLog.snapshotAt(table).files.forall(_.dv.isEmpty), "vectors not folded")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.mt").head.getLong(0) == 99L)
  }

  test("catalog: CTAS is atomic — a failed query publishes nothing") {
    val (cat, base) = freshCatalog()
    TxLog.append(spark, idsDf(0L to 9L), base.resolve("src2"), "doc_id", nParts = 1)
    // the SELECT fails at RUNTIME (assert_true trips on doc_id >= 5), so
    // the create must roll back: no table dir, no empty-v0 orphan, no
    // listing entry, and the staging area is torn down
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ghost AS " +
        s"SELECT doc_id, assert_true(doc_id < 5) AS ok FROM $cat.src2")
    }
    assert(!Files.exists(base.resolve("ghost")))
    val listed = spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).toSet
    assert(listed == Set("src2"))
    val staging = base.resolve(".staging")
    if (Files.isDirectory(staging)) {
      val s = Files.list(staging)
      try assert(!s.iterator().hasNext, "staging dir not cleaned up")
      finally s.close()
    }
    // ...and a SUCCESSFUL CTAS through the same staged path still lands
    spark.sql(s"CREATE TABLE $cat.ok2 AS SELECT doc_id FROM $cat.src2 WHERE doc_id < 3")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.ok2").head.getLong(0) == 3L)
  }

  test("catalog: identifiers and procedure args are names, never paths") {
    val (cat, base) = freshCatalog()
    TxLog.append(spark, idsDf(0L to 4L), base.resolve("vic"), "doc_id", nParts = 1)
    // a sibling table OUTSIDE the catalog base that traversal would reach
    val outside = Files.createTempDirectory("graft_outside")
    val escapee = outside.resolve("loot")
    TxLog.append(spark, idsDf(0L to 4L), escapee, "doc_id", nParts = 1)
    val rel = base.relativize(escapee).toString // ../graft_outside.../loot
    // backticked identifier traversal → refused, nothing read or dropped
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.`$rel`").collect()
    }
    assert(e1.getMessage.contains("illegal identifier segment") ||
      e1.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e1.getMessage)
    val e2 = intercept[Exception] { spark.sql(s"DROP TABLE $cat.`$rel`") }
    assert(Files.isDirectory(escapee.resolve("_graft_log")), "traversal deleted data!")
    assert(e2 != null)
    // procedure args take the same fence: vacuum cannot address '../'
    val e3 = intercept[Exception] {
      spark.sql(s"CALL $cat.vacuum('$rel', 1, 0)").collect()
    }
    assert(e3.getMessage.contains("illegal table name"), e3.getMessage)
    assert(Files.isDirectory(escapee.resolve("_graft_log")))
    // plain names still work
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.vic").head.getLong(0) == 5L)
  }

  test("catalog: ALTER TABLE ADD COLUMN FIRST/AFTER is refused, not silently appended") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ac (doc_id BIGINT, payload STRING)")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ac ADD COLUMN flag INT FIRST")
    }
    assert(e.getMessage.contains("FIRST/AFTER is not supported"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ac ADD COLUMN flag INT AFTER doc_id")
    }
    assert(e2.getMessage.contains("FIRST/AFTER is not supported"), e2.getMessage)
    // schema unchanged by the refused DDL; positionless ADD still works
    assert(spark.table(s"$cat.ac").columns.toSeq == Seq("doc_id", "payload"))
    spark.sql(s"ALTER TABLE $cat.ac ADD COLUMN flag INT")
    assert(spark.table(s"$cat.ac").columns.toSeq == Seq("doc_id", "payload", "flag"))
  }

  test("catalog: maintain refreshes sibling bloom indexes so rewrites " +
      "don't strand an unindexed live set") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.bt (doc_id BIGINT, key STRING)")
    (0 until 10).foreach { i =>
      spark.sql(s"INSERT INTO $cat.bt SELECT id, concat('k', id) " +
        s"FROM range(${i * 10}, ${i * 10 + 10})")
    }
    val r1 = spark.sql(s"CALL $cat.bloom_index('bt', 'key')").head
    val nLive = graft.ops.TxLog.snapshotAt(base.resolve("bt")).files.size.toLong
    assert(r1.getLong(1) == nLive, s"indexed ${r1.getLong(1)} of $nLive")
    // many files > max_files=8 -> maintain rewrites the layout; the
    // refresh must index the rewritten files in the same pass
    val m = spark.sql(s"CALL $cat.maintain('bt', 8, 2, 1, 0)").head
    assert(m.getString(0) != "none", m.toString)
    val live = graft.ops.TxLog.snapshotAt(base.resolve("bt")).files.map(_.path).toSet
    val indexed = spark.sql(s"SELECT data_file FROM $cat.bt_bloom_key")
      .collect().map(_.getString(0)).toSet
    assert(live.subsetOf(indexed),
      s"live files not indexed after maintain: ${live -- indexed}")
    // and a re-call indexes nothing further
    assert(spark.sql(s"CALL $cat.bloom_index('bt', 'key')").head.getLong(1) == 0L)
  }

  test("catalog: CALL ann_index creates the sibling, refreshes incrementally, " +
      "validates args, and maintain drives its re-cluster") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.vt (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)")
    spark.sql(s"INSERT INTO $cat.vt SELECT id, " +
      "transform(sequence(0, 7), d -> cast((id * (d + 3)) % 17 as float)), " +
      "cast(id % 5 as int) FROM range(0, 60)")
    val r1 = spark.sql(s"CALL $cat.ann_index('vt', 'vec_id', 'embedding')").head
    assert(r1.getString(0) == "vt_ann_ix" && r1.getLong(1) == 60L)
    // incremental: only the new rows assign; idempotent re-call is 0
    spark.sql(s"INSERT INTO $cat.vt SELECT id, " +
      "transform(sequence(0, 7), d -> cast((id * (d + 3)) % 17 as float)), " +
      "cast(id % 5 as int) FROM range(60, 80)")
    assert(spark.sql(s"CALL $cat.ann_index('vt', 'vec_id', 'embedding')")
      .head.getLong(1) == 20L)
    assert(spark.sql(s"CALL $cat.ann_index('vt', 'vec_id', 'embedding')")
      .head.getLong(1) == 0L)
    // arg fences: illegal identifier and unknown column refuse
    intercept[Exception](
      spark.sql(s"CALL $cat.ann_index('vt', 'vec_id; drop', 'embedding')").collect())
    intercept[Exception](
      spark.sql(s"CALL $cat.ann_index('vt', 'vec_id', 'nope')").collect())
    // the index is an ordinary queryable catalog table (one home per vector)
    assert(spark.sql(s"SELECT count(*) FROM $cat.vt_ann_ix").head.getLong(0) == 80L)
    assert(spark.sql(s"SELECT count(DISTINCT vec_id) FROM $cat.vt_ann_ix")
      .head.getLong(0) == 80L)
    // increments left overlapping per-list file-sets; maintain's ANN
    // sibling pass folds them to the clustered bound
    val ix = base.resolve("vt_ann_ix")
    assert(graft.ops.AnnIndex.maxFilesPerCent(spark, ix) > 1)
    spark.sql(s"CALL $cat.maintain('vt', 4, 4, vacuum_min_age_ms => 0)").collect(): Unit
    assert(graft.ops.AnnIndex.maxFilesPerCent(spark, ix) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.vt_ann_ix").head.getLong(0) == 80L)
  }

  test("catalog: a point query prunes through the sibling bloom index " +
      "transparently — fewer files scanned, same rows") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pt (doc_id BIGINT, key STRING)")
    (0 until 6).foreach { i =>
      spark.sql(s"INSERT INTO $cat.pt SELECT id, concat('k', id) " +
        s"FROM range(${i * 10}, ${i * 10 + 10})")
    }
    val nLive = graft.ops.TxLog.snapshotAt(base.resolve("pt")).files.size
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect(): Unit // finalize AQE before reading the executed plan
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
              p.fileIndex.inputFiles.length
            case _ => -1
          }
      }.head
    }
    // WITHOUT an index: the point probe reads every live file
    val q = s"SELECT doc_id FROM $cat.pt WHERE key = 'k37'"
    assert(scannedFiles(spark.sql(q)) == nLive)
    // WITH the index: strictly fewer files, identical rows
    spark.sql(s"CALL $cat.bloom_index('pt', 'key')").collect(): Unit
    val df = spark.sql(q)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(37L))
    val pruned = scannedFiles(spark.sql(q))
    assert(pruned < nLive, s"scanned $pruned of $nLive")
    // an absent key returns empty, still through the pruned scan
    assert(spark.sql(s"SELECT doc_id FROM $cat.pt WHERE key = 'nope'").count() == 0L)
    // a non-equality predicate keeps the delegate's full scan (correct,
    // just unpruned) and a pushed aggregate is never hijacked
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pt WHERE key > 'k'").head.getLong(0) == 60L)
  }

  test("catalog: CALL move_where transfers atomically; empty match is a " +
      "no-op; same-table and traversal args are refused") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.src (doc_id BIGINT, payload STRING)")
    spark.sql(s"CREATE TABLE $cat.dst (doc_id BIGINT, payload STRING)")
    spark.sql(s"INSERT INTO $cat.src SELECT id, concat('p', id) FROM range(10)")
    spark.sql(s"INSERT INTO $cat.dst SELECT id, concat('p', id) FROM range(100, 103)")
    val r = spark.sql(
      s"CALL $cat.move_where('src', 'dst', 'doc_id', 'doc_id % 3 = 0')").head
    assert(r.getLong(2) == 4L, s"rows_moved: ${r.getLong(2)}") // 0,3,6,9
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.src").head.getLong(0) == 6L)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dst").head.getLong(0) == 7L)
    // conservation: every id exists in exactly one of the two tables
    val all = spark.sql(
      s"SELECT doc_id FROM $cat.src UNION ALL SELECT doc_id FROM $cat.dst")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(all == ((0L to 9L) ++ (100L to 102L)).sorted)
    // empty match: versions unchanged, nothing moves
    val before = r.getLong(0)
    val r2 = spark.sql(
      s"CALL $cat.move_where('src', 'dst', 'doc_id', 'doc_id > 1000')").head
    assert(r2.getLong(2) == 0L)
    assert(r2.getLong(0) == before, "no-op must not advance the source")
    // transaction visibility: both participants list their committed
    // txn commit in the $txns metadata table
    val srcTxns = spark.sql(s"SELECT version, op, outcome FROM $cat.`src$$txns`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(srcTxns.map(t => (t._2, t._3)) == Seq(("delete-mor", "committed")), srcTxns)
    val dstTxns = spark.sql(s"SELECT op, outcome FROM $cat.`dst$$txns`")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(dstTxns == Seq(("append", "committed")), dstTxns)
    // fences: same table refused, traversal refused
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.move_where('src', 'src', 'doc_id', 'true')").collect()
    }
    assert(e.getMessage.contains("must differ"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.move_where('src', '../x', 'doc_id', 'true')").collect()
    }
    assert(e2.getMessage.contains("illegal table name"), e2.getMessage)
  }
}

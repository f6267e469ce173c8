package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.SparkSpec

/** The log fold (`TxLog.stateAt`) against a naive replay of every
  * commit from v0 — no checkpoint, no cache — written here. Seeded
  * random op sequences cross several checkpoint boundaries (inline and
  * sharded); at every version the files (as a sequence), protocol,
  * tags, constraints, partitioning, properties and source files must
  * match, warm (the fold
  * extended one commit at a time from the cached state) and cold (every
  * cache dropped, the fold seeded from a checkpoint); the batch
  * watermark is checked at the head. Three fixed cases cover a
  * checkpoint from before `batchMax`/`partitionCols` existed, a table
  * re-created at the same path, and time travel between head reads. */
class LogFoldSpec extends SparkSpec {
  import LogFoldSpec.Expect
  import spark.implicits._

  private val om = new ObjectMapper()

  private def rows(ids: Seq[Long]): DataFrame =
    ids.toDF("doc_id")
      .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de"))
      .withColumn("payload", concat(lit("p"), col("doc_id")))

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("payload", StringType)))

  private def commitFile(table: Path, v: Long): Path =
    table.resolve("_graft_log").resolve(f"v$v%020d").resolve("commit.json")

  private def checkpointFile(table: Path, v: Long): Path =
    table.resolve("_graft_log").resolve(f"v$v%020d").resolve("checkpoint.json")

  private def rawDelete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f): Unit)

  /** Every commit at or below `v`, in order. A txn commit counts only
    * when its marker's outcome file says "committed". */
  private def naive(table: Path, v: Long): Expect = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, TxLog.AddFile]
    var e = Expect(Vector.empty, TxLog.Protocol.Empty, Map.empty, Map.empty, None, Nil, Map.empty,
      Set.empty)
    def names(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      Option(n).fold(Seq.empty[String])(_.elements().asScala.map(_.asText).toSeq)
    TxLog.versions(table).filter(_ <= v).foreach { cv =>
      val n = om.readTree(Files.readAllBytes(commitFile(table, cv)))
      val effective = Option(n.get("txn")).forall { m =>
        val o = Paths.get(m.asText).resolve("outcome")
        Files.exists(o) && new String(Files.readAllBytes(o), "UTF-8") == "committed"
      }
      if (effective) {
        n.get("removes").elements().asScala.foreach(r => live -= r.asText)
        TxLog.addsAt(table, cv).foreach(a => live += (a.path -> a))
        e = e.copy(
          protocol = Option(n.get("protocol")).fold(e.protocol)(p =>
            TxLog.Protocol(names(p.get("readerFeatures")).toSet,
              names(p.get("writerFeatures")).toSet)),
          tags = Option(n.get("tagName")).fold(e.tags)(t =>
            e.tags + (t.asText -> n.get("tagVersion").asLong)),
          constraints = Option(n.get("constraintName")).fold(e.constraints)(c =>
            e.constraints + (c.asText -> n.get("constraintExpr").asText)),
          batchMax = Option(n.get("batchId")).fold(e.batchMax)(b =>
            Some(e.batchMax.fold(b.asLong)(math.max(_, b.asLong)))),
          partitionCols = n.get("op").asText match {
            case "create" if cv == 0L => names(n.get("partitionCols"))
            case "set-partitioning" => names(n.get("partitionCols"))
            case "clone" => names(n.get("partitionCols"))
            case _ => e.partitionCols
          },
          props = Option(n.get("props")).fold(e.props)(_.fields().asScala.foldLeft(e.props) {
            (m, f) => if (f.getValue.isNull) m - f.getKey else m + (f.getKey -> f.getValue.asText)
          }),
          sources = n.get("op").asText match {
            case "clone" | "restore" => names(n.get("sources")).toSet
            case _ => e.sources ++ names(n.get("sources"))
          })
      }
    }
    e.copy(files = live.values.toVector)
  }

  private def check(table: Path, v: Long, how: String): Unit = {
    val want = naive(table, v)
    val at = Some(v)
    assert(TxLog.snapshotAt(table, at).files == want.files, s"files at v$v ($how)")
    assert(TxLog.protocolAt(table, at) == want.protocol, s"protocol at v$v ($how)")
    assert(TxLog.tags(table, at) == want.tags, s"tags at v$v ($how)")
    assert(TxLog.constraints(table, at) == want.constraints, s"constraints at v$v ($how)")
    assert(TxLog.partitionColsOf(table, at) == want.partitionCols,
      s"partitionCols at v$v ($how)")
    assert(TxLog.propsAt(table, at) == want.props, s"props at v$v ($how)")
    assert(TxLog.sourcesAt(table, at) == want.sources, s"sources at v$v ($how)")
  }

  private def checkBatches(table: Path, upTo: Long, how: String): Unit = {
    val want = naive(table, TxLog.latestVersion(table)).batchMax
    (0L to upTo).foreach(b => assert(TxLog.isBatchCommitted(table, b) == want.exists(b <= _),
      s"isBatchCommitted($b) ($how), watermark $want"))
  }

  private def agedMarker(dir: Path): Path = {
    val marker = dir.resolve(s"marker-${java.util.UUID.randomUUID()}")
    Files.createDirectories(marker)
    Files.write(marker.resolve("pending"), "{}".getBytes): Unit
    Files.setLastModifiedTime(marker.resolve("pending"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - TxLog.StaleClaimMs - 1000))
    marker
  }

  private def randomLog(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val base = Files.createTempDirectory("graft_logfold")
    val t = base.resolve("t"); val sib = base.resolve("s")
    val oldMax = TxLog.CheckpointInlineMax
    try {
      TxLog.create(t, schema, if (rnd.nextBoolean()) Seq("lang") else Nil): Unit
      var nextId = 0L
      def fresh(n: Int): Seq[Long] = { val ids = nextId until nextId + n; nextId += n; ids }
      var nextBatch = 0L
      val (committedAt, abortedAt) = (6, 13) // op indexes of the two transactions
      var op = 0
      var restores = 0
      while (TxLog.latestVersion(t) < 44) {
        val next = TxLog.latestVersion(t) + 1
        // checkpoints alternate inline (v10, v30) and sharded (v20, v40)
        TxLog.CheckpointInlineMax = if ((next / 10) % 2 == 1) Int.MaxValue else 1
        lazy val live =
          if (TxLog.snapshotAt(t).files.isEmpty) Seq.empty[Long]
          else TxLog.readAt(spark, t).select("doc_id").as[Long].collect().toSeq
        if (op == committedAt) {
          TxLog.transact(spark, Seq(
            TxLog.TxnAppend(t, rows(fresh(2)), "doc_id", batchId = Some(nextBatch)),
            TxLog.TxnAppend(sib, rows(fresh(1)), "doc_id")))
          nextBatch += 1
        } else if (op == abortedAt) {
          // a coordinator that died before deciding: the aborted commit
          // would drop a live file, add a phantom one, claim the next
          // batch id, set a property and record a source file if it
          // were (wrongly) applied
          val victim = TxLog.snapshotAt(t).files.head.path
          assert(TxLog.tryCommit(t, next, "append",
            Seq(TxLog.AddFile("phantom.parquet", 1L, 0L, 0L)), Seq(victim),
            batchId = Some(nextBatch), extra = Map("txn" -> agedMarker(base).toString,
              "props" -> java.util.Map.of("aborted", "yes"),
              "sources" -> java.util.List.of("aborted.src"))))
        } else rnd.nextInt(11) match {
          case 0 | 1 => TxLog.append(spark, rows(fresh(1 + rnd.nextInt(2))), t, "doc_id", nParts = 1)
          case 2 if live.nonEmpty =>
            TxLog.deleteMor(spark, t, rnd.shuffle(live).take(1 + rnd.nextInt(2)).toDF("doc_id"),
              "doc_id")
          case 2 | 3 =>
            // now and then a redelivery of the last batch, which must skip
            val redeliver = nextBatch > 0 && rnd.nextInt(3) == 0
            val b = if (redeliver) nextBatch - 1 else nextBatch
            val out = TxLog.streamingAppend(spark, rows(fresh(1)), b, t, "doc_id")
            assert(out.isDefined != redeliver, s"batch $b redeliver=$redeliver")
            if (!redeliver) nextBatch += 1
          case 4 => TxLog.setTag(t, Seq("rel", "ga")(rnd.nextInt(2)), rnd.nextInt(next.toInt).toLong)
          case 5 =>
            val (name, sql) = Seq("nonneg" -> "doc_id >= 0", "cap" -> "doc_id < 1000000",
              "nonneg" -> "doc_id > -1")(rnd.nextInt(3))
            TxLog.setConstraint(spark, t, name, sql)
          case 6 => TxLog.setPartitioning(t, if (rnd.nextBoolean()) Seq("lang") else Nil)
          case 7 => TxLog.upgradeProtocol(t,
            writerFeatures = Set(Seq("changeDataFeed", "deletionVectors")(rnd.nextInt(2))))
          case 8 =>
            // set or (now and then) remove a property in a props-only
            // commit, now and then recording source files with it
            val k = Seq("owner", "tier", "note")(rnd.nextInt(3))
            TxLog.setProps(t, Map[String, String](k -> (if (rnd.nextInt(4) == 0) null else s"v$next")),
              sources = Seq.fill(rnd.nextInt(3))(s"src-${rnd.nextInt(8)}"))
          case 10 if next > 2 =>
            // restore replaces the files, properties and source files
            // with the target version's
            TxLog.restore(spark, t, rnd.nextInt(next.toInt).toLong)
            restores += 1
          case _ if live.nonEmpty =>
            // properties riding a data commit
            TxLog.deleteMor(spark, t, rnd.shuffle(live).take(1).toArray, "doc_id",
              props = probed => Map("deleted" -> probed.length.toString, "at" -> s"v$next"))
          case _ => TxLog.setProps(t, Map("tier" -> s"w$next"), sources = Seq(s"src-w$next"))
        }
        op += 1
        // warm: the head, folded on top of the previous head
        check(t, TxLog.latestVersion(t), s"warm, seed $seed op $op")
        checkBatches(t, nextBatch + 1, s"warm, seed $seed op $op")
      }
      assert(restores > 0, s"seed $seed ran no restore")
      val vs = TxLog.versions(t)
      val log = t.resolve("_graft_log")
      val ckpts = vs.filter(v => Files.exists(checkpointFile(t, v)))
      assert(ckpts == Seq(10L, 20L, 30L, 40L))
      val sharded = ckpts.filter(v => Files.isDirectory(log.resolve(f"v$v%020d").resolve("checkpoint.d")))
      assert(sharded.nonEmpty && sharded.size < ckpts.size, s"sharded: $sharded of $ckpts")
      // time travel with the head cached
      vs.foreach(v => check(t, v, s"time travel, seed $seed"))
      // cold: every cache dropped before each read
      vs.foreach { v => StampedCache.clearAllForTest(); check(t, v, s"cold, seed $seed") }
      StampedCache.clearAllForTest()
      checkBatches(t, nextBatch + 1, s"cold, seed $seed")
      // incremental across checkpoint boundaries: a cold early state is
      // the base the head is folded on
      Seq(0L, 9L, 15L, 31L).foreach { e =>
        StampedCache.clearAllForTest()
        check(t, e, s"early base, seed $seed")
        check(t, vs.last, s"head over base v$e, seed $seed")
      }
      // a clone carries the source's set and partitioning, and its own
      // commits add to the set
      val c = base.resolve("c")
      TxLog.cloneTable(spark, t, c): Unit
      assert(TxLog.sourcesAt(c) == TxLog.sourcesAt(t))
      assert(TxLog.partitionColsOf(c) == TxLog.partitionColsOf(t))
      TxLog.setProps(c, Map.empty, Seq("clone-only.src")): Unit
      TxLog.versions(c).foreach(v => check(c, v, s"clone, seed $seed"))
      StampedCache.clearAllForTest()
      TxLog.versions(c).foreach(v => check(c, v, s"clone cold, seed $seed"))
      assert(!TxLog.sourcesAt(t).contains("clone-only.src"))
    } finally {
      TxLog.CheckpointInlineMax = oldMax
      TxLog.deleteTree(base)
    }
  }

  test("random op sequences: the fold equals a naive v0 replay at every version, warm and cold") {
    Seq(11, 12).foreach(randomLog)
  }

  test("a checkpoint without batchMax and partitionCols is not a fold base") {
    val t = Files.createTempDirectory("graft_logfold").resolve("t")
    var v = 0L
    def commit(op: String, batch: Option[Long] = None,
        extra: Map[String, Object] = Map.empty): Unit = {
      assert(TxLog.tryCommit(t, v, op, Nil, Nil, batchId = batch, extra = extra)); v += 1
    }
    commit("set-partitioning", extra = Map("partitionCols" -> java.util.List.of("lang")))
    (1 to 21).foreach(i => commit("streaming-append", batch = Some(100L + i)))
    commit("append")                                   // v22
    // strip v20 and then v10 as if written before the fields existed
    Seq(20L, 10L).foreach { ckv =>
      val ck = checkpointFile(t, ckv)
      val node = om.readTree(Files.readAllBytes(ck)).asInstanceOf[ObjectNode]
      assert(node.has("batchMax") && node.has("partitionCols"))
      node.remove("batchMax"): Unit
      node.remove("partitionCols"): Unit
      Files.write(ck, om.writeValueAsBytes(node))
      (ckv to 22L).foreach { at =>
        StampedCache.clearAllForTest()
        check(t, at, s"v$ckv stripped")
        assert(TxLog.partitionColsOf(t, Some(at)) == Seq("lang"))
      }
      StampedCache.clearAllForTest()
      assert(TxLog.isBatchCommitted(t, 121L) && !TxLog.isBatchCommitted(t, 122L),
        s"watermark lost after stripping v$ckv")
    }
    TxLog.deleteTree(t.getParent)
  }

  test("a table deleted and re-created at the same path never folds on the old state") {
    val dir = Files.createTempDirectory("graft_logfold")
    val t = dir.resolve("t")
    def add(p: String) = TxLog.AddFile(p, 1L, 0L, 0L)
    assert(TxLog.tryCommit(t, 0L, "append", Seq(add("a0.parquet"), add("a1.parquet")), Nil))
    assert(TxLog.tryCommit(t, 1L, "set-tag", Nil, Nil,
      extra = Map("tagName" -> "old", "tagVersion" -> java.lang.Long.valueOf(0L))))
    assert(TxLog.snapshotAt(t).files.map(_.path) == Seq("a0.parquet", "a1.parquet"))
    assert(TxLog.tags(t) == Map("old" -> 0L))
    // raw delete, deliberately not TxLog.deleteTree: nothing clears the cache
    rawDelete(t)
    assert(TxLog.tryCommit(t, 0L, "append", Seq(add("new-incarnation-b0.parquet")), Nil))
    assert(TxLog.tryCommit(t, 1L, "append", Seq(add("new-incarnation-b1.parquet")), Nil))
    assert(TxLog.tryCommit(t, 2L, "append", Seq(add("new-incarnation-b2.parquet")), Nil))
    // the head first: the old incarnation's cached v1 is a candidate base
    (Seq(2L) ++ (0L to 2L)).foreach(v => check(t, v, "re-created"))
    assert(TxLog.snapshotAt(t).files.map(_.path) ==
      Seq("new-incarnation-b0.parquet", "new-incarnation-b1.parquet", "new-incarnation-b2.parquet"))
    assert(TxLog.tags(t).isEmpty)
    rawDelete(dir)
  }

  test("a time-travel read between two head reads leaves both head reads exact") {
    val dir = Files.createTempDirectory("graft_logfold")
    val t = dir.resolve("t")
    def add(i: Int) = TxLog.AddFile(s"f$i.parquet", 1L, i.toLong, i.toLong)
    (0 until 14).foreach { i =>
      assert(TxLog.tryCommit(t, i.toLong, "append", Seq(add(i)),
        if (i % 4 == 3) Seq(s"f${i - 2}.parquet") else Nil))
    }
    check(t, 13L, "head")
    check(t, 3L, "time travel")
    check(t, 13L, "head after time travel")
    assert(TxLog.tryCommit(t, 14L, "append", Seq(add(14)), Seq("f0.parquet")))
    check(t, 14L, "new head")
    check(t, 12L, "time travel past the checkpoint")
    check(t, 14L, "new head after time travel")
    rawDelete(dir)
  }
}

object LogFoldSpec {
  private final case class Expect(files: Vector[TxLog.AddFile], protocol: TxLog.Protocol,
      tags: Map[String, Long], constraints: Map[String, String],
      batchMax: Option[Long], partitionCols: Seq[String], props: Map[String, String],
      sources: Set[String])
}

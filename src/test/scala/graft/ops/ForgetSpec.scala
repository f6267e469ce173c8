package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Atomic right-to-be-forgotten across corpus + keyed index siblings
  * (gate lf01 proves the SQL surface against DuckDB; this spec covers
  * the transactional mechanics SQL cannot see): all participants flip
  * under ONE txn marker, redelivery is a no-op, the text index's
  * derived scalars settle, and the bounded search modes stay exact
  * through the staleness window. */
class ForgetSpec extends SparkSpec {

  private def corpus(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("doc_id")
      .withColumn("text",
        concat(lit("alpha beta"),
          when(col("doc_id") % 3 === 0, lit(" gamma gamma")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" rareword")).otherwise(lit(""))))
      .withColumn("embedding",
        expr("transform(sequence(0, 7), j -> cast(pmod(doc_id * 31 + j * 17, 97) as float))"))
  }

  private def headTxn(p: java.nio.file.Path): String = {
    val vs = TxLog.versions(p)
    val s = new String(Files.readAllBytes(
      p.resolve("_graft_log").resolve(f"v${vs.last}%020d").resolve("commit.json")))
    """"txn"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
  }

  test("forget erases corpus + text + positional + ANN siblings under ONE txn marker") {
    import spark.implicits._
    graft.functions.VectorFunctions.registerAll(spark)
    val base = Files.createTempDirectory("graft_forget")
    val tbl = base.resolve("tbl")
    TxLog.append(spark, corpus(0L to 99L), tbl, "doc_id", nParts = 2)
    val tix = base.resolve("tbl_text_ix")
    TextIndex.ensureIndexed(spark, tbl, tix, textCol = "text"): Unit
    TextIndex.ensurePositional(spark, tbl, tix, textCol = "text"): Unit
    val aix = base.resolve("tbl_ann_ix")
    AnnIndex.ensureIndexed(spark, tbl, aix, idCol = "doc_id", embCol = "embedding"): Unit
    val keys = (0L to 99L).filter(_ % 9 == 8)
    val rep = Forget.forget(spark, base, "tbl", keys.toDF("doc_id"), "doc_id")
    assert(rep.keysForgotten == keys.size.toLong)
    assert(rep.participants.toSet ==
      Set("tbl_text_ix", "tbl_text_ix_pos", "tbl_ann_ix"))
    // ONE marker across every participant's head commit = one atomic flip
    val m = headTxn(tbl)
    assert(m.nonEmpty)
    Seq(tix, base.resolve("tbl_text_ix_pos"), aix).foreach(p =>
      assert(headTxn(p) == m, s"participant $p flipped under a different marker"))
    // the keys are gone from every relation
    def leaked(p: java.nio.file.Path, c: String) =
      TxLog.readAt(spark, p).filter(col(c) % 9 === 8).count()
    assert(leaked(tbl, "doc_id") == 0 && leaked(tix, "doc_id") == 0 &&
      leaked(base.resolve("tbl_text_ix_pos"), "doc_id") == 0 &&
      leaked(aix, "doc_id") == 0)
    // text scalars settled: n_docs == survivors, and the bounded modes
    // (now in the staleness window) still exactly equal full scoring
    assert(TextIndex.corpusStats(tix)._1 == 100L - keys.size)
    assert(rep.postingsDeleted == keys.size.toLong)
    val terms = Seq("rareword", "alpha")
    val full = TextIndex.searchBm25(spark, tix, terms, 5).collect().toSeq
    val (bm, bmRep) = TextIndex.searchBm25BlockMax(spark, tix, terms, 5)
    assert(bmRep.dfRecounted && bm.collect().toSeq == full)
    // REDELIVERY: the same forget replays as a per-table no-op — the
    // stats must not double-shrink
    val rep2 = Forget.forget(spark, base, "tbl", keys.toDF("doc_id"), "doc_id")
    assert(rep2.postingsDeleted == 0L)
    assert(TextIndex.corpusStats(tix)._1 == 100L - keys.size)
  }

  test("forget on a bare table (no siblings) is a one-participant transaction") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_forget2")
    val tbl = base.resolve("solo")
    TxLog.append(spark, corpus(0L to 19L), tbl, "doc_id", nParts = 1)
    val rep = Forget.forget(spark, base, "solo", Seq(3L, 8L).toDF("doc_id"), "doc_id")
    assert(rep.participants.isEmpty && rep.keysForgotten == 2L)
    assert(TxLog.readAt(spark, tbl).count() == 18L)
  }
}

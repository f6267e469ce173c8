package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ATOMIC RIGHT-TO-BE-FORGOTTEN across a corpus table and EVERY
  * keyed derived-index sibling, in ONE multi-table transaction —
  * the round-15 verdict's #4. The GDPR flow before this was two (or
  * more) independent merge-on-read deletes (sim14: corpus then ANN
  * index), so a reader between them could resolve an index snapshot
  * still naming keys the corpus had already erased. [[TxLog.transact]]
  * (commit-marker two-phase commit) makes every participant's delete
  * flip with one create-exclusive outcome file: any reader sees all of
  * them or none of them.
  *
  * Participants are discovered by the sibling naming convention `CALL
  * maintain` already drives (`<t>_text_ix`, its `_pos` positional
  * sibling, `<t>_ann_ix`, `<t>_ann_ix_codes`). Bloom siblings are NOT
  * participants by design: their rows are FILE-granular digests, not
  * key rows — a forgotten key leaves its file's digest valid (bloom
  * answers may stale-true; the lookup always re-checks the corpus,
  * whose row is gone in the same atomic flip).
  *
  * The text index's derived scalars — the (n_docs, total_len) shrink
  * and the dictionary staleness counter — ride the index's own
  * participant commit as properties, computed from the probe taken
  * under the transaction's claim fence: they flip with the postings,
  * and no crash leaves them behind.
  *
  * Reference behavior anchor: the reference pipeline has no deletion
  * story at all (inserts only, mongodb/data_repo.rs); the semantics
  * here follow the GDPR-erasure shape of lakehouse engines (Delta's
  * DELETE + downstream-reindex pattern), tightened to one transaction.
  */
object Forget {

  final case class ForgetReport(
      corpusVersion: Long,
      participants: Seq[String],
      keysForgotten: Long,
      postingsDeleted: Long)

  /** The live participants among the text index `tix`, the ANN index
    * `aix` and their siblings, with each one's key column: the text
    * index keys on the cast `doc_id` postings column; the ANN index (and
    * its PQ codes sibling) keys on the id column its binding property
    * records. */
  private def siblings(tix: Path, aix: Path): Seq[(Path, String)] = {
    def live(p: Path): Boolean =
      Files.isDirectory(p.resolve("_graft_log")) && TxLog.versions(p).nonEmpty
    val pos = TextIndex.posDir(tix)
    val codes = AnnIndex.codesDir(aix)
    val annId = if (live(aix)) AnnIndex.boundIdCol(aix) else None
    (if (live(tix)) Seq((tix, "doc_id")) else Nil) ++
      (if (live(pos)) Seq((pos, "doc_id")) else Nil) ++
      annId.map(id => (aix, id)).toSeq ++
      (if (live(codes)) annId.map(id => (codes, id)).toSeq else Nil)
  }

  /** Erase `keys` (cast to the corpus key column) from the corpus AND
    * every keyed index sibling in one atomic transaction, the text
    * index's derived scalars settled in its commit. Idempotent under
    * redelivery: re-deleting already-DV'd keys is a no-op per table, and
    * the stats shrink is computed from what the keys still touched. */
  def forget(spark: SparkSession, base: Path, tableName: String,
      keys: DataFrame, keyCol: String): ForgetReport = {
    val corpus = base.resolve(tableName)
    require(Files.isDirectory(corpus.resolve("_graft_log")),
      s"no TxLog table '$tableName' under $base")
    // one deterministic key set feeds every participant
    val k = keys.select(col(keyCol)).distinct().localCheckpoint(true)
    val nKeys = k.count()
    val tix = base.resolve(s"${tableName}_text_ix")
    val parts = siblings(tix, base.resolve(s"${tableName}_ann_ix"))
    val ops: Seq[TxLog.TxnOp] =
      TxLog.TxnDeleteMor(corpus, k, keyCol) +:
        parts.map { case (table, idCol) =>
          val keyed = k.withColumnRenamed(keyCol, idCol)
          // the text index's probe carries each doc's length: its
          // commit shrinks the statistics by what the keys still held
          if (table == tix) TxLog.TxnDeleteMor(table, keyed, idCol, carry = Seq("dl"),
            props = TextIndex.deletedProps(tix))
          else TxLog.TxnDeleteMor(table, keyed, idCol)
        }
    val versions = TxLog.transact(spark, ops)
    // the docs the text index lost: its n_docs before and at its commit
    val textGone = versions.get(tix).fold(0L) { v =>
      TextIndex.corpusStats(tix, Some(v - 1))._1 - TextIndex.corpusStats(tix, Some(v))._1
    }
    ForgetReport(versions(corpus.toRealPath()),
      parts.map(_._1.getFileName.toString), nKeys, textGone)
  }
}

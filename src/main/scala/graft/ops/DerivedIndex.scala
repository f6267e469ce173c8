package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.col

/** The one INCREMENT path of every table derived from a TxLog corpus:
  * the text postings and their positional sibling ([[TextIndex]]), the
  * ANN assignments and their PQ codes ([[AnnIndex]]). A derived table's
  * source files ([[TxLog.sourcesAt]]) are its watermark, the corpus
  * files whose rows it holds. An increment is [[pending]], the caller's
  * own work (tokenize, assign, train, encode), then [[commit]]. A corpus
  * compaction re-presents old rows under new file names; the key
  * anti-join keeps them single, so an increment is idempotent under
  * redelivery and compaction-proof. One maintainer per table is assumed:
  * two racing increments could read the same watermark and index a file
  * twice. */
object DerivedIndex {

  /** What an index's `maintain` did: corpus rows newly indexed, the main
    * table's files and deletion-vector sidecars before and after its
    * re-cluster, and the dead files vacuumed across its tables. */
  final case class MaintainReport(rowsIndexed: Long, filesBefore: Long,
      filesAfter: Long, dvsBefore: Long, dvsAfter: Long, reclaimed: Long)

  /** A [[MaintainReport]] from the main table's snapshot `before` the
    * re-cluster and its head now. */
  private[ops] def report(rowsIndexed: Long, before: TxLog.Snapshot, table: Path,
      reclaimed: Long): MaintainReport = {
    val after = TxLog.snapshotAt(table)
    MaintainReport(rowsIndexed, before.files.size.toLong, after.files.size.toLong,
      before.files.count(_.dv.isDefined).toLong, after.files.count(_.dv.isDefined).toLong,
      reclaimed)
  }

  /** The BINDING guard. `args` are the properties a first commit records
    * (id column, cluster count, ...); a recorded key that differs is
    * refused by name, so an index never ingests under a second binding.
    * A built table that records none of them (a legacy log) gets them in
    * a data-less commit, which makes it maintainable. Returns whether
    * the table is built. */
  private[ops] def bind(table: Path, args: Map[String, String], call: String): Boolean = {
    val recorded = TxLog.propsAt(table)
    val differs = args.filter { case (k, v) => recorded.get(k).exists(_ != v) }
    require(differs.isEmpty,
      s"$table is bound to ${differs.keys.map(k => s"$k=${recorded(k)}").mkString(", ")}; " +
        s"$call called with ${differs.map { case (k, v) => s"$k=$v" }.mkString(", ")}")
    val built = TxLog.versions(table).nonEmpty
    if (built && !args.keys.exists(recorded.contains)) TxLog.setProps(table, args): Unit
    built
  }

  /** An increment: the corpus files it consumes, their new rows, and
    * whether the rows carry the anti-join. */
  private[ops] final case class Pending(names: Seq[String], rows: DataFrame,
      antiJoined: Boolean)

  /** The live corpus files `table`'s watermark lacks, read and mapped by
    * `project` onto columns that include `key`; None when there are none.
    * When `table` has live rows, the rows are anti-joined on `key`
    * against the keys it holds. The gate is the rows, not the watermark:
    * a table built before its names rode its commits has rows and no
    * source files, and its first increment re-presents every corpus
    * file. */
  private[ops] def pending(spark: SparkSession, corpus: Path, table: Path, key: String)(
      project: DataFrame => DataFrame): Option[Pending] = {
    val consumed = TxLog.sourcesAt(table)
    val files = TxLog.snapshotAt(corpus).files.filterNot(f => consumed(f.path))
    if (files.isEmpty) return None
    val rows = project(TxLog.readFiles(spark, corpus, files))
    val held = TxLog.versions(table).nonEmpty && TxLog.snapshotAt(table).files.nonEmpty
    Some(Pending(files.map(_.path),
      if (!held) rows
      else rows.join(TxLog.readAt(spark, table).select(col(key)).distinct(), Seq(key), "left_anti"),
      antiJoined = held))
  }

  /** Commit `inc`: with `rows` > 0, `write` publishes the rows given the
    * properties and the names; with none, one data-less commit of both,
    * so the watermark still advances. */
  private[ops] def commit(table: Path, inc: Pending, props: Map[String, String], rows: Long)(
      write: (Map[String, String], Seq[String]) => Unit): Unit =
    if (rows == 0) TxLog.setProps(table, props, inc.names): Unit
    else write(props, inc.names)

  /** A count observed during another pass. An all-anti-joined increment
    * can coalesce to a zero-partition plan under adaptive execution: no
    * task runs and the observed map is empty, which means zero rows. */
  private[ops] def observed(obs: Observation, name: String): Long =
    obs.get.get(name).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** Vacuum those of an index's `tables` that have a log; the files
    * reclaimed. */
  private[ops] def vacuum(tables: Seq[Path], keepVersions: Int, minAgeMs: Long): Long =
    tables.filter(t => TxLog.versions(t).nonEmpty).map(t =>
      TxLog.vacuum(t, keepVersions = math.max(1, keepVersions), minAgeMs = minAgeMs).size.toLong)
      .sum
}

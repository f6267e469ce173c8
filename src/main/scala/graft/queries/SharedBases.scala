package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.ops.TxLog

/** The query layer's one memo and one temp-dir registry.
  *
  * Several gates open with the IDENTICAL deterministic build — e.g.
  * tix01/tix04/tix06/sql24 all append the same two corpus halves and
  * run the same one-shot text-index build before their distinct phases
  * begin. Re-running that build once per gate (and once per bench pass)
  * measures the same bytes being recomputed, not the operator under
  * test. So every build shared by two or more gates goes through
  * [[memo]]: it runs ONCE per key per JVM (keys name the corpus dir),
  * and its wall time is charged to the family named by the key's
  * prefix before ':', which graft.Bench reports as `__family_<name>`.
  *
  *  - [[memo]] holds any shared artifact: a localCheckpointed frame
  *    (knn graph, PQ model, ER references), a count, or a FAMILY base
  *    directory ([[base]]).
  *  - [[tempDir]] is the one place a gate gets scratch space; one JVM
  *    shutdown hook deletes every dir it handed out.
  *
  * A FAMILY is a base directory holding the corpus table and every
  * sibling artifact under their canonical names (`tbl`, `tbl_text_ix`,
  * `tbl_text_ix_tstats`, ...), so sibling resolution and catalog
  * registration work identically on the canonical base and on any
  * clone. Read-only consumers (search/serve gates) read the canonical
  * tables directly; mutating consumers (delete/maintain/stream gates)
  * receive a fresh ZERO-COPY CLONE of the whole family ([[cloned]]:
  * TxLog.cloneTable hardlinks, no bytes move), so their commits,
  * compactions and vacuums touch only their own log and links.
  *
  * Nothing persists across JVMs: every bench/oracle invocation
  * recomputes the builds from the parquet inputs.
  */
private[graft] object SharedBases {

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val cleanupHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => tempDirs.forEach { p =>
      try TxLog.deleteTree(p) catch { case _: Throwable => () }
    }))

  /** A fresh temp dir under `prefix`, deleted at JVM exit. */
  def tempDir(prefix: String): Path = {
    cleanupHook
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  // The memo, the build-time accounting and the frame stack below are
  // all guarded by one lock, `memoized`'s monitor: builds run one at a
  // time, and a nested build runs on the thread that holds the lock.
  private val memoized =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  // Each shared build's wall-clock is recorded under its family name
  // so graft.Bench can emit it as its own `__family_<name>` entry: the
  // build cost does not escape the reported total via MIN-over-passes
  // (pass 1 of the first consumer pays it; its memo-hit rerun is the
  // MIN). Per-JVM, reset never: a family builds once per JVM.
  private val buildSecs = scala.collection.mutable.Map.empty[String, Double]
  private val frames = new java.util.ArrayDeque[Array[Double]]()

  /** Time `f` and account it to family `name` (the part of the key
    * before the first ':', so corpus dirs don't leak in).
    *
    * NESTING-AWARE: builds compose (ivfpq_full clones ivfpq_base, ab1
    * builds from ab0, erfull needs erstop). Each frame records its OWN
    * time (wall − nested children); a child's full wall is charged to
    * the parent's frame, so Σ __family_* equals the true combined
    * build wall-clock rather than counting a nested build in both
    * entries. */
  private def timedBuild[T](key: String)(f: => T): T = {
    frames.push(Array(0.0))
    val t0 = System.nanoTime()
    try f
    finally {
      val sec = (System.nanoTime() - t0) / 1e9
      val childSec = frames.pop()(0)
      if (!frames.isEmpty) frames.peek()(0) += sec
      val name = key.takeWhile(_ != ':')
      buildSecs(name) = buildSecs.getOrElse(name, 0.0) + math.max(0.0, sec - childSec)
    }
  }

  /** Seconds spent building each shared family this JVM (for Bench). */
  def familyBuildSeconds: Map[String, Double] =
    memoized.synchronized(buildSecs.toMap)

  /** The value for `key`, running `build` (timed under the key's family)
    * on first use. Builds may nest: one reentrant lock plus a
    * double-check, never `computeIfAbsent`, whose mapping function must
    * not touch the map. A build that throws stores nothing, so the next
    * call retries it. */
  def memo[T](key: String)(build: => T): T = {
    val hit = memoized.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else memoized.synchronized {
      val again = memoized.get(key)
      if (again != null) again.asInstanceOf[T]
      else {
        val v = timedBuild(key)(build)
        memoized.put(key, v.asInstanceOf[AnyRef])
        v
      }
    }
  }

  /** The canonical (never-mutated) family for `key`, built into a fresh
    * temp dir on first use. Callers must treat it as READ-ONLY. */
  def base(spark: SparkSession, key: String)(build: Path => Unit): Path =
    memo(key) { val b = tempDir("graft_shared"); build(b); b }

  /** A fresh zero-copy clone of a canonical family base: every TxLog
    * table under it is hardlink-cloned under the same name into a new
    * base dir. The clone diverges independently — mutating gates use
    * this. */
  def cloned(spark: SparkSession, src: Path): Path = {
    val dst = tempDir("graft_shared")
    cloneInto(spark, src, dst)
    dst
  }

  /** Hardlink-clone every TxLog table under `src` into `dst` under the
    * same names (family builds that extend another family use this). */
  def cloneInto(spark: SparkSession, src: Path, dst: Path): Unit = {
    val children = Files.list(src)
    try {
      import scala.jdk.CollectionConverters._
      children.iterator().asScala.toVector
        .filter(p => Files.isDirectory(p.resolve("_graft_log")))
        .sortBy(_.getFileName.toString)
        .foreach { t =>
          TxLog.cloneTable(spark, t, dst.resolve(t.getFileName.toString)): Unit
        }
    } finally children.close()
  }

  /** Multiset equality of two same-schema relations in ONE keyed pass:
    * group each side by all columns, full-outer join the per-row
    * multiplicities, and look for any mismatch. Equivalent to (and
    * replacing) the `a.exceptAll(b).count == 0 && b.exceptAll(a).count
    * == 0` idiom, which shuffles both inputs TWICE and runs two
    * actions; this shuffles each input once (guide §2.4).
    *
    * NULL-SAFE (optimization r17, VERDICT r16 item 6): the join keys use
    * `<=>` so rows whose key columns hold NULL still pair up — exactly
    * `exceptAll`'s semantics, where NULLs compare equal. A plain
    * `Seq(keys)` equi-join would leave a null-bearing row unmatched on
    * BOTH sides and flip the verdict to false. GROUP BY already treats
    * NULLs as one group, so only the join needed the null-safe form
    * (which Spark still plans as a hash/sort-merge join — EqualNullSafe
    * is a supported hash key — so the one-shuffle-per-input shape is
    * unchanged; MultisetEqualSpec pins both properties). */
  def multisetEqual(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    val keys = a.columns.toSeq
    val ga = a.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__ma")).as("__ga")
    val gb = b.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__mb")).as("__gb")
    val cond = keys.map(k => col(s"__ga.`$k`") <=> col(s"__gb.`$k`"))
      .reduce(_ && _)
    ga.join(gb, cond, "full_outer")
      .filter(coalesce(col("__ma"), lit(0L)) =!= coalesce(col("__mb"), lit(0L)))
      .isEmpty
  }

  /** Register the family base as a graft catalog and return the catalog
    * name — the per-gate `spark.sql.catalog.<cat>` registration every
    * CALL-driven gate already does, shared here so clones get it too. */
  def catalogFor(spark: SparkSession, baseDir: Path): String = {
    val cat = s"lake${math.abs(baseDir.hashCode().toLong)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", baseDir.toString)
    cat
  }
}

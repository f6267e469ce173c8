package graft.ops

import java.nio.file.Path

/** A bounded per-JVM cache of log metadata, keyed by a table's absolute
  * path plus a key within the table. Each entry keeps the stamp it was
  * stored with, and a read returns it only when the caller's check
  * accepts that stamp: a table deleted and re-created at the same path
  * reuses every key, so a key alone cannot tell the two incarnations
  * apart. A rejected entry is removed; past the bound the least recently
  * read entry is evicted. The lock covers map operations only: a stamp
  * check (a `stat`) and a value's computation run outside it.
  *
  * The instances (key within the table -> value; stamp; bound):
  *  - `TxLog.txnOutcomes`: marker path -> outcome; none, as the marker
  *    path ends in a fresh UUID and a decided outcome never changes;
  *    65 536.
  *  - `TxLog.nodeCache`: version -> txn-resolved commit; the commit.json
  *    (size, mtime); 200 000.
  *  - `TxLog.stateCache`: () -> the newest folded state, the base of the
  *    next fold; the commit stamp at the state's version; 1 024.
  *  - `TextIndex.dictCache` (on the dictionary table): (version, term) ->
  *    the term's dictionary rows; the commit stamp at that version;
  *    65 536. */
final class StampedCache[K, S, V](bound: Int) {
  private val entries =
    new java.util.LinkedHashMap[(Path, K), (S, V)](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(Path, K), (S, V)]): Boolean =
        size > bound
    }
  StampedCache.instances.add(this): Unit

  /** The value under (`table`, `key`) when `valid(stamp, value)` accepts
    * it; an entry it rejects is removed. */
  def get(table: Path, key: K)(valid: (S, V) => Boolean): Option[V] = {
    val k = (table.toAbsolutePath.normalize, key)
    val hit = entries.synchronized(entries.get(k))
    if (hit == null) None
    else if (valid(hit._1, hit._2)) Some(hit._2)
    else { entries.synchronized(if (entries.get(k) eq hit) entries.remove(k)); None }
  }

  def put(table: Path, key: K, stamp: S, value: V): Unit =
    entries.synchronized(entries.put((table.toAbsolutePath.normalize, key), (stamp, value))): Unit

  /** The value stored under (`table`, `key`) with `stamp`, else
    * `compute`'s, stored with `stamp`. */
  def getOrPut(table: Path, key: K, stamp: S)(compute: => V): V =
    get(table, key)((s, _) => s == stamp).getOrElse { val v = compute; put(table, key, stamp, v); v }
}

object StampedCache {
  private val instances = new java.util.concurrent.CopyOnWriteArrayList[StampedCache[_, _, _]]()

  /** Drop the entries of every instance whose table is `dir` or lies
    * under it, matching whole path components: `/a/t` drops `/a/t` and
    * `/a/t/x`, not `/a/t2`. */
  def dropUnder(dir: Path): Unit = {
    val d = dir.toAbsolutePath.normalize
    instances.forEach(c => c.entries.synchronized(c.entries.keySet.removeIf(_._1.startsWith(d))): Unit)
  }

  /** Test hook: empty every instance, so a spec reads the log cold. */
  private[ops] def clearAllForTest(): Unit =
    instances.forEach(c => c.entries.synchronized(c.entries.clear()))
}

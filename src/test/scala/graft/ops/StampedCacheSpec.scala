package graft.ops

import java.nio.file.{Path, Paths}
import java.util.UUID
import java.util.concurrent.{Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** The per-JVM metadata cache on its own: the entry bound with
  * least-recently-read eviction, the stamp check, component-wise
  * invalidation across every instance, and keys kept apart under
  * concurrent use. */
class StampedCacheSpec extends AnyFunSuite {

  /** A path of no table on disk, unique to the call. */
  private def root(): Path = Paths.get("/graft-stamped-cache-spec", UUID.randomUUID().toString)

  private def present[K](c: StampedCache[K, Unit, String], t: Path, keys: Seq[K]): Seq[K] =
    keys.filter(k => c.get(t, k)((_, _) => true).isDefined)

  test("the bound holds, and eviction drops the least recently read entry") {
    val (c, t) = (new StampedCache[Int, Unit, String](3), root())
    (1 to 100).foreach(i => c.put(t, i, (), s"v$i"))
    assert(present(c, t, 1 to 100) == Seq(98, 99, 100))
    assert(c.get(t, 98)((_, _) => true).contains("v98")) // 98 is now the most recent read
    c.put(t, 101, (), "v101")
    assert(present(c, t, 1 to 101) == Seq(98, 100, 101))
  }

  test("a stamp the check rejects misses and removes the entry") {
    val (c, t) = (new StampedCache[String, Long, String](8), root())
    c.put(t, "k", 1L, "old")
    assert(c.get(t, "k")((s, _) => s == 2L).isEmpty)
    assert(c.get(t, "k")((_, _) => true).isEmpty, "the rejected entry stayed")
    c.put(t, "k", 2L, "new")
    assert(c.get(t, "k")((s, _) => s == 2L).contains("new"))
  }

  test("dropUnder matches whole path components and reaches every instance") {
    val r = root()
    val tables = Seq(r.resolve("a/t"), r.resolve("a/t/x"), r.resolve("a/t2"), r.resolve("b"))
    val caches = Seq(new StampedCache[Int, Unit, String](16),
      new StampedCache[Int, Unit, String](16))
    for (c <- caches; t <- tables) c.put(t, 0, (), t.toString)
    StampedCache.dropUnder(r.resolve("a/t"))
    for (c <- caches)
      assert(tables.filter(t => present(c, t, Seq(0)).nonEmpty) == Seq(r.resolve("a/t2"), r.resolve("b")))
    // a path spelled with `.` and `..` names the same table
    StampedCache.dropUnder(r.resolve("a/./x/../t2"))
    for (c <- caches)
      assert(tables.filter(t => present(c, t, Seq(0)).nonEmpty) == Seq(r.resolve("b")))
  }

  test("four threads on one instance never read a value stored under another key") {
    val (c, t) = (new StampedCache[Int, Int, String](64), root())
    val pool = Executors.newFixedThreadPool(4)
    try {
      val work = (0 until 4).map { w =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            val rnd = new scala.util.Random(w)
            var wrong = 0
            (0 until 20000).foreach { _ =>
              val k = rnd.nextInt(200)
              c.get(t, k)((s, _) => s == k) match {
                case Some(v) => if (v != s"v$k") wrong += 1
                case None => c.put(t, k, k, s"v$k")
              }
            }
            wrong
          }
        })
      }
      assert(work.map(_.get(60, TimeUnit.SECONDS)).sum == 0)
    } finally pool.shutdownNow(): Unit
  }
}

package graft.queries

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.scalatest.funsuite.AnyFunSuite

/** Pins SharedBases' memo contract (nested builds run once and are
  * timed without double counting; a failed build is retried) and that
  * it is the only memo and shutdown hook in graft.queries. */
class SharedBasesSpec extends AnyFunSuite {

  private def fresh(name: String): String = s"spec_${name}_${UUID.randomUUID().toString.take(8)}"

  test("a nested build runs each build once and returns the stored value") {
    val (outerFam, innerFam) = (fresh("outer"), fresh("inner"))
    var (outerRuns, innerRuns) = (0, 0)
    def inner(): String = SharedBases.memo(s"$innerFam:x") {
      innerRuns += 1; Thread.sleep(200); "in"
    }
    def outer(): String = SharedBases.memo(s"$outerFam:x") {
      outerRuns += 1; Thread.sleep(100); inner() + "+out"
    }
    val t0 = System.nanoTime()
    val v = outer()
    val wall = (System.nanoTime() - t0) / 1e9
    assert(v == "in+out")
    assert(outer() eq v)
    assert(inner() == "in")
    assert((outerRuns, innerRuns) == ((1, 1)))

    // nesting-aware accounting: the inner build is charged once, to the
    // inner family, so the two entries sum to the outer's wall time
    val fam = SharedBases.familyBuildSeconds
    val (o, i) = (fam(outerFam), fam(innerFam))
    assert(i >= 0.2, fam)
    assert(o >= 0.1, fam)
    assert(o + i <= wall + 1e-6, s"outer $o + inner $i > wall $wall")
    assert(o + i >= wall - 0.05, s"outer $o + inner $i << wall $wall")
    assert(o <= wall - i + 1e-6, s"outer $o includes the inner build ($i of $wall)")
  }

  test("a build that throws stores nothing and is retried on the next call") {
    val (outerFam, innerFam) = (fresh("outer"), fresh("inner"))
    var (outerRuns, innerRuns) = (0, 0)
    var fail = true
    def inner(): Long = SharedBases.memo(s"$innerFam:x") {
      innerRuns += 1
      if (fail) throw new IllegalStateException("boom")
      42L
    }
    def outer(): Long = SharedBases.memo(s"$outerFam:x") { outerRuns += 1; inner() + 1 }
    intercept[IllegalStateException](outer())
    intercept[IllegalStateException](outer())
    assert((outerRuns, innerRuns) == ((2, 2)))
    fail = false
    assert(outer() == 43L)
    assert(outer() == 43L)
    assert(inner() == 42L)
    assert((outerRuns, innerRuns) == ((3, 3)))
  }

  test("SharedBases holds the query layer's only memo map and shutdown hook") {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get("src/main/scala/graft/queries")
    val listing = Files.list(dir)
    val sources = try listing.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toVector
    finally listing.close()
    assert(sources.size > 10, s"expected the query sources under $dir")
    val tokens = Seq("ConcurrentHashMap", "addShutdownHook")
    val found = for {
      f <- sources
      text = Files.readString(f)
      tok <- tokens
      n = tok.r.findAllMatchIn(text).size
      if n > 0
    } yield (f.getFileName.toString, tok, n)
    assert(found.toSet == tokens.map(t => ("SharedBases.scala", t, 1)).toSet)
  }
}

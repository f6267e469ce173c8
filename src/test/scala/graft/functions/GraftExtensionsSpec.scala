package graft.functions

import org.apache.spark.sql.SparkSession
import graft.SparkSpec

/** Both registration paths serve the one [[EngineFunctions]] table:
  * graft.GraftExtensions (session extension, applied at build and to
  * every newSession) injects every entry, and VectorFunctions.registerAll
  * adds the entries a session lacks. Each entry's builder checks its
  * arity on both paths. */
class GraftExtensionsSpec extends SparkSpec {

  private val allFunctions = EngineFunctions.all.map(_.name)

  private def missing(s: SparkSession): Seq[String] = EngineFunctions.all
    .filterNot(f => s.sessionState.functionRegistry.functionExists(f.id)).map(_.name)

  test("a fresh session resolves every engine function WITHOUT registerAll") {
    assert(allFunctions.distinct == allFunctions, "a name is declared twice")
    val fresh = spark.newSession() // extensions re-apply; registry starts clean
    assert(missing(fresh).isEmpty, s"extension-injected set is missing: ${missing(fresh)}")
    // and they evaluate, not just resolve
    assert(fresh.sql("SELECT size(shingle_hashes('abcdefghij', 8)) AS n")
      .head.getInt(0) == 3)
    assert(fresh.sql(
      "SELECT topk_pairs(CAST(id AS DOUBLE), id, 2)[0].id AS top FROM range(10)")
      .head.getLong(0) == 9L)
  }

  test("registerAll on an extension-carrying session is a harmless no-op") {
    val registry = spark.sessionState.functionRegistry
    def builders = EngineFunctions.all.map(f => registry.lookupFunctionBuilder(f.id))
    val before = builders
    VectorFunctions.registerAll(spark)
    assert(missing(spark).isEmpty, s"after registerAll, missing: ${missing(spark)}")
    assert(builders.zip(before).forall { case (a, b) => a.get eq b.get },
      "registerAll replaced an injected function")
  }

  test("a wrong-arity call fails naming the function, via the extension and via registerAll") {
    val viaExtension = spark.newSession()
    val viaRegisterAll = spark.newSession()
    EngineFunctions.all.foreach(f => viaRegisterAll.sessionState.functionRegistry.dropFunction(f.id))
    assert(missing(viaRegisterAll) == allFunctions)
    VectorFunctions.registerAll(viaRegisterAll)
    assert(missing(viaRegisterAll).isEmpty)
    for (s <- Seq(viaExtension, viaRegisterAll); f <- EngineFunctions.all;
         n <- Seq(f.arity - 1, f.arity + 1)) {
      val call = s"${f.name}(${Seq.fill(n)("1").mkString(", ")})"
      val e = intercept[IllegalArgumentException](s.sql(s"SELECT $call"))
      assert(e.getMessage.contains(f.name), s"$call: ${e.getMessage}")
    }
  }
}

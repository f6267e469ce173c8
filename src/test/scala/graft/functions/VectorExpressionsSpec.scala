package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class VectorExpressionsSpec extends SparkSpec {

  private def emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  private val declarativeCos =
    """aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)
      | / (sqrt(aggregate(a, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double)))
      |    * sqrt(aggregate(b, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))))"""
      .stripMargin.replaceAll("\n", "")

  test("vector_cosine is bit-identical to the declarative fold it replaces") {
    VectorFunctions.registerAll(spark)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("b")))
      .filter(col("ia") < col("ib")).limit(2000)
    val diff = pairs
      .select(expr("vector_cosine(a, b)").as("native"), expr(declarativeCos).as("declarative"))
      .filter(col("native") =!= col("declarative")) // exact double inequality
      .count()
    assert(diff == 0)
  }

  test("vector_dot evaluates correctly (interpreted + codegen paths)") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    assert(df.select(expr("vector_dot(a, b)")).head().getDouble(0) == 32.0)
    assert(df.select(expr("vector_cosine(a, a)")).head().getDouble(0) == 1.0)
    // zero vector -> 0.0, not NaN
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    assert(z.select(expr("vector_cosine(a, b)")).head().getDouble(0) == 0.0)
  }

  test("GraftExtensions registers both functions without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext) // would throw on a malformed FunctionDescription
  }

  test("null inputs propagate null") {
    VectorFunctions.registerAll(spark)
    val df = spark.sql("SELECT vector_cosine(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))")
    assert(df.head().isNullAt(0))
  }

  test("dimension mismatch and null elements yield NULL, not a truncated score (r2 VERDICT bug 3)") {
    VectorFunctions.registerAll(spark)
    // Mismatched lengths: the declarative zip_with chain nulls out; so must we.
    val mismatch = spark.sql(
      """SELECT vector_dot(array(1.0D, 2.0D, 3.0D), array(1.0D, 2.0D)) AS d,
        |       vector_cosine(array(1.0D, 2.0D, 3.0D), array(1.0D, 2.0D)) AS c""".stripMargin)
    val mrow = mismatch.head()
    assert(mrow.isNullAt(0) && mrow.isNullAt(1))
    // Null-holed embedding: poisoned fold -> NULL.
    val holed = spark.sql(
      """SELECT vector_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS d,
        |       vector_cosine(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS c""".stripMargin)
    val hrow = holed.head()
    assert(hrow.isNullAt(0) && hrow.isNullAt(1))
    // Parity with the declarative chain on those same malformed inputs:
    // aggregate over a null-holed product is NULL in Spark too.
    val declNull = spark.sql(
      """SELECT aggregate(zip_with(array(1.0D, 2.0D, 3.0D), array(1.0D, 2.0D), (x, y) -> x * y),
        |                 0.0D, (acc, v) -> acc + v)""".stripMargin)
    assert(declNull.head().isNullAt(0))
  }

  test("native kernel is faster than the declarative chain on a scoring loop") {
    VectorFunctions.registerAll(spark)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("b")))
    def time(c: String): Double = {
      val t0 = System.nanoTime()
      pairs.select(expr(c).as("v")).agg(sum("v")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    time("vector_cosine(a, b)") // warm both paths
    time(declarativeCos)
    val native = time("vector_cosine(a, b)")
    val declarative = time(declarativeCos)
    info(f"native $native%.2f s vs declarative $declarative%.2f s (250k pairs x 64 dims)")
    assert(native < declarative, s"native $native not faster than declarative $declarative")
  }
}

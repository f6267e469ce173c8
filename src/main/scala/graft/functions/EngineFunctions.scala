package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.IntegerType

/** The engine's SQL functions, declared once. `graft.GraftExtensions`
  * injects every entry at session build (`spark.sql.extensions`), and
  * [[VectorFunctions.registerAll]] registers the entries a session
  * lacks. Both paths share each entry's builder, so both check arity and
  * literal-int arguments the same way. */
object EngineFunctions {

  /** The arguments of one call, for an entry's constructor. */
  final class Args private[EngineFunctions] (name: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)

    /** Argument `i` as a literal int (a width or k). */
    def int(i: Int): Int = exprs(i) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$name argument ${i + 1} must be a literal int, got $other")
    }
  }

  final case class Entry(name: String, cls: Class[_], arity: Int, make: Args => Expression) {
    val id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
    val builder: Seq[Expression] => Expression = exprs => {
      if (exprs.length != arity) throw new IllegalArgumentException(
        s"$name takes $arity argument(s), got ${exprs.length}")
      make(new Args(name, exprs))
    }
  }

  val all: Seq[Entry] = Seq(
    Entry("vector_dot", classOf[DotProduct], 2, a => DotProduct(a(0), a(1))),
    Entry("vector_cosine", classOf[CosineSimilarity], 2, a => CosineSimilarity(a(0), a(1))),
    Entry("nearest_cid", classOf[NearestCid], 2, a => NearestCid(a(0), a(1))),
    Entry("simhash_bits", classOf[SimhashBits], 1, a => SimhashBits(a(0))),
    Entry("shingles", classOf[Shingles], 2, a => Shingles(a(0), a.int(1))),
    Entry("shingle_hashes", classOf[ShingleHashes], 2, a => ShingleHashes(a(0), a.int(1))),
    Entry("minhash_sig", classOf[MinhashSig], 2, a => MinhashSig(a(0), a.int(1))),
    Entry("gram_hashes", classOf[GramHashes], 2, a => GramHashes(a(0), a.int(1))),
    Entry("window_mins", classOf[WindowMins], 2, a => WindowMins(a(0), a.int(1))),
    Entry("heavy_hitters", classOf[HeavyHittersAgg], 2, a => HeavyHittersAgg(a(0), a.int(1))),
    Entry("kmv_distinct", classOf[KmvDistinctAgg], 2, a => KmvDistinctAgg(a(0), a.int(1))),
    Entry("topk_pairs", classOf[TopKAgg], 3, a => TopKAgg(a(0), a(1), a.int(2))),
    // Spark ships Bloom-filter expressions for its own runtime join
    // pruning but does not expose them in SQL; exposing them lets corpus
    // screens (cont02) build and probe a filter without UDFs or driver
    // state: bloom_agg(hash, n_items) -> binary, bloom_contains(bloom,
    // hash) -> boolean (the bloom side must be a constant or scalar
    // subquery).
    Entry("bloom_agg", classOf[BloomFilterAggregate], 2,
      a => new BloomFilterAggregate(a(0), a(1))),
    Entry("bloom_contains", classOf[BloomFilterMightContain], 2,
      a => BloomFilterMightContain(a(0), a(1))))
}

package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The engine's one session extension. `GraftSession` sets it at session
  * build, and `spark-submit --conf spark.sql.extensions=graft.GraftExtensions`
  * is the production path. It installs:
  *
  *  - every function of [[graft.functions.EngineFunctions]] (vector_dot,
  *    vector_cosine, simhash_bits, heavy_hitters, bloom_agg, ...), so
  *    SQL-only clients get the codegen'd kernels without a driver-side
  *    registerAll;
  *  - [[graft.catalog.ResolveDvSnapshots]]: the analyzer rule that
  *    serves deletion-vector-carrying TxLog snapshots through the SQL
  *    catalog by swapping the relation for the merge-on-read plan at
  *    analysis time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.EngineFunctions.all.foreach(f =>
      ext.injectFunction((f.id, f.info, f.builder)))
    ext.injectResolutionRule(graft.catalog.ResolveDvSnapshots.apply)
  }
}

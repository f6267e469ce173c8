package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-minded defaults. On a real
  * cluster the same settings apply; only master/memory change. */
object GraftSession {

  /** Local `file:` writes go through [[ForkFreeLocalFileSystem]]: Hadoop's
    * default forks a `chmod` per permission set (every mkdirs and every
    * file or `.crc` create) when libhadoop is absent, which made process
    * forks the largest fixed cost of a small sink write. `Verify` takes it
    * from here too, so tests, bench and oracle run on the same file
    * system. A `file:` FileSystem already cached in the JVM before the
    * session is built is reused as-is; build the session first. */
  val LocalFsConf: Map[String, String] =
    Map("spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName)

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // per-process unique: a fixed shared path collides across
      // concurrent runs/users (managed-table locations + test cleanup)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // analyzer rule serving DV-carrying TxLog snapshots through SQL
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(LocalFsConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Spark's default useV1SourceList reserves the name "avro" for the
    // (absent) spark-avro connector and would force our DSv2 Avro source
    // (graft.sources.AvroDataSource) through a V1 resolution path it
    // cannot satisfy; dropping it lets `format("avro")` resolve via the
    // ServiceLoader registration. Runtime conf -> applies to an already
    // -created session too (getOrCreate reuse).
    spark.conf.set("spark.sql.sources.useV1SourceList",
      "csv,json,kafka,orc,parquet,text")
    spark
  }
}

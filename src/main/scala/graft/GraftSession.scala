package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: tests, `Verify`, `Bench`, the dev
  * tools and the runners all build their session here, so they measure
  * the same engine. On a real cluster the same settings apply; only
  * master/memory change, and `spark.sql.extensions=graft.GraftExtensions`
  * is the one extension to set. */
object GraftSession {

  /** Task slots (and shuffle partitions) of `local()`: `SPARK_GRAFT_CPUS`
    * when set, else the machine's processor count. */
  private val DefaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = DefaultCores, shufflePartitions: Int = DefaultCores): SparkSession = {
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
      // function table + the analyzer rule serving DV-carrying TxLog
      // snapshots through SQL
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Local `file:` writes go through ForkFreeLocalFileSystem: Hadoop's
      // default forks a `chmod` per permission set (every mkdirs and every
      // file or `.crc` create) when libhadoop is absent, which made process
      // forks the largest fixed cost of a small sink write. A `file:`
      // FileSystem already cached in the JVM before the session is built
      // is reused as-is; build the session first.
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // frees the name "avro" for graft's DSv2 source; runtime conf, so it
    // also applies to a reused (getOrCreate) session
    graft.sources.AvroDataSource.enable(spark)
    // Every write task deserializes its job's Hadoop conf, whose ~1,100
    // default keys each ship their source file as a GZIP stream; base confs
    // without sources make every per-job copy small. Values are unchanged.
    org.apache.spark.sql.graft.HadoopConfShims.stripProvenance(spark)
    spark
  }
}

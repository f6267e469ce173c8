package graft.parsers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.domain.ParserConfig
import graft.ports.RecordParser

/** TXT scan (reference: src/infrastructure/parsers/txt_parser.rs:4-28):
  * each line becomes `{line_number: 1-based int, content: string}`.
  *
  * Line numbers are a projection over the scan, with no shuffle.
  * `spark.read.text` reads the file's byte-ordered splits as partitions
  * 0, 1, ..., and `monotonically_increasing_id()` is
  * `(partition << 33) + index in partition`, so subtracting
  * `spark_partition_id() << 33` leaves the line's index within its split.
  * The line number adds 1 and the number of lines in the splits before it.
  * A file that fits in one scan split (`DriverFile.fitsOneSplit`) has no
  * lines before its one split, so the sink's write is the only job. A
  * larger file first runs one job that counts the lines of every split
  * but the last, as `RDD.zipWithIndex` does.
  */
object TxtParser extends RecordParser {

  override def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame = {
    val lines = spark.read.text(path)
    val pid = spark_partition_id().cast(LongType)
    val indexInSplit = monotonically_increasing_id() - shiftleft(pid, 33)
    val before = if (DriverFile.fitsOneSplit(spark, path)) lit(0L) else linesBefore(spark, lines, pid)
    lines.select(
      (indexInSplit + before + 1).cast(IntegerType).as("line_number"),
      col("value").as("content"))
  }

  /** The number of lines in the splits before the row's own: one job over
    * every split but the last, none when there is one split. `coalesce`
    * only keeps `line_number` non-null, as the offsets cover every split. */
  private def linesBefore(spark: SparkSession, lines: DataFrame, pid: Column): Column = {
    val rdd = lines.queryExecution.toRdd
    val n = rdd.getNumPartitions
    val counts =
      if (n <= 1) Array.empty[Long]
      else spark.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => it.size.toLong, 0 until n - 1)
    coalesce(element_at(typedLit(counts.scanLeft(0L)(_ + _)), pid.cast(IntegerType) + 1), lit(0L))
  }
}

package graft.parsers

import java.io.InputStream

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{CodecStreams, FilePartition, PartitionDirectory}

/** One input file read on the driver as Spark's file scan reads it. Every
  * parser's `path` names one file (the pipeline and the archive parsers
  * pass one), so a drop's CSV header or JSON/XML schema comes from here,
  * with no Spark job before the scan that writes it. */
private[parsers] object DriverFile {

  /** The file's length and metadata, from the Hadoop file system. */
  def status(spark: SparkSession, path: String): FileStatus = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
  }

  /** True when a line-split scan (text, JSON lines) reads the file in one
    * split: it is no longer than `FilePartition.maxSplitBytes` computed for
    * this file alone. Spark then infers its schema in one task, and it is
    * read by one scan partition. Whole-file (multiLine) readers never split
    * a file, so they need no such bound. */
  def fitsOneSplit(spark: SparkSession, path: String): Boolean = {
    val st = status(spark, path)
    st.getLen <= FilePartition.maxSplitBytes(spark, Seq(PartitionDirectory(InternalRow.empty, Array(st))))
  }

  /** The file's bytes, decompressed by the codec its name selects, as
    * Spark's whole-file readers open it (`CodecStreams`). */
  def open(spark: SparkSession, path: String): InputStream =
    CodecStreams.createInputStream(spark.sparkContext.hadoopConfiguration, new Path(path))

  /** The lines of the file as Spark's text scan splits them (LF, CR or
    * CRLF; a leading UTF-8 BOM dropped; the codec from the file name).
    * Only the lines `f` pulls are read. The `Text` is reused from line
    * to line. */
  def withLines[T](spark: SparkSession, path: String)(f: Iterator[Text] => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = new LineRecordReader()
    try {
      reader.initialize(new FileSplit(new Path(path), 0, status(spark, path).getLen, Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      f(Iterator.continually(reader.nextKeyValue()).takeWhile(identity).map(_ => reader.getCurrentValue))
    } finally reader.close()
  }
}

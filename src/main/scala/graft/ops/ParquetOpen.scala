package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The one rule for opening a parquet file with parquet-mr on the
  * driver: its options come from the configuration the caller passes,
  * which the caller takes once per call, not once per file. parquet-mr's
  * convenience entry points (`ParquetFileReader.open(InputFile)`,
  * `ParquetReader.builder(support, path)`) build their options from a
  * fresh `new Configuration()`, which parses Hadoop's default XML (about
  * 1300 keys) on every open. The passed configuration also decides
  * decryption, as it does for Spark's own parquet scans. */
object ParquetOpen {

  private def options(conf: Configuration, path: Path) =
    HadoopReadOptions.builder(conf, path).build()

  /** A footer reader of `path`: row groups, column-chunk statistics,
    * schema. The caller closes it. */
  def footer(conf: Configuration, path: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf), options(conf, path))

  /** A record reader builder of `path` decoding through `support`; the
    * caller adds a filter before `build()`. */
  def records[T](conf: Configuration, path: Path, support: ReadSupport[T]): ParquetReader.Builder[T] =
    new ParquetReader.Builder[T](HadoopInputFile.fromPath(path, conf)) {
      override protected def getReadSupport: ReadSupport[T] = support
    }.withDecryption(options(conf, path).getDecryptionProperties)
}

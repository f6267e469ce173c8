package graft.parsers

import com.univocity.parsers.csv.{CsvParser => UnivocityParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.domain.ParserConfig
import graft.ports.RecordParser

/** CSV scan with the reference's semantics (reference:
  * src/infrastructure/parsers/csv_parser.rs:1-67):
  *   - every field is a STRING (no schema inference; csv_parser.rs:55);
  *   - headers come from the first row, or from `config.headers` (then the
  *     first row is data; csv_parser.rs:14-22);
  *   - when config headers are supplied and data rows are wider, the extra
  *     fields get fallback names `column_{i}` (csv_parser.rs:52-57);
  *   - ragged rows (width differing from the schema) are an error — the
  *     reference used the csv crate's strict mode (csv_parser.rs:22), here
  *     mode=FAILFAST;
  *   - `delimiter` from ParserConfig is honored (dead config in the
  *     reference, migration.js:9-12 — deliberate improvement).
  *
  * Scale note: Spark's CSV scan is splittable; a 1 TB file becomes ~8000
  * parallel tasks instead of one 1 TB buffer (the reference buffered whole
  * files in RAM, s3_adapter.rs:39-49).
  */
object CsvParser extends RecordParser {

  /** The schema comes from one line read on the driver, never from a Spark
    * job: a header (or `_c{i}` names) is Spark's header-inference result
    * for the first non-blank line, and the rule-header width is the field
    * count of the first physical line. Spark's own header inference and a
    * `limit(1)` probe each launched a job per file — a large part of a
    * small drop's wall time — just to read that line. The scan then runs
    * with the schema given, so it is the only job. */
  override def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame = {
    val delimiter = config.flatMap(_.delimiter).getOrElse(",")
    val customHeaders = config.flatMap(_.headers)
    val hasHeaders = config.flatMap(_.hasHeaders).getOrElse(customHeaders.isEmpty)
    val options = Map(
      "header" -> hasHeaders.toString, // headers supplied: first row is data unless told otherwise
      "delimiter" -> delimiter,
      "inferSchema" -> "false", // all-strings, matching csv_parser.rs:55
      "mode" -> "FAILFAST")

    val schema = customHeaders match {
      case Some(headers) =>
        // Width of the first line decides how many column_{i} overflow
        // names we need (FAILFAST rejects ragged rows anyway).
        val width = DriverFile.withLines(spark, path)(_.nextOption())
          .map(line => countFields(line.toString, delimiter)).getOrElse(0)
        val names = headers ++ (headers.size until width).map(i => s"column_$i")
        StructType(names.map(n => StructField(n, StringType, nullable = true)))
      case None =>
        // TextInputCSVDataSource.inferFromDataset with inferSchema=false:
        // the de-duplicated first row, or no columns for an empty file
        val csvOptions = new CSVOptions(options, columnPruning = true,
          spark.conf.get("spark.sql.session.timeZone"))
        val first = DriverFile.withLines(spark, path)(lines =>
          CSVUtils.filterCommentAndEmpty(lines.map(_.toString), csvOptions).nextOption())
        val header = first.flatMap(l => Option(new UnivocityParser(csvOptions.asParserSettings).parseLine(l)))
          .map(CSVUtils.makeSafeHeader(_, SQLConf.get.caseSensitiveAnalysis, csvOptions))
          .getOrElse(Array.empty[String])
        StructType(header.map(StructField(_, StringType, nullable = true)))
    }
    spark.read.options(options).schema(schema).csv(path)
  }

  /** RFC-4180 field count: delimiters inside double-quoted fields don't
    * split; `""` inside a quoted field is an escaped quote, not a close. */
  private[parsers] def countFields(line: String, delimiter: String): Int = {
    var count = 1
    var i = 0
    var inQuotes = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') i += 1 // escaped ""
          else inQuotes = false
        }
      } else {
        if (c == '"') inQuotes = true
        else if (line.startsWith(delimiter, i)) { count += 1; i += delimiter.length - 1 }
      }
      i += 1
    }
    count
  }
}

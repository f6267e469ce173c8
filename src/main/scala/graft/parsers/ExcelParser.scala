package graft.parsers

import java.io.{BufferedInputStream, FileInputStream}
import java.util.zip.ZipInputStream
import scala.collection.mutable
import scala.xml.XML
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.domain.ParserConfig
import graft.domain.IngestionError.ParseError
import graft.ports.RecordParser

/** XLSX scan (reference: src/infrastructure/parsers/excel_parser.rs:6-46):
  *   - the selected worksheet only (reference: first worksheet,
  *     worksheet_range_at(0) at excel_parser.rs:16; `sheetIndex` from
  *     ParserConfig is honored here — dead config in the reference);
  *   - row 1 = headers (excel_parser.rs:19-24); no header row -> empty;
  *   - every cell stringified (excel_parser.rs:33);
  *   - cells beyond the header width are DROPPED (excel_parser.rs:31-34) —
  *     note this differs from CSV's column_{i} overflow-keep rule;
  *   - only the XLSX zip container is supported (calamine Xlsx type,
  *     excel_parser.rs:9); a non-zip file is a ParseError.
  *
  * No Spark/POI Excel source exists in this environment, so the XLSX
  * container (a zip of sheet XML) is parsed directly. XLSX files are
  * bounded (spreadsheets, not data lakes), so a driver-side parse feeding
  * `createDataFrame` is the right scale trade-off; a DataSource V2 wrapper
  * can distribute many-files workloads later by moving this same routine
  * into partition readers.
  */
object ExcelParser extends RecordParser {

  override def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame = {
    val sheetIndex = config.flatMap(_.sheetIndex).getOrElse(0)
    val localPath = stripScheme(path)
    val rows = readSheet(localPath, sheetIndex)
    rows match {
      case Nil =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Nil))
      case headerRow :: dataRows =>
        val headers = headerRow
        val schema = StructType(headers.map(h => StructField(h, StringType, nullable = true)))
        val data = dataRows.map { r =>
          // truncate beyond header width; pad short rows with null
          val cells = r.take(headers.size).padTo(headers.size, null)
          Row.fromSeq(cells)
        }
        // one partition: a bounded sheet lands as one file, not one per core
        spark.createDataFrame(spark.sparkContext.parallelize(data, numSlices = 1), schema)
    }
  }

  private def stripScheme(path: String): String =
    if (path.startsWith("file:")) path.stripPrefix("file:") else path

  /** Reads one worksheet of an XLSX as rows of stringified cells.
    * Understands sharedStrings (t="s"), inline strings (t="inlineStr"),
    * and numeric/plain cells; trailing missing cells are absent (ragged). */
  private[graft] def readSheet(path: String, sheetIndex: Int): List[List[String]] = {
    // container sniff (round 14): a pre-2007 .xls is a CFB compound
    // file, not a zip — route it to the real BIFF8 reader instead of
    // failing with "not a zip" the way the reference's calamine Xlsx
    // type does (parser_adapter.rs:49-52). The magic is read, never
    // the extension: a mis-named drop still lands in the right parser.
    // readNBytes loops to the full 8 bytes (a bare read() may legally
    // return fewer even mid-file, mis-routing a valid .xls to the zip path)
    val fin = new FileInputStream(path)
    val head = try fin.readNBytes(8) finally fin.close()
    if (head.length >= 8 && BiffXls.looksLikeCfb(head))
      return BiffXls.readSheet(path, sheetIndex)
    var shared: Vector[String] = Vector.empty
    val sheets = mutable.SortedMap[String, Array[Byte]]()
    val zin = new ZipInputStream(new BufferedInputStream(new FileInputStream(path)))
    try {
      var entry = zin.getNextEntry
      if (entry == null) throw ParseError(s"not an XLSX (zip) container: $path")
      while (entry != null) {
        val name = entry.getName
        if (name == "xl/sharedStrings.xml" || name.matches("xl/worksheets/sheet\\d+\\.xml")) {
          val bytes = zin.readAllBytes()
          if (name == "xl/sharedStrings.xml")
            shared = parseSharedStrings(bytes)
          else sheets(name) = bytes
        }
        entry = zin.getNextEntry
      }
    } catch {
      case e: java.util.zip.ZipException => throw ParseError(s"not an XLSX (zip) container: $path", e)
      // a truncated zip stream surfaces as EOF/IO, same refusal class
      case e: java.io.IOException => throw ParseError(s"corrupt XLSX container: $path", e)
      // the JDK's ZipCoder throws IllegalArgumentException ("malformed
      // input") for entry names that aren't valid UTF-8 — same class
      case e: IllegalArgumentException => throw ParseError(s"corrupt XLSX container: $path", e)
    } finally zin.close()

    // sheet numbers are bounded (a crafted 'sheet99999999999999999.xml'
    // must refuse, not crash the integer sort key)
    val sheetKeys = sheets.keys.toVector.sortBy { n =>
      val digits = n.stripPrefix("xl/worksheets/sheet").stripSuffix(".xml")
      if (digits.length > 9) throw ParseError(s"implausible worksheet name $n")
      digits.toInt
    }
    if (sheetIndex >= sheetKeys.size)
      throw ParseError(s"worksheet $sheetIndex not found in $path (${sheetKeys.size} sheets)")
    parseSheetXml(sheets(sheetKeys(sheetIndex)), shared)
  }

  /** scala-xml's SAX errors are malformed-input refusals, not crashes. */
  private def loadXml(bytes: Array[Byte]): scala.xml.Elem =
    try XML.load(new java.io.ByteArrayInputStream(bytes))
    catch {
      case e: org.xml.sax.SAXException => throw ParseError("malformed XML inside XLSX", e)
      case e: java.io.IOException => throw ParseError("unreadable XML inside XLSX", e)
    }

  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val xml = loadXml(bytes)
    (xml \ "si").map(si => (si \\ "t").map(_.text).mkString).toVector
  }

  /** Excel's own column cap (XFD): a crafted reference like r="ZZZZZZ1"
    * must refuse instead of allocating a multi-gigabyte row. */
  private val MaxCol = 16383

  private def parseSheetXml(bytes: Array[Byte], shared: Vector[String]): List[List[String]] = {
    val xml = loadXml(bytes)
    (xml \ "sheetData" \ "row").map { row =>
      // The r= attribute is optional in OOXML: a cell without one sits
      // immediately after the previously placed cell (calamine reads such
      // cells positionally — reference excel_parser.rs:9).
      var lastIdx = -1
      val cells = (row \ "c").map { c =>
        val ref = (c \ "@r").text // e.g. "B3"
        val explicit = columnIndex(ref)
        val colIdx = if (explicit >= 0) explicit else lastIdx + 1
        if (colIdx > MaxCol)
          throw ParseError(s"cell reference '$ref' beyond Excel's column cap")
        lastIdx = colIdx
        val t = (c \ "@t").text
        val text = t match {
          case "s" =>
            val raw = (c \ "v").text.trim
            val i = try raw.toInt catch {
              case _: NumberFormatException =>
                throw ParseError(s"malformed sharedStrings index '$raw'")
            }
            if (i >= 0 && i < shared.size) shared(i) else ""
          case "inlineStr" => (c \ "is" \\ "t").map(_.text).mkString
          case _ => (c \ "v").text
        }
        colIdx -> stringifyNumeric(text, t)
      }
      // place cells at their column positions; gaps become empty strings
      if (cells.isEmpty) List.empty[String]
      else {
        val width = cells.map(_._1).max + 1
        val arr = Array.fill[String](width)("")
        cells.foreach { case (i, v) => arr(i) = v }
        arr.toList
      }
    }.toList
  }

  /** "B3" -> 1; missing ref -> -1 (caller then places the cell right
    * after the previously placed one). */
  private[graft] def columnIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    if (letters.isEmpty) -1
    else letters.foldLeft(0)((acc, ch) => acc * 26 + (ch.toUpper - 'A' + 1)) - 1
  }

  /** Excel stores 30 as "30" — keep integral numbers integral, matching
    * calamine's DataType::to_string (excel_parser.rs:33). */
  private def stringifyNumeric(text: String, cellType: String): String =
    if (cellType == "" || cellType == "n") {
      if (text.matches("-?\\d+\\.0+")) text.replaceAll("\\.0+$", "") else text
    } else text
}

package graft.parsers

import java.io.BufferedInputStream
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.IngestionError.ParseError
import graft.domain.ParserConfig
import graft.ports.RecordParser

/** ZIP ARCHIVE ingestion (beyond-reference, the container sibling of the
  * `.csv.gz` codec wrapper): lake drops routinely arrive as one zip of
  * many homogeneous data files. The archive is streamed ONCE on the
  * control plane (entry at a time, never whole-archive in memory), each
  * entry lands as a real scratch file, and the INNER parser's splittable
  * distributed scan takes over — the archive itself is the only
  * non-splittable hop, exactly the `.gz` boundary ParserDispatch already
  * documents, and the lake convention (many archives) is what scales.
  *
  * Refusal contracts, all instructive ParseErrors:
  *  - MIXED archives refuse: one file routes to ONE target table, so
  *    entries of different parser types have no single output schema;
  *  - ZIP-SLIP entries (`../`, absolute, drive-letter or backslash
  *    paths) refuse before any byte is written;
  *  - DEFLATE BOMBS refuse via per-entry and total extracted-byte caps
  *    and an entry-count cap (the zip format cannot pre-declare honest
  *    sizes — the local-header fields are attacker-controlled — so the
  *    caps meter actual decompressed bytes as they stream);
  *  - empty archives refuse (an event for an empty drop is an error,
  *    matching XmlParser's empty=error rule).
  *
  * Every row carries `source_entry` (the entry name inside the archive)
  * so per-entry lineage survives the union — the T3/T4 enrichment
  * discipline applied inside the container.
  *
  * The returned DataFrame reads the scratch files lazily, so they are
  * deleted at JVM exit: the dir and then each entry are registered with
  * `deleteOnExit`, which deletes in reverse order, entries before the dir.
  */
object ZipArchiveParser extends RecordParser {

  private val MaxEntries = 10000
  private val MaxEntryBytes = 256L * 1024 * 1024
  private val MaxTotalBytes = 1024L * 1024 * 1024

  private def fence(name: String): Unit = {
    if (name.contains("..") || name.startsWith("/") || name.contains("\\") ||
      name.matches("^[A-Za-z]:.*"))
      throw ParseError(s"zip entry escapes the archive root: $name")
  }

  def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scratch: Path = Files.createTempDirectory("graft_zip_scratch")
    scratch.toFile.deleteOnExit()
    val zin = new ZipInputStream(new BufferedInputStream(fs.open(hPath)))
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Path)]
    var totalBytes = 0L
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          fence(e.getName)
          if (entries.size >= MaxEntries)
            throw ParseError(s"zip archive exceeds $MaxEntries entries")
          // flatten the entry path; keep it unique and reversible enough
          // for scratch purposes (lineage uses the REAL name column)
          val flat = s"e${entries.size}-" + e.getName.replace('/', '_')
          val dst = scratch.resolve(flat)
          val out = Files.newOutputStream(dst)
          // registered after the dir, so deleted before it at exit
          dst.toFile.deleteOnExit()
          val buf = new Array[Byte](64 * 1024)
          var entryBytes = 0L
          try {
            var n = zin.read(buf)
            while (n > 0) {
              entryBytes += n
              totalBytes += n
              if (entryBytes > MaxEntryBytes)
                throw ParseError(s"zip entry ${e.getName} exceeds the " +
                  s"$MaxEntryBytes-byte extraction cap (deflate bomb?)")
              if (totalBytes > MaxTotalBytes)
                throw ParseError(s"zip archive exceeds the $MaxTotalBytes-byte " +
                  "total extraction cap (deflate bomb?)")
              out.write(buf, 0, n)
              n = zin.read(buf)
            }
          } finally out.close()
          entries += ((e.getName, dst))
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } catch {
      case pe: ParseError => throw pe
      case scala.util.control.NonFatal(ex) =>
        throw ParseError(s"corrupt zip archive: ${ex.getMessage}")
    } finally zin.close()
    if (entries.isEmpty) throw ParseError(s"zip archive has no file entries: $path")
    // homogeneity: one archive -> one target table -> one schema
    val parsers = entries.map { case (name, _) =>
      name -> ParserDispatch.parserForKey(name)
    }
    val distinctParsers = parsers.map(_._2).distinct
    if (distinctParsers.size > 1)
      throw ParseError("mixed-format zip archive: entries route to " +
        s"${distinctParsers.size} different parsers " +
        s"(${parsers.map(p => ParserDispatch.extractFileType(p._1)).distinct.sorted.mkString(", ")}); " +
        "one archive ingests into one table — split the drop")
    val parsed = entries.zip(parsers).map { case ((name, dst), (_, p)) =>
      name -> p.parse(spark, dst.toString, config).withColumn("source_entry", lit(name))
    }
    // one archive -> one table -> ONE schema: entries of the same format
    // whose parsed columns disagree (different CSV headers, divergent
    // JSON fields) refuse instructively rather than surfacing Spark's
    // analysis error from the union
    val headCols = parsed.head._2.columns.toSet
    parsed.find(_._2.columns.toSet != headCols).foreach { case (name, df) =>
      throw ParseError(s"zip entries disagree on schema: ${parsed.head._1} has " +
        s"[${headCols.toSeq.sorted.mkString(", ")}] but $name has " +
        s"[${df.columns.sorted.mkString(", ")}] — one archive ingests into one table")
    }
    try parsed.map(_._2).reduce(_ unionByName _)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw ParseError(s"zip entries are not union-compatible: ${e.getMessage}")
    }
  }
}

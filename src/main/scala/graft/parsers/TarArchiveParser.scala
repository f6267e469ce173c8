package graft.parsers

import java.io.{BufferedInputStream, InputStream}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.IngestionError.ParseError
import graft.domain.ParserConfig
import graft.ports.RecordParser

/** TAR / TAR.GZ ARCHIVE ingestion — the POSIX ustar layout is public
  * fixed-offset arithmetic (512-byte header blocks: name at 0/100,
  * octal size at 124/12, typeflag at 156, 512-byte-rounded data), so
  * the reader is hand-rolled like the XLSX zip walk — no archive
  * library. Same design and refusal contracts as [[ZipArchiveParser]]:
  * entry-at-a-time streaming to scratch, inner parsers' splittable
  * scans, per-entry `source_entry` lineage, and instructive refusals
  * for mixed formats, slip entries, bombs (the tar size field is
  * attacker-controlled — actual bytes are metered), and empty
  * archives. `.tar.gz`/`.tgz` stream through GZIPInputStream; the
  * archive is the one non-splittable hop either way.
  */
object TarArchiveParser extends RecordParser {

  private val MaxEntries = 10000
  private val MaxEntryBytes = 256L * 1024 * 1024
  private val MaxTotalBytes = 1024L * 1024 * 1024

  private def fence(name: String): Unit = {
    if (name.contains("..") || name.startsWith("/") || name.contains("\\") ||
      name.matches("^[A-Za-z]:.*"))
      throw ParseError(s"tar entry escapes the archive root: $name")
  }

  private def readFully(in: InputStream, buf: Array[Byte]): Boolean = {
    var off = 0
    while (off < buf.length) {
      val n = in.read(buf, off, buf.length - off)
      if (n < 0) return off == 0 // clean EOF only between blocks
      off += n
    }
    true
  }

  private def octal(b: Array[Byte], off: Int, len: Int, what: String): Long = {
    var i = off
    val end = off + len
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    var v = 0L
    var any = false
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = v * 8 + (b(i) - '0'); any = true; i += 1
      if (v > MaxTotalBytes * 8) throw ParseError(s"tar $what field out of range")
    }
    if (!any) throw ParseError(s"tar header has no octal $what")
    v
  }

  def parse(spark: SparkSession, path: String, config: Option[ParserConfig]): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lower = path.toLowerCase
    val raw: InputStream = new BufferedInputStream(fs.open(hPath))
    val in: InputStream =
      if (lower.endsWith(".tar.gz") || lower.endsWith(".tgz")) new GZIPInputStream(raw)
      else raw
    val scratch: Path = Files.createTempDirectory("graft_tar_scratch")
    scratch.toFile.deleteOnExit()
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Path)]
    var totalBytes = 0L
    val header = new Array[Byte](512)
    try {
      var done = false
      var zeroBlocks = 0
      while (!done) {
        if (!readFully(in, header)) done = true
        else if (header.forall(_ == 0)) {
          zeroBlocks += 1 // two consecutive zero blocks = end of archive
          if (zeroBlocks >= 2) done = true
        } else {
          zeroBlocks = 0
          val nameEnd = header.indexWhere(_ == 0)
          val name = new String(header, 0,
            if (nameEnd >= 0 && nameEnd <= 100) nameEnd else 100, "US-ASCII")
          val size = octal(header, 124, 12, "size")
          val typeflag = header(156)
          val isFile = typeflag == 0 || typeflag == '0'
          if (isFile && name.nonEmpty) {
            fence(name)
            if (entries.size >= MaxEntries)
              throw ParseError(s"tar archive exceeds $MaxEntries entries")
            if (size > MaxEntryBytes)
              throw ParseError(s"tar entry $name exceeds the " +
                s"$MaxEntryBytes-byte extraction cap (bomb?)")
            totalBytes += size
            if (totalBytes > MaxTotalBytes)
              throw ParseError(s"tar archive exceeds the $MaxTotalBytes-byte " +
                "total extraction cap (bomb?)")
            val flat = s"e${entries.size}-" + name.replace('/', '_')
            val dst = scratch.resolve(flat)
            val out = Files.newOutputStream(dst)
            // registered after the dir, so deleted before it at exit
            dst.toFile.deleteOnExit()
            val buf = new Array[Byte](64 * 1024)
            var left = size
            try {
              while (left > 0) {
                val n = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
                if (n < 0) throw ParseError(s"tar entry $name truncated " +
                  s"($left of $size bytes missing)")
                out.write(buf, 0, n)
                left -= n
              }
            } finally out.close()
            entries += ((name, dst))
          } else {
            // non-file entry (directory, link, pax header): skip payload
            var left = size
            val buf = new Array[Byte](64 * 1024)
            while (left > 0) {
              val n = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
              if (n < 0) throw ParseError("tar archive truncated mid-entry")
              left -= n
            }
          }
          // data is 512-byte-block padded
          val pad = ((512 - (size % 512)) % 512).toInt
          if (pad > 0) {
            val pbuf = new Array[Byte](pad)
            if (!readFully(in, pbuf))
              throw ParseError("tar archive truncated in block padding")
          }
        }
      }
    } catch {
      case pe: ParseError => throw pe
      case scala.util.control.NonFatal(ex) =>
        throw ParseError(s"corrupt tar archive: ${ex.getMessage}")
    } finally in.close()
    if (entries.isEmpty) throw ParseError(s"tar archive has no file entries: $path")
    val parsers = entries.map { case (name, _) =>
      name -> ParserDispatch.parserForKey(name)
    }
    val distinctParsers = parsers.map(_._2).distinct
    if (distinctParsers.size > 1)
      throw ParseError("mixed-format tar archive: entries route to " +
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
      throw ParseError(s"tar entries disagree on schema: ${parsed.head._1} has " +
        s"[${headCols.toSeq.sorted.mkString(", ")}] but $name has " +
        s"[${df.columns.sorted.mkString(", ")}] — one archive ingests into one table")
    }
    try parsed.map(_._2).reduce(_ unionByName _)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw ParseError(s"tar entries are not union-compatible: ${e.getMessage}")
    }
  }

  /** Deterministic ustar fixture writer (the FlacPcmEncoder discipline):
    * spec-correct headers — zero-padded name, octal size/mode, ustar
    * magic, space-seeded checksum — 512-block padding and the two
    * terminating zero blocks, optionally gzip-wrapped. */
  object TarFixtureWriter {
    def archive(entries: Seq[(String, Array[Byte])], gzip: Boolean): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val sink: java.io.OutputStream =
        if (gzip) new java.util.zip.GZIPOutputStream(out) else out
      entries.foreach { case (name, data) =>
        val h = new Array[Byte](512)
        val nb = name.getBytes("US-ASCII")
        require(nb.length <= 100, s"fixture entry name too long: $name")
        System.arraycopy(nb, 0, h, 0, nb.length)
        def oct(v: Long, off: Int, len: Int): Unit = {
          val s = s"%0${len - 1}o".format(v)
          System.arraycopy(s.getBytes("US-ASCII"), 0, h, off, len - 1)
          h(off + len - 1) = 0
        }
        oct(420, 100, 8)            // mode 0644
        oct(0, 108, 8); oct(0, 116, 8) // uid, gid
        oct(data.length.toLong, 124, 12)
        oct(0, 136, 12)             // mtime
        java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum seed
        h(156) = '0'                // typeflag: regular file
        System.arraycopy("ustar 00".getBytes("US-ASCII"), 0, h, 257, 8)
        val sum = h.foldLeft(0L)((a, b) => a + (b & 0xff))
        val cs = s"%06o".format(sum).getBytes("US-ASCII")
        System.arraycopy(cs, 0, h, 148, 6); h(154) = 0; h(155) = ' '
        sink.write(h)
        sink.write(data)
        val pad = (512 - (data.length % 512)) % 512
        if (pad > 0) sink.write(new Array[Byte](pad))
      }
      sink.write(new Array[Byte](1024)) // two zero blocks terminate
      sink.close()
      out.toByteArray
    }
  }
}

package graft.parsers

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.domain.IngestionError.ParseError

/** Legacy `.xls` (BIFF8-in-CFB) worksheet reader — the pre-2007 Excel
  * container the reference ADVERTISES but cannot read: its dispatch
  * routes `.xls` to calamine's `Xlsx<_>` type
  * (/root/reference/src/infrastructure/parser_adapter.rs:49-52,
  * excel_parser.rs:9), which fails on a real CFB file with a zip error.
  * The repo reads it for real (the hand-rolled XLSX-zip precedent,
  * round 14), same output contract as [[ExcelParser.readSheet]]: the
  * selected worksheet as rows of stringified cells.
  *
  * Two public formats compose here, both parsed from their
  * specifications alone:
  *  - CFB (MS-CFB): 512-byte header, DIFAT→FAT sector chains, the
  *    directory stream's 128-byte entries, and the mini-stream (FAT of
  *    64-byte mini sectors inside the root entry's chain) for streams
  *    under the 4096-byte cutoff;
  *  - BIFF8 (MS-XLS): the Workbook stream's [type u16][len u16] record
  *    framing; globals substream (SST shared strings with
  *    Continue-record splits that re-state the compression flag,
  *    BoundSheet8 sheet offsets), then per-sheet cell records
  *    (LabelSst, Label, Number, RK, MulRk, BoolErr, Formula with
  *    cached results).
  *
  * Every structural read is fenced (sector-chain cycle guards, record
  * and string length bounds, BIFF8's 256-column/64k-row grid) so a
  * malformed or truncated file refuses as ParseError — the audit-trail
  * class — instead of looping or allocating unboundedly. Numbers
  * stringify integral-valued doubles without the trailing ".0"
  * (calamine's display rule, which the XLSX path inherits from the
  * sheet XML's own literals).
  */
object BiffXls {

  private val CfbMagic = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)

  /** True iff the first bytes carry the CFB signature. */
  def looksLikeCfb(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && bytes.take(8).sameElements(CfbMagic)

  def readSheet(path: String, sheetIndex: Int): List[List[String]] = {
    val bytes =
      try Files.readAllBytes(Paths.get(path))
      catch { case e: java.io.IOException => throw ParseError(s"unreadable .xls: $path", e) }
    val wb = workbookStream(bytes, path)
    parseWorkbook(wb, sheetIndex, path)
  }

  // ------------------------------------------------------------- CFB layer

  private def u8(b: Array[Byte], off: Int): Int = {
    if (off < 0 || off >= b.length) throw ParseError(s"truncated CFB/BIFF structure (offset $off)")
    b(off) & 0xFF
  }
  private def u16(b: Array[Byte], off: Int): Int = u8(b, off) | (u8(b, off + 1) << 8)
  private def i32(b: Array[Byte], off: Int): Int =
    u16(b, off) | (u16(b, off + 2) << 16)
  private def u32(b: Array[Byte], off: Int): Long = i32(b, off) & 0xFFFFFFFFL

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF

  /** The Workbook/Book stream's bytes out of the CFB container. */
  private[parsers] def workbookStream(b: Array[Byte], path: String): Array[Byte] = {
    if (!looksLikeCfb(b))
      throw ParseError(s"not a BIFF8 .xls (missing CFB signature): $path")
    if (b.length < 512) throw ParseError(s"truncated CFB header: $path")
    val sectorShift = u16(b, 30)
    if (sectorShift < 7 || sectorShift > 12)
      throw ParseError(s"implausible CFB sector shift $sectorShift: $path")
    val sectorSize = 1 << sectorShift
    val maxSectors = b.length / sectorSize + 2 // cycle guard bound
    def sectorOff(sid: Int): Int = (sid + 1) * sectorSize

    // DIFAT: 109 header entries + optional DIFAT sector chain
    val nFat = u32(b, 44)
    if (nFat > maxSectors) throw ParseError(s"implausible CFB FAT count $nFat: $path")
    val difat = mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < 109 && difat.size < nFat) {
      val e = i32(b, 76 + i * 4)
      if (e != FreeSect) difat += e
      i += 1
    }
    var difatSid = i32(b, 68)
    var difatHops = 0
    while (difatSid != EndOfChain && difatSid != FreeSect && difat.size < nFat) {
      difatHops += 1
      if (difatHops > maxSectors) throw ParseError(s"CFB DIFAT chain cycle: $path")
      val off = sectorOff(difatSid)
      var j = 0
      while (j < sectorSize / 4 - 1 && difat.size < nFat) {
        val e = i32(b, off + j * 4)
        if (e != FreeSect) difat += e
        j += 1
      }
      difatSid = i32(b, off + sectorSize - 4)
    }

    // FAT: one Int per sector
    val fat = mutable.ArrayBuffer[Int]()
    difat.foreach { sid =>
      val off = sectorOff(sid)
      var j = 0
      while (j < sectorSize / 4) { fat += i32(b, off + j * 4); j += 1 }
    }
    def chain(start: Int): Vector[Int] = {
      val out = mutable.ArrayBuffer[Int]()
      var sid = start
      while (sid != EndOfChain && sid != FreeSect) {
        if (sid < 0 || sid >= fat.size || out.size > maxSectors)
          throw ParseError(s"broken CFB sector chain (sid $sid): $path")
        out += sid
        sid = fat(sid)
      }
      out.toVector
    }
    def readChain(start: Int, size: Long): Array[Byte] = {
      val sids = chain(start)
      val out = new Array[Byte](math.min(size, sids.size.toLong * sectorSize).toInt)
      var pos = 0
      sids.foreach { sid =>
        val n = math.min(sectorSize, out.length - pos)
        if (n > 0) {
          val off = sectorOff(sid)
          if (off + n > b.length) throw ParseError(s"CFB sector $sid past EOF: $path")
          System.arraycopy(b, off, out, pos, n)
          pos += n
        }
      }
      out
    }

    // directory entries, in chain order (no RB-tree walk needed to list)
    val dirBytes = readChain(i32(b, 48), Long.MaxValue / 2)
    val nEntries = dirBytes.length / 128
    case class Entry(name: String, objType: Int, startSector: Int, size: Long)
    val entries = (0 until nEntries).map { k =>
      val off = k * 128
      val nameLen = u16(dirBytes, off + 64) // bytes incl. terminator
      val name =
        if (nameLen < 2 || nameLen > 64) ""
        else new String(dirBytes, off, nameLen - 2, "UTF-16LE")
      Entry(name, u8(dirBytes, off + 66), i32(dirBytes, off + 116), u32(dirBytes, off + 120))
    }
    val root = entries.headOption.filter(_.objType == 5).getOrElse(
      throw ParseError(s"CFB directory missing root entry: $path"))
    val wb = entries.find(e => e.objType == 2 &&
        (e.name.equalsIgnoreCase("Workbook") || e.name.equalsIgnoreCase("Book")))
      .getOrElse(throw ParseError(
        s"no Workbook stream in .xls container (streams: ${entries.filter(_.objType == 2).map(_.name).mkString(", ")}): $path"))
    if (wb.size > b.length.toLong * 2)
      throw ParseError(s"implausible Workbook stream size ${wb.size}: $path")

    val miniCutoff = u32(b, 56)
    if (wb.size >= miniCutoff) readChain(wb.startSector, wb.size)
    else {
      // mini stream: 64-byte sectors inside the ROOT entry's chain,
      // chained by the miniFAT (itself an ordinary FAT-chained stream)
      val container = readChain(root.startSector, root.size)
      val miniFatBytes = readChain(i32(b, 60), u32(b, 64) * sectorSize)
      def miniFat(sid: Int): Int = {
        if (sid * 4 + 4 > miniFatBytes.length)
          throw ParseError(s"mini-FAT truncated (sid $sid): $path")
        i32(miniFatBytes, sid * 4)
      }
      val out = new Array[Byte](wb.size.toInt)
      var pos = 0
      var sid = wb.startSector
      var hops = 0
      while (pos < out.length) {
        if (sid == EndOfChain || sid == FreeSect || sid < 0)
          throw ParseError(s"mini-stream chain ends before stream size: $path")
        hops += 1
        if (hops > container.length / 64 + 2)
          throw ParseError(s"mini-stream chain cycle: $path")
        val off = sid * 64
        val n = math.min(64, out.length - pos)
        if (off + n > container.length)
          throw ParseError(s"mini sector $sid past mini-stream end: $path")
        System.arraycopy(container, off, out, pos, n)
        pos += n
        sid = miniFat(sid)
      }
      out
    }
  }

  // ------------------------------------------------------------ BIFF layer

  private val RecBof = 0x0809
  private val RecEof = 0x000A
  private val RecSst = 0x00FC
  private val RecContinue = 0x003C
  private val RecBoundSheet = 0x0085
  private val RecLabelSst = 0x00FD
  private val RecLabel = 0x0204
  private val RecNumber = 0x0203
  private val RecRk = 0x027E
  private val RecMulRk = 0x00BD
  private val RecBoolErr = 0x0205
  private val RecFormula = 0x0006
  private val RecString = 0x0207

  private case class Rec(typ: Int, off: Int, len: Int)

  /** One record at `pos`, length-fenced to the 8224-byte BIFF cap. */
  private def recAt(b: Array[Byte], pos: Int, path: String): Rec = {
    val typ = u16(b, pos); val len = u16(b, pos + 2)
    if (len > 8224) throw ParseError(s"BIFF record 0x${typ.toHexString} len $len > 8224: $path")
    if (pos + 4 + len > b.length) throw ParseError(s"truncated BIFF record at $pos: $path")
    Rec(typ, pos + 4, len)
  }

  /** Cursor over a record's data plus its Continue extensions — SST
    * strings span record boundaries, and each boundary re-states the
    * string's compression flag. */
  private final class Cursor(b: Array[Byte], segs: Vector[Rec], path: String) {
    private var seg = 0
    private var pos = 0
    private def ensure(): Unit = {
      var guard = 0
      while (pos >= segs(seg).len && seg + 1 < segs.size) {
        seg += 1; pos = 0
        guard += 1
        if (guard > segs.size) throw ParseError(s"SST continue walk stuck: $path")
      }
      if (pos >= segs(seg).len) throw ParseError(s"SST data exhausted mid-structure: $path")
    }
    def u8c(): Int = { ensure(); val v = u8(b, segs(seg).off + pos); pos += 1; v }
    def u16c(): Int = u8c() | (u8c() << 8)
    def u32c(): Long = (u16c() | (u16c().toLong << 16)) & 0xFFFFFFFFL
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        ensure()
        val take = math.min(left, (segs(seg).len - pos).toLong).toInt
        pos += take; left -= take
      }
    }
    /** cch chars of an XLUnicodeRichExtendedString body: compressed
      * (1 byte/char) or UTF-16LE per the current flag, the flag
      * RE-READ at each Continue boundary (MS-XLS 2.5.293). */
    def chars(cch: Int, highByte0: Boolean): String = {
      val sb = new StringBuilder(cch)
      var high = highByte0
      var left = cch
      while (left > 0) {
        if (pos >= segs(seg).len) { // crossing into a Continue
          ensure()
          high = (u8c() & 0x01) != 0
        }
        if (high) sb.append((u8c() | (u8c() << 8)).toChar)
        else sb.append(u8c().toChar)
        left -= 1
      }
      sb.toString
    }
  }

  private def fmtNum(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15 && !d.isNaN) d.toLong.toString
    else d.toString

  private def rkValue(rk: Long): Double = {
    val div100 = (rk & 0x1L) != 0
    val isInt = (rk & 0x2L) != 0
    val v =
      if (isInt) (rk.toInt >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    if (div100) v / 100.0 else v
  }

  private[parsers] def parseWorkbook(wb: Array[Byte], sheetIndex: Int, path: String): List[List[String]] = {
    if (wb.length < 8 || u16(wb, 0) != RecBof)
      throw ParseError(s"Workbook stream does not start with BOF: $path")
    // ---- globals substream: SST + BoundSheet8 positions
    var sst = Vector.empty[String]
    val sheets = mutable.ArrayBuffer[(Long, String)]() // (stream offset, name)
    var pos = 0
    var done = false
    while (!done && pos + 4 <= wb.length) {
      val r = recAt(wb, pos, path)
      var next = r.off + r.len
      r.typ match {
        case RecEof => done = true
        case RecBoundSheet =>
          val lbPlyPos = u32(wb, r.off)
          val cch = u8(wb, r.off + 6)
          val flags = u8(wb, r.off + 7)
          val name =
            if ((flags & 0x01) != 0) new String(wb, r.off + 8, cch * 2, "UTF-16LE")
            else new String(wb, r.off + 8, cch, "ISO-8859-1")
          sheets += ((lbPlyPos, name))
        case RecSst =>
          // gather this record + trailing Continues as one cursor
          val segs = mutable.ArrayBuffer(r)
          var p2 = next
          var more = true
          while (more && p2 + 4 <= wb.length) {
            val c = recAt(wb, p2, path)
            if (c.typ == RecContinue) { segs += c; p2 = c.off + c.len }
            else more = false
          }
          next = p2
          val cur = new Cursor(wb, segs.toVector, path)
          cur.skip(4) // cstTotal
          val unique = cur.u32c()
          if (unique > 10000000L)
            throw ParseError(s"implausible SST string count $unique: $path")
          val out = mutable.ArrayBuffer[String]()
          var k = 0L
          while (k < unique) {
            // a string never STARTS split across a boundary mid-header;
            // align the cursor if the previous string ended exactly at one
            val cch = cur.u16c()
            if (cch > 32767) throw ParseError(s"implausible SST string length $cch: $path")
            val flags = cur.u8c()
            val cRun = if ((flags & 0x08) != 0) cur.u16c() else 0
            val cbExt = if ((flags & 0x04) != 0) cur.u32c() else 0L
            out += cur.chars(cch, (flags & 0x01) != 0)
            cur.skip(cRun.toLong * 4)
            cur.skip(cbExt)
            k += 1
          }
          sst = out.toVector
        case _ => ()
      }
      pos = next
    }
    if (sheetIndex >= sheets.size)
      throw ParseError(s"worksheet $sheetIndex not found in $path (${sheets.size} sheets)")

    // ---- worksheet substream
    val start = sheets(sheetIndex)._1
    if (start < 0 || start + 4 > wb.length)
      throw ParseError(s"BoundSheet offset $start past Workbook stream end: $path")
    if (u16(wb, start.toInt) != RecBof)
      throw ParseError(s"worksheet substream at $start does not start with BOF: $path")
    val cells = mutable.SortedMap[(Int, Int), String]() // (row, col) -> value
    def put(rw: Int, col: Int, v: String): Unit = {
      if (rw > 65535 || col > 255)
        throw ParseError(s"cell ($rw,$col) outside the BIFF8 grid: $path")
      cells((rw, col)) = v
    }
    pos = start.toInt
    done = false
    while (!done && pos + 4 <= wb.length) {
      val r = recAt(wb, pos, path)
      var next = r.off + r.len
      r.typ match {
        case RecEof => done = true
        case RecLabelSst =>
          val isst = u32(wb, r.off + 6)
          if (isst >= sst.size)
            throw ParseError(s"LabelSst index $isst >= SST size ${sst.size}: $path")
          put(u16(wb, r.off), u16(wb, r.off + 2), sst(isst.toInt))
        case RecLabel =>
          val cch = u16(wb, r.off + 6)
          val flags = u8(wb, r.off + 8)
          val s =
            if ((flags & 0x01) != 0) new String(wb, r.off + 9, cch * 2, "UTF-16LE")
            else new String(wb, r.off + 9, cch, "ISO-8859-1")
          put(u16(wb, r.off), u16(wb, r.off + 2), s)
        case RecNumber =>
          val bits = u32(wb, r.off + 6) | (u32(wb, r.off + 10) << 32)
          put(u16(wb, r.off), u16(wb, r.off + 2),
            fmtNum(java.lang.Double.longBitsToDouble(bits)))
        case RecRk =>
          put(u16(wb, r.off), u16(wb, r.off + 2), fmtNum(rkValue(u32(wb, r.off + 6))))
        case RecMulRk =>
          val rw = u16(wb, r.off)
          val colFirst = u16(wb, r.off + 2)
          val n = (r.len - 6) / 6
          (0 until n).foreach { j =>
            put(rw, colFirst + j, fmtNum(rkValue(u32(wb, r.off + 4 + j * 6 + 2))))
          }
        case RecBoolErr =>
          if (u8(wb, r.off + 7) == 0) // bool (error cells stay absent)
            put(u16(wb, r.off), u16(wb, r.off + 2),
              if (u8(wb, r.off + 6) != 0) "true" else "false")
        case RecFormula =>
          val rw = u16(wb, r.off); val col = u16(wb, r.off + 2)
          if (u16(wb, r.off + 12) == 0xFFFF) u8(wb, r.off + 6) match {
            case 0 => // cached string in the FOLLOWING String record
              val s = recAt(wb, next, path)
              if (s.typ == RecString) {
                val cch = u16(wb, s.off)
                val flags = u8(wb, s.off + 2)
                val v =
                  if ((flags & 0x01) != 0) new String(wb, s.off + 3, cch * 2, "UTF-16LE")
                  else new String(wb, s.off + 3, cch, "ISO-8859-1")
                put(rw, col, v)
                next = s.off + s.len
              }
            case 1 => put(rw, col, if (u8(wb, r.off + 8) != 0) "true" else "false")
            case _ => () // error / blank cached results stay absent
          } else {
            val bits = u32(wb, r.off + 6) | (u32(wb, r.off + 10) << 32)
            put(rw, col, fmtNum(java.lang.Double.longBitsToDouble(bits)))
          }
        case _ => ()
      }
      pos = next
    }

    // rows present in the sheet, ragged to each row's last cell, interior
    // gaps null — the XLSX readSheet shape
    cells.keys.map(_._1).toVector.distinct.sorted.map { rw =>
      val rowCells = cells.rangeFrom((rw, 0)).takeWhile(_._1._1 == rw).toMap
      val maxCol = rowCells.keys.map(_._2).max
      List.tabulate(maxCol + 1)(c => rowCells.getOrElse((rw, c), null))
    }.toList
  }

  // --------------------------------------------------------- encode half

  /** Minimal BIFF8 .xls writer — the encode twin the decode tests and
    * the ing26 fixture need (the FlacPcm/Avi discipline: a real encoder
    * exercises the real decoder, no golden bytes checked in). One
    * sheet; cells typed by the Scala value: String → SST + LabelSst,
    * Double → Number, Int/Long → RK(integer), Boolean → BoolErr. The
    * container uses the spec's own layout rule: streams under the
    * 4096-byte cutoff go through the mini stream, larger ones through
    * regular FAT chains — so both reader paths stay exercised. */
  def writeXls(path: java.nio.file.Path, rows: Seq[Seq[Any]]): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    // records buffer their body first to learn its length; the b*
    // writers target whichever buffer is the current record body
    var sink: java.io.ByteArrayOutputStream = out
    def b8(v: Int): Unit = sink.write(v & 0xFF)
    def b16(v: Int): Unit = { b8(v); b8(v >> 8) }
    def b32(v: Long): Unit = { b16(v.toInt); b16((v >> 16).toInt) }
    def rec(typ: Int)(body: => Unit): Unit = {
      val tmp = new java.io.ByteArrayOutputStream()
      val prev = sink
      sink = tmp
      try body finally sink = prev
      // BIFF8 caps a record body at 8224 bytes (larger payloads need
      // Continue records, which this fixture writer does not emit) —
      // fail loudly instead of wrapping the u16 length into a corrupt file
      require(tmp.size() <= 8224,
        s"BIFF8 record 0x${typ.toHexString} body ${tmp.size()} bytes exceeds the " +
          "8224-byte record cap; writeXls does not split Continue records")
      b16(typ); b16(tmp.size()); tmp.writeTo(out)
    }

    val strings = rows.flatten.collect { case s: String => s }.distinct.toVector
    val strIdx = strings.zipWithIndex.toMap
    val nRefs = rows.flatten.count(_.isInstanceOf[String])

    // ---- globals substream (BoundSheet offset patched afterwards)
    rec(RecBof) { b16(0x0600); b16(0x0005); b16(0); b16(0); b32(0); b32(0) }
    val boundSheetPatch = out.size() + 4 // lbPlyPos field position
    rec(RecBoundSheet) {
      b32(0) // patched
      b16(0)
      b8(6); b8(0); "Sheet1".foreach(c => b8(c))
    }
    rec(RecSst) {
      b32(nRefs.toLong); b32(strings.size.toLong)
      strings.foreach { s =>
        val high = s.exists(_ > 0xFF)
        b16(s.length); b8(if (high) 1 else 0)
        if (high) s.foreach(c => b16(c))
        else s.foreach(c => b8(c))
      }
    }
    rec(RecEof) {}
    // ---- worksheet substream
    val sheetStart = out.size()
    rec(RecBof) { b16(0x0600); b16(0x0010); b16(0); b16(0); b32(0); b32(0) }
    rows.zipWithIndex.foreach { case (cells, r) =>
      cells.zipWithIndex.foreach { case (v, c) =>
        v match {
          case s: String =>
            rec(RecLabelSst) { b16(r); b16(c); b16(0); b32(strIdx(s).toLong) }
          case d: Double =>
            rec(RecNumber) {
              b16(r); b16(c); b16(0)
              val bits = java.lang.Double.doubleToLongBits(d)
              b32(bits & 0xFFFFFFFFL); b32(bits >>> 32)
            }
          // RK integers carry a SIGNED 30-bit payload — anything wider
          // wraps silently, so out-of-range ints fall back to a full
          // Number record (IEEE double is exact for all Int and for
          // Long magnitudes up to 2^53; wider Longs are refused)
          case n: Int if n >= -(1 << 29) && n < (1 << 29) =>
            rec(RecRk) { b16(r); b16(c); b16(0); b32(((n.toLong << 2) | 0x2L) & 0xFFFFFFFFL) }
          case n: Long if n >= -(1L << 29) && n < (1L << 29) =>
            rec(RecRk) { b16(r); b16(c); b16(0); b32(((n << 2) | 0x2L) & 0xFFFFFFFFL) }
          case n: Int =>
            rec(RecNumber) {
              b16(r); b16(c); b16(0)
              val bits = java.lang.Double.doubleToLongBits(n.toDouble)
              b32(bits & 0xFFFFFFFFL); b32(bits >>> 32)
            }
          case n: Long =>
            require(math.abs(n) <= (1L << 53),
              s"Long cell $n exceeds IEEE-double exactness (2^53); refusing a lossy write")
            rec(RecNumber) {
              b16(r); b16(c); b16(0)
              val bits = java.lang.Double.doubleToLongBits(n.toDouble)
              b32(bits & 0xFFFFFFFFL); b32(bits >>> 32)
            }
          case bl: Boolean => rec(RecBoolErr) { b16(r); b16(c); b16(0); b8(if (bl) 1 else 0); b8(0) }
          case null => ()
          case other => throw new IllegalArgumentException(s"unsupported cell type: $other")
        }
      }
    }
    rec(RecEof) {}
    val wb = out.toByteArray
    // patch the BoundSheet8 stream offset
    wb(boundSheetPatch) = (sheetStart & 0xFF).toByte
    wb(boundSheetPatch + 1) = ((sheetStart >> 8) & 0xFF).toByte
    wb(boundSheetPatch + 2) = ((sheetStart >> 16) & 0xFF).toByte
    wb(boundSheetPatch + 3) = ((sheetStart >> 24) & 0xFF).toByte
    Files.write(path, cfbContainer(wb))
  }

  /** Wrap one "Workbook" stream in a v3 CFB container (512-byte
    * sectors): FAT sector + directory sector + miniFAT sector + data
    * sectors, the stream routed through the mini stream iff it is
    * under the 4096-byte cutoff — MS-CFB's own rule. */
  private[parsers] def cfbContainer(wb: Array[Byte]): Array[Byte] = {
    val sectorSize = 512
    val useMini = wb.length < 4096
    def pad(b: Array[Byte], n: Int): Array[Byte] =
      if (b.length >= n) b.take(n) else b ++ new Array[Byte](n - b.length)

    // data payload: mini-stream container sectors, or direct sectors
    val (dataSectors, rootStart, rootSize, wbStart, miniFat) =
      if (useMini) {
        val nMini = (wb.length + 63) / 64
        val container = pad(wb, nMini * 64)
        val sectors = container.grouped(sectorSize).map(pad(_, sectorSize)).toVector
        val mf = new java.io.ByteArrayOutputStream()
        (0 until nMini).foreach { i =>
          val next = if (i == nMini - 1) EndOfChain else i + 1
          mf.write(next & 0xFF); mf.write((next >> 8) & 0xFF)
          mf.write((next >> 16) & 0xFF); mf.write((next >> 24) & 0xFF)
        }
        (sectors, 3, nMini * 64, 0, pad(mf.toByteArray, sectorSize))
      } else {
        val sectors = wb.grouped(sectorSize).map(pad(_, sectorSize)).toVector
        (sectors, EndOfChain, 0, 3, pad(Array.emptyByteArray, sectorSize))
      }

    // directory: Root Entry + Workbook (sector 1)
    val dir = new Array[Byte](sectorSize)
    def dirEntry(slot: Int, name: String, objType: Int, child: Int,
        start: Int, size: Long): Unit = {
      val off = slot * 128
      name.zipWithIndex.foreach { case (c, i) =>
        dir(off + i * 2) = (c & 0xFF).toByte; dir(off + i * 2 + 1) = ((c >> 8) & 0xFF).toByte
      }
      val nl = (name.length + 1) * 2
      dir(off + 64) = (nl & 0xFF).toByte; dir(off + 65) = ((nl >> 8) & 0xFF).toByte
      dir(off + 66) = objType.toByte; dir(off + 67) = 1 // black
      def put32(o: Int, v: Long): Unit = (0 until 4).foreach(i => dir(o + i) = ((v >> (8 * i)) & 0xFF).toByte)
      put32(off + 68, 0xFFFFFFFFL); put32(off + 72, 0xFFFFFFFFL) // siblings
      put32(off + 76, child.toLong & 0xFFFFFFFFL)
      put32(off + 116, start.toLong & 0xFFFFFFFFL)
      put32(off + 120, size)
    }
    dirEntry(0, "Root Entry", 5, 1, rootStart, rootSize.toLong)
    dirEntry(1, "Workbook", 2, -1, wbStart, wb.length.toLong)
    // mark the two unused slots free (objType 0 already by zeroing)

    // FAT (sector 0): s0=FATSECT, s1=dir end, s2=miniFAT end, s3.. data chain
    val nData = dataSectors.size
    val fat = new Array[Byte](sectorSize)
    def fput(sid: Int, v: Long): Unit =
      (0 until 4).foreach(i => fat(sid * 4 + i) = ((v >> (8 * i)) & 0xFF).toByte)
    (0 until sectorSize / 4).foreach(s => fput(s, FreeSect.toLong & 0xFFFFFFFFL))
    fput(0, 0xFFFFFFFDL) // FATSECT
    fput(1, EndOfChain.toLong & 0xFFFFFFFFL)
    fput(2, EndOfChain.toLong & 0xFFFFFFFFL)
    (0 until nData).foreach { i =>
      fput(3 + i, if (i == nData - 1) EndOfChain.toLong & 0xFFFFFFFFL else (4 + i).toLong)
    }

    // header
    val hdr = new Array[Byte](sectorSize)
    System.arraycopy(CfbMagic, 0, hdr, 0, 8)
    def h16(o: Int, v: Int): Unit = { hdr(o) = (v & 0xFF).toByte; hdr(o + 1) = ((v >> 8) & 0xFF).toByte }
    def h32(o: Int, v: Long): Unit = (0 until 4).foreach(i => hdr(o + i) = ((v >> (8 * i)) & 0xFF).toByte)
    h16(24, 0x003E); h16(26, 0x0003); h16(28, 0xFFFE)
    h16(30, 9); h16(32, 6)
    h32(44, 1L) // one FAT sector
    h32(48, 1L) // first directory sector
    h32(56, 4096L) // mini cutoff
    h32(60, if (useMini) 2L else EndOfChain.toLong & 0xFFFFFFFFL)
    h32(64, if (useMini) 1L else 0L)
    h32(68, EndOfChain.toLong & 0xFFFFFFFFL) // no DIFAT chain
    h32(72, 0L)
    h32(76, 0L) // DIFAT[0] = FAT sector 0
    (1 until 109).foreach(i => h32(76 + i * 4, FreeSect.toLong & 0xFFFFFFFFL))

    val file = new java.io.ByteArrayOutputStream()
    file.write(hdr); file.write(fat); file.write(dir); file.write(miniFat)
    dataSectors.foreach(file.write)
    file.toByteArray
  }
}

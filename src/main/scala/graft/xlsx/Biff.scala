package graft.xlsx

import scala.collection.mutable
import org.apache.spark.sql.DataFrame

/** Minimal legacy `.xls` (BIFF8 inside a CFB compound file) reader and
  * writer — no external library (SURVEY §2.3 P4: the Compare tool's
  * accept-list includes `.xls`, reference compare/page.tsx:638,674, via
  * the `xlsx` npm package's BIFF support).
  *
  * Scope mirrors the `.xlsx` module: row 1 = header, every value read
  * as a string, missing cells ''. Reader handles the common cell
  * records (LABELSST via SST incl. CONTINUE spans, LABEL, NUMBER, RK,
  * MULRK, BOOLERR) in both regular and mini-stream layouts. FORMULA
  * cells emit their cached result (numeric from the 8-byte num field;
  * string via the trailing STRING record; boolean from the special
  * encoding) — the formula expression itself is not evaluated,
  * matching the reference's xlsx-lib behavior of surfacing cached
  * values (compare/page.tsx:110-124). Rich-text cells surface their
  * TEXT content (SST strings with formatting runs, and inline RSTRING
  * records); only the run formatting itself is dropped, matching the
  * reference's plain-value reads.
  * Writer emits inline LABEL cells only (no SST), one sheet per
  * DataFrame, rows streamed from the driver ([[Xlsx.rowStrings]]).
  *
  * Like the OOXML module, `.xls` is a workbook-export format: the
  * container parses on the driver (read through [[Xlsx.readWorkbook]]);
  * bulk data paths stay parquet/CSV.
  */
object Biff {

  // -------------------------------------------------------------------
  // Little-endian helpers
  // -------------------------------------------------------------------

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def u16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def i32(b: Array[Byte], i: Int): Int =
    u16(b, i) | (u16(b, i + 2) << 16)

  private val FREESECT = -1 // 0xFFFFFFFF
  private val ENDOFCHAIN = -2 // 0xFFFFFFFE

  // -------------------------------------------------------------------
  // CFB container — read
  // -------------------------------------------------------------------

  private case class Dir(name: String, objType: Int, start: Int, size: Long)

  private class Cfb(bytes: Array[Byte]) {
    require(bytes.length >= 512 &&
      (0 until 8).map(u8(bytes, _)) == Seq(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1),
      "not a CFB compound file (bad magic)")
    private val sectorSize = 1 << u16(bytes, 30)
    private val miniSectorSize = 1 << u16(bytes, 32)
    private val miniCutoff = i32(bytes, 56)

    private def sector(i: Int): Array[Byte] = {
      val off = sectorSize * (i + 1)
      java.util.Arrays.copyOfRange(bytes, off, math.min(off + sectorSize, bytes.length))
    }

    private val fat: Array[Int] = {
      val perSector = sectorSize / 4
      val fatSectors = mutable.ArrayBuffer.empty[Int]
      (0 until 109).foreach { i =>
        val s = i32(bytes, 76 + i * 4)
        if (s >= 0) fatSectors += s
      }
      var difat = i32(bytes, 68) // first DIFAT sector
      var guard = 0
      while (difat >= 0 && guard < (1 << 16)) {
        val d = sector(difat)
        (0 until perSector - 1).foreach { i =>
          val s = i32(d, i * 4)
          if (s >= 0) fatSectors += s
        }
        difat = i32(d, (perSector - 1) * 4)
        guard += 1
      }
      fatSectors.toArray.flatMap(s => (0 until perSector).map(i => i32(sector(s), i * 4)))
    }

    private def chain(start: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var s = start
      var guard = 0
      while (s >= 0 && guard < fat.length + 2) {
        out.write(sector(s))
        s = fat(s)
        guard += 1
      }
      out.toByteArray
    }

    private val dirs: Seq[Dir] = {
      val d = chain(i32(bytes, 48))
      (0 until d.length / 128).map { i =>
        val off = i * 128
        val nameLen = u16(d, off + 64)
        val name = new String(d, off, math.max(0, nameLen - 2), "UTF-16LE")
        Dir(name, u8(d, off + 66), i32(d, off + 116), i32(d, off + 120).toLong & 0xFFFFFFFFL)
      }
    }

    private lazy val miniFat: Array[Int] = {
      val first = i32(bytes, 60)
      if (first < 0) Array.empty
      else {
        val m = chain(first)
        (0 until m.length / 4).map(i => i32(m, i * 4)).toArray
      }
    }
    private lazy val miniStream: Array[Byte] = chain(dirs.head.start)

    private def miniChain(start: Int, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var s = start
      var guard = 0
      while (s >= 0 && guard < miniFat.length + 2) {
        val off = s * miniSectorSize
        out.write(java.util.Arrays.copyOfRange(miniStream, off,
          math.min(off + miniSectorSize, miniStream.length)))
        s = miniFat(s)
        guard += 1
      }
      out.toByteArray
    }

    def stream(names: Set[String]): Array[Byte] = {
      val e = dirs.find(d => d.objType == 2 && names.contains(d.name))
        .getOrElse(throw new IllegalArgumentException(
          s"no ${names.mkString("/")} stream in compound file (streams: ${dirs.filter(_.objType == 2).map(_.name).mkString(", ")})"))
      val raw = if (e.size < miniCutoff) miniChain(e.start, e.size) else chain(e.start)
      java.util.Arrays.copyOf(raw, e.size.toInt)
    }
  }

  // -------------------------------------------------------------------
  // BIFF8 — read
  // -------------------------------------------------------------------

  /** Cursor over SST payload split across CONTINUE records: a string's
    * character data resumes after a fresh option byte when it spans a
    * record boundary; rich/ext bytes span without one. */
  private class SstCursor(parts: Seq[Array[Byte]]) {
    private var p = 0
    private var off = 0
    private def ensure(): Unit = { while (p < parts.length && off >= parts(p).length) { p += 1; off = 0 } }
    def byte(): Int = { ensure(); val v = u8(parts(p), off); off += 1; v }
    def word(): Int = byte() | (byte() << 8)
    def dword(): Int = word() | (word() << 16)
    def atBoundary: Boolean = { ensure(); off == 0 && p < parts.length }
    def skip(n: Int): Unit = (0 until n).foreach(_ => byte())

    def readString(): String = {
      val cch = word()
      var grbit = byte()
      val richCount = if ((grbit & 0x08) != 0) word() else 0
      val extSize = if ((grbit & 0x04) != 0) dword() else 0
      val sb = new StringBuilder
      var high = (grbit & 0x01) != 0
      var i = 0
      while (i < cch) {
        if (atBoundary && i > 0) high = (byte() & 0x01) != 0 // continuation re-states width
        sb.append((if (high) word() else byte()).toChar)
        i += 1
      }
      skip(richCount * 4 + extSize)
      sb.result()
    }
  }

  /** JS-style number image: integral doubles print without a decimal
    * point (matching the xlsx path, where sheet_to_json stringifies). */
  private[xlsx] def numToString(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** RK-packed number — the same 30-bit encoding is reused by BIFF12
    * (.xlsb) RkNumber, so Xlsb shares this decoder. */
  private[xlsx] def rkToDouble(rk: Int): Double = {
    val base =
      if ((rk & 2) != 0) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if ((rk & 1) != 0) base / 100 else base
  }

  /** BIFF8 short unicode string (1-byte length): BOUNDSHEET names. */
  private def shortString(b: Array[Byte], off: Int): String = {
    val cch = u8(b, off)
    val grbit = u8(b, off + 1)
    if ((grbit & 1) != 0) new String(b, off + 2, cch * 2, "UTF-16LE")
    else new String(b, off + 2, cch, "ISO-8859-1")
  }

  /** All sheets of a workbook stream: (name, cells as (row, col, value)),
    * 0-based rows/cols as stored. */
  private def parseWorkbook(wb: Array[Byte]): Seq[(String, Seq[(Int, Int, String)])] = {
    // Pass 1 — globals substream: BOUNDSHEET directory + SST (with
    // CONTINUE gathering).
    val bounds = mutable.ArrayBuffer.empty[(String, Int)] // (name, lbPlyPos)
    val sstParts = mutable.ArrayBuffer.empty[Array[Byte]]
    var inSst = false
    var off = 0
    var depth = 0
    while (off + 4 <= wb.length) {
      val id = u16(wb, off); val len = u16(wb, off + 2)
      val payload = java.util.Arrays.copyOfRange(wb, off + 4, off + 4 + len)
      id match {
        case 0x0809 => depth += 1; inSst = false // BOF
        case 0x000A => depth -= 1; inSst = false // EOF
        case 0x0085 if depth == 1 => // BOUNDSHEET
          bounds += ((shortString(payload, 6), i32(payload, 0)))
          inSst = false
        case 0x00FC if depth == 1 => sstParts += payload; inSst = true // SST
        case 0x003C if inSst => sstParts += payload // CONTINUE
        case _ => inSst = false
      }
      off += 4 + len
    }
    val sst: Vector[String] =
      if (sstParts.isEmpty) Vector.empty
      else {
        val cur = new SstCursor(sstParts.toSeq)
        val unique = { cur.dword(); cur.dword() } // cstTotal, cstUnique
        Vector.fill(unique)(cur.readString())
      }

    // Pass 2 — one worksheet substream per BOUNDSHEET.
    bounds.toSeq.map { case (name, pos) =>
      val cells = mutable.ArrayBuffer.empty[(Int, Int, String)]
      // A FORMULA whose cached result is a string defers its value to
      // the trailing STRING record (reference parity: the xlsx lib
      // surfaces a formula cell's cached value, compare/page.tsx:110-124).
      var pendingString: Option[(Int, Int)] = None
      // A cached string longer than one record spans CONTINUE records,
      // each restating the width byte: (row, col, chars still due, acc).
      var strCont: (Int, Int, Int, StringBuilder) = null
      // Decode up to `want` chars from b[off..]; returns chars read.
      def readChars(b: Array[Byte], off0: Int, want: Int, high: Boolean,
          acc: StringBuilder): Int = {
        var off = off0; var i = 0
        while (i < want && (if (high) off + 2 <= b.length else off + 1 <= b.length)) {
          if (high) { acc.append(((b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)).toChar); off += 2 }
          else { acc.append((b(off) & 0xFF).toChar); off += 1 }
          i += 1
        }
        i
      }
      var o = pos
      var done = false
      var sawBof = false
      while (!done && o + 4 <= wb.length) {
        val id = u16(wb, o); val len = u16(wb, o + 2)
        val b = java.util.Arrays.copyOfRange(wb, o + 4, o + 4 + len)
        // CONTINUE must immediately follow; anything else flushes the
        // partial value (best effort on malformed files).
        if (strCont != null && id != 0x003C) {
          cells += ((strCont._1, strCont._2, strCont._4.toString))
          strCont = null
        }
        id match {
          case 0x0809 => sawBof = true
          case 0x000A if sawBof => done = true
          case 0x0006 => // FORMULA: cached result in bytes 6-13
            val row = u16(b, 0); val c = u16(b, 2)
            if (u16(b, 12) == 0xFFFF) u8(b, 6) match {
              case 0 => pendingString = Some((row, c)) // string → STRING record follows
              case 1 => cells += ((row, c, if (u8(b, 8) != 0) "TRUE" else "FALSE"))
              case _ => // 2 = error, 3 = blank: no value (same as BOOLERR errors)
            }
            else {
              val bits = (0 until 8).map(i => (b(6 + i).toLong & 0xFF) << (8 * i)).sum
              cells += ((row, c, numToString(java.lang.Double.longBitsToDouble(bits))))
            }
          case 0x0207 => // STRING: cached text of the preceding FORMULA
            pendingString.foreach { case (row, c) =>
              val cch = u16(b, 0); val grbit = u8(b, 2)
              val acc = new StringBuilder
              val got = readChars(b, 3, cch, (grbit & 1) != 0, acc)
              if (got < cch) strCont = (row, c, cch - got, acc)
              else cells += ((row, c, acc.toString))
            }
            pendingString = None
          case 0x003C if strCont != null => // CONTINUE of a cached STRING
            val (row, c, want, acc) = strCont
            val got = readChars(b, 1, want, (u8(b, 0) & 1) != 0, acc)
            strCont =
              if (got < want) (row, c, want - got, acc)
              else { cells += ((row, c, acc.toString)); null }
          case 0x00FD => // LABELSST
            cells += ((u16(b, 0), u16(b, 2), sst.lift(i32(b, 6)).getOrElse("")))
          case 0x0204 | 0x00D6 => // LABEL / RSTRING (2-byte cch; RSTRING
            // carries trailing rich-text runs after the chars — the text
            // content is surfaced, the formatting runs ignored, matching
            // the reference xlsx-lib's plain-value reads)
            val cch = u16(b, 6); val grbit = u8(b, 8)
            val v = if ((grbit & 1) != 0) new String(b, 9, cch * 2, "UTF-16LE")
              else new String(b, 9, cch, "ISO-8859-1")
            cells += ((u16(b, 0), u16(b, 2), v))
          case 0x0203 => // NUMBER
            val bits = (0 until 8).map(i => (b(6 + i).toLong & 0xFF) << (8 * i)).sum
            cells += ((u16(b, 0), u16(b, 2), numToString(java.lang.Double.longBitsToDouble(bits))))
          case 0x027E => // RK
            cells += ((u16(b, 0), u16(b, 2), numToString(rkToDouble(i32(b, 6)))))
          case 0x00BD => // MULRK: row, colFirst, (ixfe+rk)*, colLast
            val row = u16(b, 0); val colFirst = u16(b, 2)
            val n = (len - 6) / 6
            (0 until n).foreach { i =>
              cells += ((row, colFirst + i, numToString(rkToDouble(i32(b, 4 + i * 6 + 2)))))
            }
          case 0x0205 => // BOOLERR
            if (u8(b, 7) == 0) cells += ((u16(b, 0), u16(b, 2), if (u8(b, 6) != 0) "TRUE" else "FALSE"))
          case _ =>
        }
        o += 4 + len
      }
      name -> cells.toSeq
    }
  }

  /** Every sheet of a legacy `.xls` byte image, (name, 0-based cells),
    * in tab order. */
  private[xlsx] def sheets(bytes: Array[Byte]): Seq[(String, Seq[(Int, Int, String)])] =
    parseWorkbook(new Cfb(bytes).stream(Set("Workbook", "Book")))

  // -------------------------------------------------------------------
  // Write (fixtures + legacy export): CFB with one Workbook stream,
  // LABEL cells only.
  // -------------------------------------------------------------------

  private[xlsx] def rec(id: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](4 + payload.length)
    out(0) = (id & 0xFF).toByte; out(1) = (id >> 8).toByte
    out(2) = (payload.length & 0xFF).toByte; out(3) = (payload.length >> 8).toByte
    System.arraycopy(payload, 0, out, 4, payload.length)
    out
  }
  private[xlsx] def w16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private[xlsx] def w32(v: Int): Array[Byte] = w16(v & 0xFFFF) ++ w16((v >> 16) & 0xFFFF)

  private[xlsx] def bof(docType: Int): Array[Byte] =
    rec(0x0809, w16(0x0600) ++ w16(docType) ++ w16(0x0DBB) ++ w16(0x07CC) ++ w32(0) ++ w32(0))

  private[xlsx] def labelCell(row: Int, col: Int, v: String): Array[Byte] = {
    val s = v.take(255)
    val ascii = s.forall(_ < 256)
    val chars = if (ascii) s.getBytes("ISO-8859-1") else s.getBytes("UTF-16LE")
    rec(0x0204, w16(row) ++ w16(col) ++ w16(0) ++ w16(s.length) ++
      Array((if (ascii) 0 else 1).toByte) ++ chars)
  }

  /** One row's BIFF8 bytes: a LABEL record per non-empty cell. */
  private[xlsx] def encodeRowXls(r: Int, vs: Seq[String]): Array[Byte] = {
    // BIFF8 row index is 16-bit: the format's own 65536-row ceiling.
    // Silently wrapping would corrupt the grid — fail loud instead
    // (big data belongs in xlsx/parquet; .xls is legacy compat).
    require(r <= 0xFFFF,
      ".xls sheets cap at 65536 rows (BIFF8 16-bit row index); use the .xlsx writer for larger sheets")
    val out = new java.io.ByteArrayOutputStream()
    vs.zipWithIndex.foreach { case (v, c) => if (v.nonEmpty) out.write(labelCell(r, c, v)) }
    out.toByteArray
  }

  /** Stream one worksheet substream record-by-record into `out` —
    * memory stays O(row), never O(sheet): the header is row 0, data
    * rows follow from 1. */
  private def writeSheet(out: java.io.OutputStream, header: Seq[String],
      rows: Iterator[Seq[String]]): Unit = {
    out.write(bof(0x0010))
    header.zipWithIndex.foreach { case (h, c) => out.write(labelCell(0, c, h)) }
    var r = 1
    rows.foreach { vs => out.write(encodeRowXls(r, vs)); r += 1 }
    out.write(rec(0x000A, Array.empty))
  }

  private[xlsx] def boundsheet(pos: Int, name: String): Array[Byte] = {
    val s = name.take(31)
    val ascii = s.forall(_ < 256)
    val chars = if (ascii) s.getBytes("ISO-8859-1") else s.getBytes("UTF-16LE")
    rec(0x0085, w32(pos) ++ w16(0) ++ Array(s.length.toByte, (if (ascii) 0 else 1).toByte) ++ chars)
  }

  /** The globals substream (BOF, a BOUNDSHEET per sheet, EOF) for
    * sheets of these names and substream lengths, in order: each
    * BOUNDSHEET's lbPlyPos is the absolute offset of its substream,
    * the substreams following the globals back to back. */
  private def globals(sheets: Seq[(String, Long)]): Array[Byte] = {
    val size = bof(0x0005).length + sheets.map(s => boundsheet(0, s._1).length).sum +
      rec(0x000A, Array.empty).length
    val offsets = sheets.scanLeft(size.toLong)(_ + _._2)
    val out = new java.io.ByteArrayOutputStream()
    out.write(bof(0x0005))
    sheets.zip(offsets).foreach { case ((n, _), pos) => out.write(boundsheet(pos.toInt, n)) }
    out.write(rec(0x000A, Array.empty))
    out.toByteArray
  }

  /** Assemble the Workbook stream: globals then one worksheet
    * substream per sheet. */
  private[xlsx] def workbookStream(sheets: Seq[(String, Array[Byte])]): Array[Byte] =
    globals(sheets.map { case (n, b) => n -> b.length.toLong }) ++ sheets.flatMap(_._2)

  /** Wrap a stream in a minimal CFB: header, n FAT sectors, chained
    * DIFAT sectors when the FAT outgrows the header's 109 slots
    * (≈7 MiB of stream), 1 directory sector, stream sectors. The
    * stream pads to the 4096-byte mini cutoff so it always lives in
    * regular sectors (the reader handles mini streams; the writer
    * avoids them). Byte-compatible wrapper over [[cfbWrite]] for
    * callers holding the whole stream (spec fixtures). */
  private[xlsx] def cfbBytes(stream0: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    cfbWrite(bos, stream0.length, os => os.write(stream0))
    bos.toByteArray
  }

  /** Streaming CFB assembly: every sector index depends only on the
    * stream LENGTH, so the container metadata (header + FAT + DIFAT +
    * directory) writes first from `streamLen0` alone, then
    * `copyStream` pours the workbook stream through without ever
    * holding it in memory, and the final sector pads with zeros.
    * Driver memory stays O(FAT), not O(workbook). */
  private[xlsx] def cfbWrite(outRaw: java.io.OutputStream, streamLen0: Int,
      copyStream: java.io.OutputStream => Unit): Unit = {
    val sectorSize = 512
    // logical stream size pads to the 4096-byte mini cutoff (zero tail
    // records parse as no-ops) so the stream always sits in regular
    // sectors
    val streamLen = math.max(streamLen0, 4096)
    val nStream = (streamLen + sectorSize - 1) / sectorSize
    // Fixpoint sizing: each DIFAT sector carries 127 FAT ids + a next
    // pointer, and FAT/DIFAT/dir/stream sectors all need FAT entries.
    var nFat = 1
    var nDifat = 0
    var sized = false
    while (!sized) {
      nDifat = math.max(0, nFat - 109 + 126) / 127
      if (nFat * 128 >= nFat + nDifat + 1 + nStream) sized = true else nFat += 1
    }
    val difatStart = nFat
    val dirSector = nFat + nDifat // sector index of the directory
    val streamStart = dirSector + 1

    // header + FAT + DIFAT + directory sectors — everything BEFORE the
    // stream sectors — assemble in one small buffer
    val out = java.nio.ByteBuffer.allocate(sectorSize * (streamStart + 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // header
    out.put(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
    out.position(24)
    out.putShort(0x003E.toShort).putShort(0x0003.toShort) // minor, major
    out.putShort(0xFFFE.toShort) // byte order
    out.putShort(9.toShort).putShort(6.toShort) // sector, mini shifts
    out.position(44)
    out.putInt(nFat) // FAT sector count
    out.putInt(dirSector) // first directory sector
    out.putInt(0) // transaction
    out.putInt(4096) // mini cutoff
    out.putInt(ENDOFCHAIN) // first miniFAT
    out.putInt(0) // miniFAT count
    out.putInt(if (nDifat > 0) difatStart else ENDOFCHAIN) // first DIFAT
    out.putInt(nDifat) // DIFAT sector count
    (0 until 109).foreach(i => out.putInt(if (i < nFat) i else FREESECT))
    // FAT sectors
    out.position(sectorSize)
    (0 until nFat * 128).foreach { i =>
      out.putInt {
        if (i < nFat) -3 // FATSECT
        else if (i < nFat + nDifat) -4 // DIFSECT
        else if (i == dirSector) ENDOFCHAIN
        else if (i >= streamStart && i < streamStart + nStream)
          if (i == streamStart + nStream - 1) ENDOFCHAIN else i + 1
        else FREESECT
      }
    }
    // DIFAT sectors: FAT ids 109.. in runs of 127, chained by the
    // trailing next pointer
    (0 until nDifat).foreach { d =>
      out.position(sectorSize * (1 + difatStart + d))
      (0 until 127).foreach { j =>
        val fi = 109 + d * 127 + j
        out.putInt(if (fi < nFat) fi else FREESECT)
      }
      out.putInt(if (d + 1 < nDifat) difatStart + d + 1 else ENDOFCHAIN)
    }
    // directory sector
    def dirEntry(pos: Int, name: String, objType: Int, child: Int, start: Int, size: Int): Unit = {
      val base = sectorSize * (1 + dirSector) + pos * 128
      out.position(base)
      val n = name.getBytes("UTF-16LE")
      out.put(n)
      out.position(base + 64)
      out.putShort(((name.length + 1) * 2).toShort)
      out.put(objType.toByte).put(1.toByte) // type, black
      out.putInt(-1).putInt(-1).putInt(child) // siblings, child
      out.position(base + 116)
      out.putInt(start).putInt(size)
    }
    dirEntry(0, "Root Entry", 5, 1, ENDOFCHAIN, 0)
    dirEntry(1, "Workbook", 2, -1, streamStart, streamLen)
    // entries 2-3 stay zero-filled = unused
    outRaw.write(out.array())
    // stream sectors: caller pours exactly streamLen0 bytes, then the
    // mini-cutoff gap and the final partial sector pad with zeros
    copyStream(outRaw)
    outRaw.write(new Array[Byte](nStream * sectorSize - streamLen0))
  }

  /** Write a multi-sheet `.xls` workbook (same naming rules as the
    * OOXML writer). O(row) driver memory like Xlsx.writeWorkbook: each
    * sheet substream pours into a spooled temp file (CFB needs every
    * stream length BEFORE the first container byte — the FAT, the
    * directory entry, and each BOUNDSHEET's lbPlyPos all encode
    * absolute offsets), then the container assembles by streaming the
    * spool files through [[cfbWrite]]. So every sheet has encoded —
    * and a sheet past the 65536-row cap has failed — before `file` is
    * opened. Driver DISK carries one workbook copy transiently; memory
    * never holds more than a row and the FAT. */
  def writeWorkbook(sheets: Seq[(String, DataFrame)], file: String): Unit = {
    import java.nio.file.Files
    val spools = mutable.ArrayBuffer.empty[(String, java.nio.file.Path)]
    try {
      Xlsx.named(sheets).foreach { case (name, df) =>
        val p = Files.createTempFile("graft_xls_sheet", ".bin")
        spools += name -> p
        val os = new java.io.BufferedOutputStream(Files.newOutputStream(p), 1 << 16)
        try { val (header, rows) = Xlsx.rowStrings(df); writeSheet(os, header, rows) }
        finally os.close()
      }
      val sized = spools.toSeq.map { case (n, p) => n -> Files.size(p) }
      val head = globals(sized)
      val streamLen = head.length + sized.map(_._2).sum
      require(streamLen <= Int.MaxValue - 4096,
        s".xls workbook stream would be $streamLen bytes — beyond what one CFB stream holds")
      val fileOut = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(file), 1 << 16)
      try cfbWrite(fileOut, streamLen.toInt, { os =>
        os.write(head)
        spools.foreach { case (_, p) => Files.copy(p, os) }
      }) finally fileOut.close()
    } finally spools.foreach(s => Files.deleteIfExists(s._2))
  }
}

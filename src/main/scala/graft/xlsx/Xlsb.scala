package graft.xlsx

import scala.collection.mutable
import org.apache.spark.sql.DataFrame

/** Minimal `.xlsb` (BIFF12 binary parts inside an OOXML zip) reader and
  * writer — no external library (SURVEY §2.3 P4: the Compare tool's
  * accept-list admits `.xlsb`, reference compare/page.tsx:638,674, via
  * the `xlsx` npm package's BIFF12 support). Closes the one accept-list
  * entry that previously raised a defined error.
  *
  * Same contract as the sibling modules: row 1 = header, every value a
  * string, missing cells ''. Reader handles the BIFF12 cell records
  * (RK, real, bool, inline string, shared string, and the cached
  * results of the four formula-cell records) plus the SST and the
  * workbook sheet directory; writer emits inline-string cells only,
  * one sheet per DataFrame, rows streamed from the driver into the
  * OOXML package that `.xlsx` uses ([[Xlsx.writePackage]]).
  *
  * BIFF12 framing ([MS-XLSB] 2.1.4): record id is 1-2 bytes (7 bits
  * per byte, high bit = continuation), record length is 1-4 bytes of
  * 7-bit chunks, then the payload. Like `.xls`/`.xlsx`, this is a
  * workbook-export container parsed on the driver (read through
  * [[Xlsx.readWorkbook]]); bulk data paths stay parquet/CSV.
  */
object Xlsb {

  /** All payload reads are bounds-guarded: a truncated or corrupt
    * `.xlsb` must fail with the module's defined error (like the
    * `.xlsx`/`.xls` paths), never a raw ArrayIndexOutOfBoundsException. */
  private def malformed(what: String): Nothing =
    throw new IllegalArgumentException(s"malformed .xlsb record: $what")

  private def u8(b: Array[Byte], i: Int): Int = {
    if (i < 0 || i >= b.length) malformed(s"read at $i past end (${b.length} bytes)")
    b(i) & 0xFF
  }
  private def i32(b: Array[Byte], i: Int): Int = {
    if (i < 0 || i + 4 > b.length) malformed(s"int32 at $i past end (${b.length} bytes)")
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  }

  // Record ids ([MS-XLSB] 2.3 record enumeration)
  private val RowHdr = 0
  private val CellRk = 2
  private val CellBool = 4
  private val CellReal = 5
  private val CellSt = 6
  private val CellIsst = 7
  private val FmlaString = 8
  private val FmlaNum = 9
  private val FmlaBool = 10
  private val SstItem = 19
  private val BeginSheet = 129
  private val EndSheet = 130
  private val BeginBook = 131
  private val EndBook = 132
  private val BeginBundleShs = 143
  private val EndBundleShs = 144
  private val BeginSheetData = 145
  private val EndSheetData = 146
  private val BundleSh = 156
  private val BeginSst = 159
  private val EndSst = 160

  // -------------------------------------------------------------------
  // Record stream
  // -------------------------------------------------------------------

  /** Iterate (recordId, payload) over a BIFF12 part. */
  private def records(b: Array[Byte]): Iterator[(Int, Array[Byte])] =
    new Iterator[(Int, Array[Byte])] {
      private var off = 0
      override def hasNext: Boolean = off < b.length
      override def next(): (Int, Array[Byte]) = {
        var id = u8(b, off); off += 1
        if ((id & 0x80) != 0) { id = (id & 0x7F) | ((u8(b, off) & 0x7F) << 7); off += 1 }
        var len = 0; var shift = 0; var more = true
        while (more) {
          val v = u8(b, off); off += 1
          len |= (v & 0x7F) << shift; shift += 7
          more = (v & 0x80) != 0 && shift < 28
        }
        if (len < 0 || off + len > b.length)
          malformed(s"declared length $len at offset $off exceeds part size ${b.length}")
        val payload = java.util.Arrays.copyOfRange(b, off, off + len)
        off += len
        (id, payload)
      }
    }

  /** XLWideString at `off`: 4-byte char count + UTF-16LE chars.
    * Returns (value, bytes consumed). */
  private def wideString(b: Array[Byte], off: Int): (String, Int) = {
    val cch = i32(b, off)
    if (cch < 0 || off + 4 + cch * 2L > b.length)
      malformed(s"string of $cch chars at $off exceeds payload (${b.length} bytes)")
    (new String(b, off + 4, cch * 2, "UTF-16LE"), 4 + cch * 2)
  }

  /** XLNullableWideString: cch of 0xFFFFFFFF means null. */
  private def nullableWideString(b: Array[Byte], off: Int): (String, Int) = {
    val cch = i32(b, off)
    if (cch == -1) ("", 4) else wideString(b, off)
  }

  // -------------------------------------------------------------------
  // Read
  // -------------------------------------------------------------------

  /** Sheet directory of workbook.bin: (name, relId) in tab order. */
  private def parseBundle(wb: Array[Byte]): Seq[(String, String)] =
    records(wb).collect { case (BundleSh, p) =>
      // hsState(4) + iTabID(4) + strRelID + strName
      val (rid, n) = nullableWideString(p, 8)
      val (name, _) = wideString(p, 8 + n)
      (name, rid)
    }.toSeq

  private def parseSst(b: Array[Byte]): Vector[String] =
    records(b).collect { case (SstItem, p) =>
      // flags(1) + XLWideString (+rich/phonetic data, bounded by the
      // record length, ignored)
      wideString(p, 1)._1
    }.toVector

  /** (row, col, value) triples of one worksheet part, 0-based. */
  private def parseSheet(b: Array[Byte], sst: Vector[String]): Seq[(Int, Int, String)] = {
    val cells = mutable.ArrayBuffer.empty[(Int, Int, String)]
    var row = 0
    records(b).foreach { case (id, p) =>
      def col = i32(p, 0) // cell records: col(4) + iStyleRef/flags(4) + value
      id match {
        case RowHdr => row = i32(p, 0)
        case CellRk => cells += ((row, col, Biff.numToString(Biff.rkToDouble(i32(p, 8)))))
        case CellBool | FmlaBool =>
          cells += ((row, col, if (u8(p, 8) != 0) "TRUE" else "FALSE"))
        case CellReal | FmlaNum =>
          if (p.length < 16) malformed(s"xnum cell payload of ${p.length} bytes (needs 16)")
          val bits = (0 until 8).map(i => (p(8 + i).toLong & 0xFF) << (8 * i)).sum
          cells += ((row, col, Biff.numToString(java.lang.Double.longBitsToDouble(bits))))
        case CellSt | FmlaString => cells += ((row, col, wideString(p, 8)._1))
        case CellIsst => cells += ((row, col, sst.lift(i32(p, 8)).getOrElse("")))
        case _ => // BrtCellBlank, BrtCellError, BrtFmlaError, structure records
      }
    }
    cells.toSeq
  }

  /** Every sheet of a `.xlsb` byte image, (name, 0-based cells), in
    * tab order. */
  private[xlsx] def sheets(bytes: Array[Byte]): Seq[(String, Seq[(Int, Int, String)])] = {
    val entries = Xlsx.readZipBytes(bytes)
    val sst = entries.get("xl/sharedStrings.bin").map(parseSst).getOrElse(Vector.empty)
    // the rels part is plain OOXML relationship XML even in .xlsb
    val rels = entries.get("xl/_rels/workbook.bin.rels")
      .map(b => Xlsx.parseRels(new String(b, "UTF-8"))).getOrElse(Map.empty)
    val bundle = parseBundle(entries.getOrElse("xl/workbook.bin",
      throw new IllegalArgumentException("no xl/workbook.bin — not a .xlsb workbook")))
    Xlsx.sheetParts(bundle, rels, "bin").map { case (name, part) =>
      name -> entries.get(part).map(parseSheet(_, sst)).getOrElse(Nil)
    }
  }

  // -------------------------------------------------------------------
  // Write
  // -------------------------------------------------------------------

  private[xlsx] def rec(id: Int, payload: Array[Byte]): Array[Byte] = {
    val head = mutable.ArrayBuffer.empty[Byte]
    if (id < 0x80) head += id.toByte
    else { head += ((id & 0x7F) | 0x80).toByte; head += ((id >> 7) & 0x7F).toByte }
    var len = payload.length
    var more = true
    while (more) {
      val v = len & 0x7F; len >>= 7
      more = len != 0
      head += (if (more) (v | 0x80) else v).toByte
    }
    head.toArray ++ payload
  }

  private[xlsx] def w32(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  private[xlsx] def wide(s: String): Array[Byte] =
    w32(s.length) ++ s.getBytes("UTF-16LE")

  private[xlsx] def stCell(col: Int, v: String): Array[Byte] =
    rec(CellSt, w32(col) ++ w32(0) ++ wide(v))

  /** One row's BIFF12 bytes: the row header record plus a string cell
    * per non-empty value. */
  private[xlsx] def encodeRow(r: Int, vs: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(rec(RowHdr, w32(r)))
    vs.zipWithIndex.foreach { case (v, c) => if (v.nonEmpty) out.write(stCell(c, v)) }
    out.toByteArray
  }

  /** Stream one worksheet part record-by-record into `out` — memory
    * stays O(row), never O(sheet): the header is row 0, data rows
    * follow from 1. */
  private def writeSheet(out0: java.io.OutputStream, header: Seq[String],
      rows: Iterator[Seq[String]]): Unit = {
    val out = new java.io.BufferedOutputStream(out0, 1 << 16)
    out.write(rec(BeginSheet, Array.empty))
    out.write(rec(BeginSheetData, Array.empty))
    out.write(encodeRow(0, header))
    var r = 1
    rows.foreach { vs => out.write(encodeRow(r, vs)); r += 1 }
    out.write(rec(EndSheetData, Array.empty))
    out.write(rec(EndSheet, Array.empty))
    out.flush() // through to `out0`, which the package owns
  }

  private[xlsx] def workbookBin(names: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(rec(BeginBook, Array.empty))
    out.write(rec(BeginBundleShs, Array.empty))
    names.zipWithIndex.foreach { case (n, i) =>
      out.write(rec(BundleSh, w32(0) ++ w32(i + 1) ++ wide(s"rId${i + 1}") ++ wide(n)))
    }
    out.write(rec(EndBundleShs, Array.empty))
    out.write(rec(EndBook, Array.empty))
    out.toByteArray
  }

  /** Write a multi-sheet `.xlsb` workbook (same naming rules and
    * package as the OOXML writer). Each part carries its own Override
    * content type (what Excel itself writes): the workbook part the
    * binary-workbook main type and each worksheet part the
    * binary-worksheet type — one Default mapping every .bin to the
    * workbook type misidentifies the sheets to content-type-aware
    * consumers. */
  def writeWorkbook(sheets: Seq[(String, DataFrame)], file: String): Unit =
    Xlsx.writePackage(file, sheets, "bin",
      "application/vnd.ms-excel.sheet.binary.macroEnabled.main",
      "application/vnd.ms-excel.sheet.binary.macroEnabled.main",
      "application/vnd.ms-excel.worksheet",
      "http://schemas.microsoft.com/office/2006/relationships/xlBinaryWorksheet",
      workbookBin)(writeSheet)
}

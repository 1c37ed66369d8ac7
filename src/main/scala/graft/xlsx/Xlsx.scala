package graft.xlsx

import java.io.{ByteArrayInputStream, StringReader}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftshim.ExprShim
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.sources.FileSource

/** Minimal OOXML (.xlsx) reader/writer — no external library, just
  * java.util.zip + StAX (SURVEY §2.1 S7, §2.2 K5; reference
  * components/FileUploader.tsx:206-335 via the `xlsx` npm package).
  *
  * Scope (bounded to the reference's sheet_to_json/json_to_sheet use):
  * row 1 = header, all values read as strings, missing cells '',
  * sharedStrings + inlineStr + numeric cells on read; writer emits
  * inline strings only. Date cells surface as their raw serial
  * numbers — the reference parity choice: SheetJS `sheet_to_json`
  * defaults to `raw: true`, so the reference app itself sees serials,
  * not formatted dates. XLSX is a workbook-export format — the writer
  * assembles on the driver via toLocalIterator (bounded memory); bulk
  * data paths stay parquet/CSV.
  *
  * Also the parts the `.xlsb` ([[Xlsb]]) and `.xls` ([[Biff]]) modules
  * share: the sheet-naming pass, the row source ([[rowStrings]]), the
  * OOXML package writer and the one workbook reader, which dispatches
  * on the file extension.
  */
object Xlsx {

  /** K5: sheet-name sanitizer (strip `\/?*:[]`, ≤31 chars, `_N` dedup —
    * reference sanitizeSheetName, FileUploader.tsx:27-39). */
  def sanitizeSheetName(name: String, existing: mutable.Set[String]): String = {
    var s = name.replaceAll("""[\\/?*:\[\]]""", " ").take(31).trim
    if (s.isEmpty) s = "Sheet"
    val base = s
    var i = 1
    while (existing.contains(s)) {
      val suff = s"_$i"; i += 1
      s = (base.take(math.max(0, 31 - suff.length)) + suff).trim
      if (s.isEmpty) s = s"Sheet$i"
    }
    existing.add(s)
    s
  }

  /** The sheets with their names sanitized and de-duplicated in one
    * pass, in order — the naming rule of all three workbook writers. */
  private[xlsx] def named(sheets: Seq[(String, DataFrame)]): Seq[(String, DataFrame)] = {
    val used = mutable.Set.empty[String]
    sheets.map { case (n, df) => (sanitizeSheetName(n, used), df) }
  }

  // -------------------------------------------------------------------
  // Writer
  // -------------------------------------------------------------------

  private val XmlDecl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""

  private def colRef(c: Int): String = { // 0-based → A, B, ..., AA
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.result()
  }

  /** Stream one worksheet part row-by-row into `out` — memory stays
    * O(row), never O(sheet), so a sheet bigger than the heap still
    * writes. */
  private def writeSheetXml(out: java.io.OutputStream, header: Seq[String],
      rows: Iterator[Seq[String]]): Unit = {
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, "UTF-8"), 1 << 16)
    w.write(XmlDecl)
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def row(r: Int, vs: Seq[String]): Unit = {
      w.write(s"""<row r="$r">""")
      vs.zipWithIndex.foreach { case (v, c) =>
        w.write(s"""<c r="${colRef(c)}$r" t="inlineStr"><is><t xml:space="preserve">${graft.xml.Xml.esc(v)}</t></is></c>""")
      }
      w.write("</row>")
    }
    row(1, header)
    var r = 2
    rows.foreach { vs => row(r, vs); r += 1 }
    w.write("</sheetData></worksheet>")
    w.flush() // through to `out`, which the package owns
  }

  /** Write a multi-sheet workbook. Sheet order preserved; names
    * sanitized + deduped. */
  def writeWorkbook(sheets: Seq[(String, DataFrame)], file: String): Unit =
    writePackage(file, sheets, "xml", "application/xml",
      "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml",
      "application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml",
      "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet",
      names => (XmlDecl +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        names.zipWithIndex.map { case (name, i) =>
          s"""<sheet name="${graft.xml.Xml.esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>").getBytes("UTF-8"))(writeSheetXml)

  /** The OOXML package under `.xlsx` and `.xlsb`: `[Content_Types].xml`
    * (a Default for `.rels` and one for the part extension `ext`, an
    * Override for the workbook part and one per worksheet), the package
    * rels, `xl/workbook.{ext}` from `workbook` of the [[named]] sheets,
    * its rels (one `sheetRel` relationship per sheet) and
    * `xl/worksheets/sheet{i}.{ext}`, each written by `sheet` from
    * [[rowStrings]]. Sheets stream straight into the zip, one at a time. */
  private[xlsx] def writePackage(file: String, sheets: Seq[(String, DataFrame)], ext: String,
      extType: String, bookType: String, sheetType: String, sheetRel: String,
      workbook: Seq[String] => Array[Byte])(
      sheet: (java.io.OutputStream, Seq[String], Iterator[Seq[String]]) => Unit): Unit = {
    val zos = new ZipOutputStream(new java.io.FileOutputStream(file))
    def put(name: String, content: Array[Byte]): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content); zos.closeEntry()
    }
    def rels(targets: Seq[String]): Array[Byte] = (XmlDecl +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      targets.mkString + "</Relationships>").getBytes("UTF-8")
    val renamed = named(sheets)
    val parts = renamed.indices.map(i => s"sheet${i + 1}.$ext")
    try {
      put("[Content_Types].xml", (XmlDecl +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        s"""<Default Extension="$ext" ContentType="$extType"/>""" +
        s"""<Override PartName="/xl/workbook.$ext" ContentType="$bookType"/>""" +
        parts.map(p => s"""<Override PartName="/xl/worksheets/$p" ContentType="$sheetType"/>""").mkString +
        "</Types>").getBytes("UTF-8"))
      put("_rels/.rels", rels(Seq(
        s"""<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.$ext"/>""")))
      put(s"xl/workbook.$ext", workbook(renamed.map(_._1)))
      put(s"xl/_rels/workbook.$ext.rels", rels(parts.zipWithIndex.map { case (p, i) =>
        s"""<Relationship Id="rId${i + 1}" Type="$sheetRel" Target="worksheets/$p"/>"""
      }))
      renamed.zip(parts).foreach { case ((_, df), p) =>
        val (header, rows) = rowStrings(df)
        zos.putNextEntry(new ZipEntry(s"xl/worksheets/$p"))
        sheet(zos, header, rows)
        zos.closeEntry()
      }
    } finally zos.close()
  }

  /** (header, rows-as-strings via toLocalIterator: null → "", anything
    * else its `toString`) — the one row source of the three workbook
    * writers. Rows arrive one partition at a time, in order, on the
    * driver. */
  private[xlsx] def rowStrings(df: DataFrame): (Seq[String], Iterator[Seq[String]]) = {
    val header = df.columns.toSeq
    val it = new Iterator[Seq[String]] {
      private val rows = df.toLocalIterator()
      def hasNext: Boolean = rows.hasNext
      def next(): Seq[String] = {
        val r = rows.next()
        header.indices.map(j => Option(r.get(j)).map(_.toString).getOrElse(""))
      }
    }
    (header, it)
  }

  // -------------------------------------------------------------------
  // Reader
  // -------------------------------------------------------------------

  /** Read every sheet of a `.xlsx`, `.xlsb` (BIFF12) or `.xls` (BIFF8)
    * workbook — the Compare accept-list admits all three (P4, reference
    * compare/page.tsx:638,674) — as sheetName → all-string DataFrame
    * with row 1 as header, missing cells '' (sheet_to_json with
    * defval:'' — reference FileUploader.tsx:206-225). The file is read
    * once, through the session's Hadoop conf; its parts are parsed on
    * the driver (workbook-sized input by definition), and per-sheet row
    * materialization is deferred to Spark. */
  def readWorkbook(spark: SparkSession, file: String): Seq[(String, DataFrame)] = {
    val lower = file.toLowerCase
    val parse: Array[Byte] => Seq[(String, Seq[(Int, Int, String)])] =
      if (lower.endsWith(".xlsx")) sheets
      else if (lower.endsWith(".xls")) Biff.sheets
      else if (lower.endsWith(".xlsb")) Xlsb.sheets
      else throw new IllegalArgumentException(s"not a workbook extension: $file")
    val path = new Path(file)
    val conf = ExprShim.hadoopConf(spark, Map.empty)
    val bytes = FileSource.readBytes(path, path.getFileSystem(conf).getFileStatus(path).getLen, conf)
    // a parser names what is wrong; this adds which file
    val parsed =
      try parse(bytes)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$file: ${e.getMessage}", e)
      }
    parsed.map { case (name, cells) => name -> cellsToDf(spark, cells) }
  }

  /** Every sheet of a `.xlsx` byte image, (name, 0-based cells), in
    * tab order. */
  private def sheets(bytes: Array[Byte]): Seq[(String, Seq[(Int, Int, String)])] = {
    val book = new Book(bytes)
    book.sheets.map { case (name, part) => name -> book.cells(part) }
  }

  /** (sheet name, zip path of its part) in tab order, from a workbook's
    * sheet directory (name, rel id) and its rels (id → target). A
    * target is absolute or relative to `xl/`; a sheet with no rel
    * falls back to `xl/worksheets/sheet{i+1}.{ext}`. The one resolver
    * under the `.xlsx` and `.xlsb` readers. */
  private[xlsx] def sheetParts(sheets: Seq[(String, String)],
      rels: Map[String, String], ext: String): Seq[(String, String)] =
    sheets.zipWithIndex.map { case ((name, rid), i) =>
      val target = rels.getOrElse(rid, s"worksheets/sheet${i + 1}.$ext")
      name -> (if (target.startsWith("/")) target.drop(1) else s"xl/$target")
    }

  /** An `.xlsx` byte image: its parts, shared strings and sheets. */
  private final class Book(bytes: Array[Byte]) {
    private val entries = readZipBytes(bytes).view.mapValues(new String(_, "UTF-8")).toMap
    private val shared =
      entries.get("xl/sharedStrings.xml").map(parseSharedStrings).getOrElse(Vector.empty)
    val sheets: Seq[(String, String)] = sheetParts(
      entries.get("xl/workbook.xml").map(parseSheetNames).getOrElse(Nil),
      entries.get("xl/_rels/workbook.xml.rels").map(parseRels).getOrElse(Map.empty),
      "xml")
    def cells(part: String): Seq[(Int, Int, String)] =
      entries.get(part).map(parseSheetCells(_, shared)).getOrElse(Nil)
  }

  /** All zip entries as raw bytes — the one entry walker shared by the
    * OOXML (.xlsx) and BIFF12 (.xlsb) containers. */
  private[xlsx] def readZipBytes(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.LinkedHashMap.empty[String, Array[Byte]]
    try {
      var e = zis.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out(e.getName) = zis.readAllBytes()
        e = zis.getNextEntry
      }
    } finally zis.close()
    out.toMap
  }

  private def stax(xml: String) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(new StringReader(xml))
  }

  private[xlsx] def parseSharedStrings(xml: String): Vector[String] = {
    val r = stax(xml)
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" => cur = new StringBuilder
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if cur != null => cur.append(r.getText)
      case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" => out += cur.result(); cur = null
      case _ =>
    } finally r.close()
    out.result()
  }

  private[xlsx] def parseSheetNames(xml: String): Seq[(String, String)] = {
    val r = stax(xml)
    val out = Seq.newBuilder[(String, String)]
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT if r.getLocalName == "sheet" =>
        val attrs = (0 until r.getAttributeCount)
          .map(i => (r.getAttributeLocalName(i), r.getAttributeValue(i))).toMap
        out += ((attrs.getOrElse("name", "Sheet"), attrs.getOrElse("id", "")))
      case _ =>
    } finally r.close()
    out.result()
  }

  private[xlsx] def parseRels(xml: String): Map[String, String] = {
    val r = stax(xml)
    val out = mutable.Map.empty[String, String]
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT if r.getLocalName == "Relationship" =>
        val attrs = (0 until r.getAttributeCount)
          .map(i => (r.getAttributeLocalName(i), r.getAttributeValue(i))).toMap
        out(attrs.getOrElse("Id", "")) = attrs.getOrElse("Target", "")
      case _ =>
    } finally r.close()
    out.toMap
  }

  /** (row, col, value) triples of one worksheet, 0-based. */
  private[xlsx] def parseSheetCells(xml: String, shared: Vector[String]): Seq[(Int, Int, String)] = {
    val r = stax(xml)
    val out = Seq.newBuilder[(Int, Int, String)]
    var row = -1; var colInRow = 0
    var cellRef: Option[(Int, Int)] = None
    var cellType = ""
    var inV = false; var inIsT = false
    val text = new StringBuilder
    def cellPos: (Int, Int) = cellRef.getOrElse((row, colInRow))
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "row" =>
          row = (0 until r.getAttributeCount).find(i => r.getAttributeLocalName(i) == "r")
            .map(i => r.getAttributeValue(i).toInt - 1).getOrElse(row + 1)
          colInRow = 0
        case "c" =>
          cellType = (0 until r.getAttributeCount).find(i => r.getAttributeLocalName(i) == "t")
            .map(r.getAttributeValue).getOrElse("")
          cellRef = (0 until r.getAttributeCount).find(i => r.getAttributeLocalName(i) == "r")
            .map(i => parseRef(r.getAttributeValue(i)))
          text.clear()
        case "v" => inV = true
        case "t" => inIsT = true
        case _ =>
      }
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
        if (inV || inIsT) text.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "v" => inV = false
        case "t" => inIsT = false
        case "c" =>
          val (rr, cc) = cellPos
          val v = cellType match {
            case "s" => shared.lift(text.result().trim.toInt).getOrElse("")
            case _ => text.result()
          }
          out += ((rr, cc, v))
          colInRow += 1
          cellRef = None
        case _ =>
      }
      case _ =>
    } finally r.close()
    out.result()
  }

  /** "B3" → (2, 1): OOXML's 1-based row numbers become the 0-based
    * rows BIFF stores. */
  private def parseRef(ref: String): (Int, Int) = {
    val letters = ref.takeWhile(_.isLetter)
    val digits = ref.drop(letters.length)
    val c = letters.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
    (digits.toInt - 1, c)
  }

  /** (header, data rows) from (row, col, value) cell triples, both
    * 0-based as all three parsers yield them: row 0 = header (empty
    * header cell c → `col{c+1}`), rows padded to grid width with ''. */
  private[xlsx] def cellGrid(cells: Seq[(Int, Int, String)]): (Seq[String], Seq[Seq[String]]) = {
    val byRow = cells.groupBy(_._1)
    val headerCells = byRow.getOrElse(0, Nil).sortBy(_._2)
    val width = (cells.map(_._2).maxOption.getOrElse(-1)) + 1
    val header = (0 until width).map { c =>
      headerCells.find(_._2 == c).map(_._3).filter(_.nonEmpty).getOrElse(s"col${c + 1}")
    }
    val dataRows = byRow.view.filterKeys(_ > 0).toSeq.sortBy(_._1).map { case (_, cs) =>
      val m = cs.map(t => t._2 -> t._3).toMap
      (0 until width).map(c => m.getOrElse(c, ""))
    }
    (header, dataRows)
  }

  private[xlsx] def cellsToDf(spark: SparkSession, cells: Seq[(Int, Int, String)]): DataFrame = {
    val (header, dataRows) = cellGrid(cells)
    val schema = StructType(header.map(h => StructField(h, StringType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(dataRows.map(Row.fromSeq(_))), schema)
  }

  /** One sheet of a workbook byte image as (header, data rows) —
    * shared by the driver reader and the DSv2 executor-side reader.
    * `sheet` = None → first sheet. */
  private[xlsx] def parseSheetGrid(bytes: Array[Byte],
      sheet: Option[String]): (Seq[String], Seq[Seq[String]]) = {
    val book = new Book(bytes)
    val part = sheet match {
      case None => book.sheets.headOption.fold("xl/worksheets/sheet1.xml")(_._2)
      case Some(s) =>
        val found = book.sheets.find(_._1 == s)
        require(found.nonEmpty, s"no sheet '$s' (sheets: ${book.sheets.map(_._1).mkString(", ")})")
        found.get._2
    }
    cellGrid(book.cells(part))
  }
}

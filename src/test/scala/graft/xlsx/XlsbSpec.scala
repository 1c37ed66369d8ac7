package graft.xlsx

import graft.SparkSpec

class XlsbSpec extends SparkSpec {
  import spark.implicits._

  test(".xlsb write → read round-trips multiple sheets through the dispatcher (P4)") {
    val s1 = Seq(("1", "a&<b>", ""), ("2", "plain", "x")).toDF("id", "v", "w")
    val s2 = Seq(("only", "row")).toDF("p", "q")
    val f = tempDir("xlsbspec").resolve("wb.xlsb").toString
    Xlsb.writeWorkbook(Seq("first" -> s1, "second" -> s2), f)
    val back = Xlsx.readWorkbook(spark, f)
    assert(back.map(_._1) == Seq("first", "second"))
    val r1 = back.head._2.orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(r1.toSeq == Seq(("1", "a&<b>", ""), ("2", "plain", "x")))
    val r2 = back(1)._2.collect().map(r => (r.getString(0), r.getString(1)))
    assert(r2.toSeq == Seq(("only", "row")))
  }

  test("200k-row sheet streams through the writer — zip entry record-scanned, never loaded") {
    // A 200k-row sheet part would strain the heap if the writer
    // materialized it; streaming writes it in O(row) memory. Verified
    // by writing, then counting BrtRowHdr records with a streaming
    // record-frame scanner over the zip entry (payloads skipped, the
    // part never held whole).
    val n = 200000
    val big = spark.range(1, n + 1L)
      .selectExpr("CAST(id AS STRING) AS id", "concat('v&', id) AS v", "repeat('x', 20) AS pad")
    val f = tempDir("xlsbbig").resolve("big.xlsb").toString
    Xlsb.writeWorkbook(Seq("big" -> big), f)
    val zis = new java.util.zip.ZipInputStream(new java.io.FileInputStream(f))
    var rows = -1L
    try {
      var e = zis.getNextEntry
      while (e != null) {
        if (e.getName == "xl/worksheets/sheet1.bin") {
          val in = new java.io.BufferedInputStream(zis, 1 << 16)
          var count = 0L
          var b0 = in.read()
          while (b0 >= 0) {
            var recId = b0 & 0x7F
            if ((b0 & 0x80) != 0) recId |= (in.read() & 0x7F) << 7
            var len = 0; var shift = 0; var more = true
            while (more) {
              val b = in.read()
              len |= (b & 0x7F) << shift; shift += 7
              more = (b & 0x80) != 0
            }
            if (recId == 0) count += 1 // BrtRowHdr
            var skipped = 0L
            while (skipped < len) {
              val s = in.skip(len - skipped)
              skipped += (if (s > 0) s else { in.read(); 1 })
            }
            b0 = in.read()
          }
          rows = count
        }
        e = if (rows >= 0) null else zis.getNextEntry
      }
    } finally zis.close()
    assert(rows == n + 1L) // header + n data rows
  }

  test("BIFF12 cell records decode: RK, real, bool, isst, formula-cached (hand-built part)") {
    // Build the worksheet part record-by-record, including shared
    // strings and every numeric/formula record the reader handles.
    def dbl(d: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(d)
      (0 until 8).map(i => ((bits >> (8 * i)) & 0xFF).toByte).toArray
    }
    val sheet =
      Xlsb.rec(129, Array.empty) ++ Xlsb.rec(145, Array.empty) ++        // begin sheet/data
      Xlsb.rec(0, Xlsb.w32(0)) ++                                        // row 0 (header)
      Xlsb.stCell(0, "a") ++ Xlsb.stCell(1, "b") ++ Xlsb.stCell(2, "c") ++
      Xlsb.stCell(3, "d") ++ Xlsb.stCell(4, "e") ++
      Xlsb.rec(0, Xlsb.w32(1)) ++                                        // row 1
      Xlsb.rec(2, Xlsb.w32(0) ++ Xlsb.w32(0) ++ Xlsb.w32((1250 << 2) | 3)) ++ // RK 12.5
      Xlsb.rec(5, Xlsb.w32(1) ++ Xlsb.w32(0) ++ dbl(2.75)) ++            // real
      Xlsb.rec(4, Xlsb.w32(2) ++ Xlsb.w32(0) ++ Array(1.toByte)) ++      // bool TRUE
      Xlsb.rec(7, Xlsb.w32(3) ++ Xlsb.w32(0) ++ Xlsb.w32(1)) ++          // isst → "shared2"
      Xlsb.rec(9, Xlsb.w32(4) ++ Xlsb.w32(0) ++ dbl(7.0)) ++             // formula cached num
      Xlsb.rec(146, Array.empty) ++ Xlsb.rec(130, Array.empty)           // end data/sheet
    val sst =
      Xlsb.rec(159, Xlsb.w32(2) ++ Xlsb.w32(2)) ++
      Xlsb.rec(19, Array(0.toByte) ++ Xlsb.wide("shared1")) ++
      Xlsb.rec(19, Array(0.toByte) ++ Xlsb.wide("shared2")) ++
      Xlsb.rec(160, Array.empty)
    val d = tempDir("xlsbrec")
    val f = d.resolve("wb.xlsb").toString
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    def put(name: String, content: Array[Byte]): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name)); zos.write(content); zos.closeEntry()
    }
    put("xl/workbook.bin", Xlsb.workbookBin(Seq("mix")))
    put("xl/sharedStrings.bin", sst)
    put("xl/worksheets/sheet1.bin", sheet) // no rels part → index fallback
    zos.close()
    val rows = Xlsx.readWorkbook(spark, f).head._2.collect()
    assert(rows.length == 1)
    assert(rows.head.toSeq == Seq("12.5", "2.75", "TRUE", "shared2", "7"))
  }

  test("truncated/corrupt .xlsb fails with the defined malformed-record error") {
    // Chop a valid workbook part mid-record: the reader must raise the
    // module's defined error, never a raw ArrayIndexOutOfBoundsException.
    val wb = Xlsb.workbookBin(Seq("sheet_with_a_name"))
    val truncated = wb.take(wb.length - 7)
    val f = tempDir("xlsbtrunc").resolve("wb.xlsb").toString
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    zos.putNextEntry(new java.util.zip.ZipEntry("xl/workbook.bin")); zos.write(truncated); zos.closeEntry()
    zos.close()
    val ex = intercept[IllegalArgumentException](Xlsx.readWorkbook(spark, f))
    assert(ex.getMessage.contains("malformed .xlsb record"))
  }

  test("written [Content_Types].xml carries per-part Overrides (workbook + sheets)") {
    val df = Seq(("1", "a")).toDF("id", "v")
    val f = tempDir("xlsbct").resolve("wb.xlsb").toString
    Xlsb.writeWorkbook(Seq("s1" -> df, "s2" -> df), f)
    val entries = Xlsx.readZipBytes(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
    val ct = new String(entries("[Content_Types].xml"), "UTF-8")
    assert(ct.contains("""PartName="/xl/workbook.bin""""))
    assert(ct.contains("""PartName="/xl/worksheets/sheet1.bin" ContentType="application/vnd.ms-excel.worksheet""""))
    assert(ct.contains("""PartName="/xl/worksheets/sheet2.bin""""))
  }

  test("two-byte record ids and multi-byte lengths frame correctly") {
    // id 156 (BundleSh) needs two id bytes; a >127-byte payload needs a
    // two-byte length. Round-trip through the writer's framing.
    val longName = "s" * 100 // wide() → 4 + 200 bytes payload > 127
    val wb = Xlsb.workbookBin(Seq(longName))
    val f = tempDir("xlsbframe").resolve("wb.xlsb").toString
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    zos.putNextEntry(new java.util.zip.ZipEntry("xl/workbook.bin")); zos.write(wb); zos.closeEntry()
    zos.close()
    val sheets = Xlsx.readWorkbook(spark, f)
    assert(sheets.map(_._1) == Seq(longName))
  }
}

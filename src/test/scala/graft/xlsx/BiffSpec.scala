package graft.xlsx

import graft.SparkSpec

class BiffSpec extends SparkSpec {
  import spark.implicits._

  test(".xls write → read round-trips multiple sheets (P4 legacy path)") {
    val s1 = Seq(("1", "a&<b>", ""), ("2", "plain", "x")).toDF("id", "v", "w")
    val s2 = Seq(("only", "row")).toDF("p", "q")
    val f = tempDir("biffspec").resolve("wb.xls").toString
    Biff.writeWorkbook(Seq("first" -> s1, "second" -> s2), f)
    val back = Xlsx.readWorkbook(spark, f)
    assert(back.map(_._1) == Seq("first", "second"))
    val r1 = back.head._2.orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(r1.toSeq == Seq(("1", "a&<b>", ""), ("2", "plain", "x")))
    val r2 = back(1)._2.collect().map(r => (r.getString(0), r.getString(1)))
    assert(r2.toSeq == Seq(("only", "row")))
  }

  test("NUMBER/RK/MULRK/BOOLERR cells decode with JS-style number images") {
    // Hand-built worksheet with every numeric record shape.
    def numberRec(row: Int, col: Int, d: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(d)
      Biff.rec(0x0203, Biff.w16(row) ++ Biff.w16(col) ++ Biff.w16(0) ++
        (0 until 8).map(i => ((bits >> (8 * i)) & 0xFF).toByte).toArray)
    }
    def rkRec(row: Int, col: Int, rk: Int): Array[Byte] =
      Biff.rec(0x027E, Biff.w16(row) ++ Biff.w16(col) ++ Biff.w16(0) ++ Biff.w32(rk))
    val mulrk = Biff.rec(0x00BD, Biff.w16(2) ++ Biff.w16(0) ++
      (Biff.w16(0) ++ Biff.w32((7 << 2) | 2)) ++ // int RK 7
      (Biff.w16(0) ++ Biff.w32(((1250 << 2) | 3))) ++ // int RK 1250/100 = 12.5
      Biff.w16(1))
    val boolRec = Biff.rec(0x0205, Biff.w16(3) ++ Biff.w16(0) ++ Biff.w16(0) ++
      Array(1.toByte, 0.toByte))
    val sheet = Biff.bof(0x0010) ++
      Biff.labelCell(0, 0, "a") ++ Biff.labelCell(0, 1, "b") ++
      numberRec(1, 0, 3.0) ++ numberRec(1, 1, 2.5) ++
      mulrk ++ boolRec ++
      Biff.rec(0x000A, Array.empty)
    val f = tempDir("biffnum").resolve("n.xls").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      Biff.cfbBytes(Biff.workbookStream(Seq("nums" -> sheet))))
    val rows = Xlsx.readWorkbook(spark, f).head._2.orderBy("a").collect()
    val grid = rows.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(grid == Seq(("3", "2.5"), ("7", "12.5"), ("TRUE", "")))
  }

  test("FORMULA cells emit cached results: numeric, string via STRING record, boolean") {
    // FORMULA record: row, col, ixfe, num[8], grbit, chn, cce(=0 tokens).
    def formulaRec(row: Int, col: Int, num: Array[Byte]): Array[Byte] =
      Biff.rec(0x0006, Biff.w16(row) ++ Biff.w16(col) ++ Biff.w16(0) ++ num ++
        Biff.w16(0) ++ Biff.w32(0) ++ Biff.w16(0))
    def dblNum(d: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(d)
      (0 until 8).map(i => ((bits >> (8 * i)) & 0xFF).toByte).toArray
    }
    // special encodings: num[0]=kind, num[6..7]=0xFFFF
    def specialNum(kind: Int, v: Int): Array[Byte] =
      Array(kind.toByte, 0, v.toByte, 0, 0, 0, 0xFF.toByte, 0xFF.toByte)
    val strPayload = {
      val s = "cached!"
      Biff.w16(s.length) ++ Array(0.toByte) ++ s.getBytes("ISO-8859-1")
    }
    val sheet = Biff.bof(0x0010) ++
      Biff.labelCell(0, 0, "a") ++ Biff.labelCell(0, 1, "b") ++
      Biff.labelCell(0, 2, "c") ++ Biff.labelCell(0, 3, "d") ++
      formulaRec(1, 0, dblNum(42.5)) ++            // numeric cached result
      formulaRec(1, 1, specialNum(0, 0)) ++        // string → STRING record
      Biff.rec(0x0207, strPayload) ++
      formulaRec(1, 2, specialNum(1, 1)) ++        // boolean TRUE
      formulaRec(1, 3, specialNum(2, 0x2A)) ++     // error → no value → ''
      Biff.rec(0x000A, Array.empty)
    val f = tempDir("bifffml").resolve("f.xls").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      Biff.cfbBytes(Biff.workbookStream(Seq("fml" -> sheet))))
    val rows = Xlsx.readWorkbook(spark, f).head._2.collect()
    assert(rows.length == 1)
    assert(rows.head.toSeq == Seq("42.5", "cached!", "TRUE", ""))
  }

  test("FORMULA cached string spanning a CONTINUE record decodes whole") {
    def formulaRec(row: Int, col: Int): Array[Byte] =
      Biff.rec(0x0006, Biff.w16(row) ++ Biff.w16(col) ++ Biff.w16(0) ++
        Array[Byte](0, 0, 0, 0, 0, 0, 0xFF.toByte, 0xFF.toByte) ++
        Biff.w16(0) ++ Biff.w32(0) ++ Biff.w16(0))
    val head = "front-"
    val tail = "continued"
    // STRING declares the full cch but carries only the head; the
    // CONTINUE restates the width byte and carries the rest.
    val strPayload = Biff.w16(head.length + tail.length) ++ Array(0.toByte) ++
      head.getBytes("ISO-8859-1")
    val contPayload = Array(0.toByte) ++ tail.getBytes("ISO-8859-1")
    val sheet = Biff.bof(0x0010) ++
      Biff.labelCell(0, 0, "a") ++
      formulaRec(1, 0) ++
      Biff.rec(0x0207, strPayload) ++
      Biff.rec(0x003C, contPayload) ++
      Biff.rec(0x000A, Array.empty)
    val f = tempDir("biffstrc").resolve("c.xls").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      Biff.cfbBytes(Biff.workbookStream(Seq("s" -> sheet))))
    val rows = Xlsx.readWorkbook(spark, f).head._2.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "front-continued")
  }

  test("SST strings spanning CONTINUE records (LABELSST path)") {
    // Two strings; the second's character data is split across the SST
    // record and a CONTINUE record, which restates the width byte.
    val s1 = "alpha"
    val s2head = "long-"
    val s2tail = "tail"
    val sstPayload = Biff.w32(2) ++ Biff.w32(2) ++
      (Biff.w16(s1.length) ++ Array(0.toByte) ++ s1.getBytes("ISO-8859-1")) ++
      (Biff.w16(s2head.length + s2tail.length) ++ Array(0.toByte) ++ s2head.getBytes("ISO-8859-1"))
    val continuePayload = Array(0.toByte) ++ s2tail.getBytes("ISO-8859-1")
    def lsst(row: Int, col: Int, isst: Int): Array[Byte] =
      Biff.rec(0x00FD, Biff.w16(row) ++ Biff.w16(col) ++ Biff.w16(0) ++ Biff.w32(isst))
    val sheet = Biff.bof(0x0010) ++ lsst(0, 0, 0) ++ lsst(1, 0, 1) ++
      Biff.rec(0x000A, Array.empty)
    // globals assembled by hand to interleave SST + CONTINUE
    val boundsheetLen = Biff.boundsheet(0, "s").length
    val globalsSize = Biff.bof(0x0005).length + boundsheetLen +
      Biff.rec(0x00FC, sstPayload).length + Biff.rec(0x003C, continuePayload).length +
      Biff.rec(0x000A, Array.empty).length
    val stream = Biff.bof(0x0005) ++ Biff.boundsheet(globalsSize, "s") ++
      Biff.rec(0x00FC, sstPayload) ++ Biff.rec(0x003C, continuePayload) ++
      Biff.rec(0x000A, Array.empty) ++ sheet
    val f = tempDir("biffsst").resolve("s.xls").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(f), Biff.cfbBytes(stream))
    val df = Xlsx.readWorkbook(spark, f).head._2
    // header row = "alpha"; one data row = "long-tail"
    assert(df.columns.toSeq == Seq("alpha"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("long-tail"))
  }

  test("rich-text cells surface text content: inline RSTRING and rich SST strings") {
    // RSTRING (0x00D6): same layout as LABEL but with trailing
    // formatting runs (cRuns word + 4 bytes/run) after the chars —
    // the text decodes, the runs are ignored.
    val rsText = "styled"
    val rstring = Biff.rec(0x00D6, Biff.w16(1) ++ Biff.w16(0) ++ Biff.w16(0) ++
      Biff.w16(rsText.length) ++ Array(0.toByte) ++ rsText.getBytes("ISO-8859-1") ++
      Biff.w16(2) ++ Biff.w16(0) ++ Biff.w16(5) ++ Biff.w16(3) ++ Biff.w16(7))
    // Rich SST string (grbit bit 0x08): cch, grbit, cRuns, chars, runs.
    val richText = "richsst"
    val sstPayload = Biff.w32(1) ++ Biff.w32(1) ++
      (Biff.w16(richText.length) ++ Array(0x08.toByte) ++ Biff.w16(1) ++
        richText.getBytes("ISO-8859-1") ++ Biff.w16(0) ++ Biff.w16(4))
    val lsst = Biff.rec(0x00FD, Biff.w16(1) ++ Biff.w16(1) ++ Biff.w16(0) ++ Biff.w32(0))
    val sheet = Biff.bof(0x0010) ++
      Biff.labelCell(0, 0, "a") ++ Biff.labelCell(0, 1, "b") ++
      rstring ++ lsst ++
      Biff.rec(0x000A, Array.empty)
    val boundsheetLen = Biff.boundsheet(0, "s").length
    val globalsSize = Biff.bof(0x0005).length + boundsheetLen +
      Biff.rec(0x00FC, sstPayload).length + Biff.rec(0x000A, Array.empty).length
    val stream = Biff.bof(0x0005) ++ Biff.boundsheet(globalsSize, "s") ++
      Biff.rec(0x00FC, sstPayload) ++ Biff.rec(0x000A, Array.empty) ++ sheet
    val f = tempDir("biffrs").resolve("r.xls").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(f), Biff.cfbBytes(stream))
    val rows = Xlsx.readWorkbook(spark, f).head._2.collect()
    assert(rows.length == 1)
    assert(rows.head.toSeq == Seq("styled", "richsst"))
  }

  test("streams beyond the header DIFAT capacity round-trip (chained DIFAT sectors)") {
    // ~11 MB of label cells → >109 FAT sectors → the header's DIFAT
    // overflows into chained DIFAT sectors, which the reader follows.
    val df = spark.range(30000).selectExpr(
      ("CAST(id AS STRING) AS id" +: (1 to 9).map(i => s"repeat('x', 30) AS c$i")): _*)
    val f = tempDir("biffdifat").resolve("big.xls").toString
    Biff.writeWorkbook(Seq("big" -> df), f)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(f)) > 109 * 128 * 512L)
    val back = Xlsx.readWorkbook(spark, f).head._2
    assert(back.count() == 30000)
    val row = back.filter(org.apache.spark.sql.functions.col("id") === "29999").collect()
    assert(row.length == 1 && row.head.getString(9) == "x" * 30)
  }

  test("dispatcher routes .xls through Biff and rejects unknown extensions") {
    val s1 = Seq(("1", "x")).toDF("id", "v")
    val xls = tempDir("anyxls").resolve("wb.xls").toString
    Biff.writeWorkbook(Seq("s" -> s1), xls)
    assert(Xlsx.readWorkbook(spark, xls).head._2.count() == 1)
    intercept[IllegalArgumentException] {
      Xlsx.readWorkbook(spark, "/tmp/nope.ods")
    }
  }
}

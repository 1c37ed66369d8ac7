package graft.xlsx

import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** Container-level interop evidence for the three binary workbook
  * writers. No third-party Office reader exists in this offline
  * container, so these cases byte-assert the exact structural
  * invariants such a reader checks first: zip end-of-central-directory
  * bookkeeping (.xlsx/.xlsb), the CFB header + FAT/directory chain
  * (.xls), and BIFF12 record framing (.xlsb) — plus the `.xls`
  * writer's loud refusal at the format's own 65536-row ceiling. */
class InteropSpec extends SparkSpec {
  import spark.implicits._

  private def writeTmp(ext: String)(write: String => Unit): Array[Byte] = {
    val f = tempDir("interop").resolve(s"wb.$ext")
    write(f.toString)
    Files.readAllBytes(f)
  }

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], i: Int): Long =
    (0 until 4).map(j => (b(i + j).toLong & 0xFF) << (8 * j)).sum

  /** Minimal central-directory audit of a zip container: EOCD present,
    * entry counts agree, every central header resolves to a local
    * header, and the expected part names are all present. */
  private def auditZip(b: Array[Byte], mustContain: Seq[String]): Unit = {
    // EOCD ('PK\5\6') sits in the last 22+comment bytes; writers here
    // emit no comment, so it is exactly the trailing 22.
    val eocd = b.length - 22
    assert(u32(b, eocd) == 0x06054b50L, "EOCD signature missing at trailing 22 bytes")
    val nEntries = u16(b, eocd + 10)
    val cdSize = u32(b, eocd + 12)
    val cdOff = u32(b, eocd + 16)
    assert(cdOff + cdSize == eocd, "central directory must end exactly at the EOCD")
    var off = cdOff.toInt
    val names = Seq.newBuilder[String]
    (0 until nEntries).foreach { _ =>
      assert(u32(b, off) == 0x02014b50L, s"central header signature at $off")
      val nameLen = u16(b, off + 28)
      val extraLen = u16(b, off + 30)
      val commentLen = u16(b, off + 32)
      val lho = u32(b, off + 42).toInt
      assert(u32(b, lho) == 0x04034b50L, s"local header at $lho for central entry at $off")
      val name = new String(b, off + 46, nameLen, "UTF-8")
      assert(name == new String(b, lho + 30, u16(b, lho + 26), "UTF-8"),
        "central/local name mismatch")
      names += name
      off += 46 + nameLen + extraLen + commentLen
    }
    assert(off == eocd, "central directory records must fill cdSize exactly")
    val present = names.result().toSet
    mustContain.foreach(n => assert(present.contains(n), s"missing zip part $n"))
  }

  test("xlsx container: central directory bookkeeping + required OOXML parts") {
    val df = Seq(("1", "a"), ("2", "b")).toDF("id", "v")
    val bytes = writeTmp("xlsx")(f => Xlsx.writeWorkbook(Seq("s1" -> df), f))
    auditZip(bytes, Seq("[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
      "xl/_rels/workbook.xml.rels", "xl/worksheets/sheet1.xml"))
  }

  test("xlsb container: zip audit + BIFF12 framing of workbook and sheet parts") {
    val df = Seq(("1", "a"), ("2", "b")).toDF("id", "v")
    val bytes = writeTmp("xlsb")(f => Xlsb.writeWorkbook(Seq("s1" -> df), f))
    auditZip(bytes, Seq("[Content_Types].xml", "_rels/.rels", "xl/workbook.bin",
      "xl/_rels/workbook.bin.rels", "xl/worksheets/sheet1.bin"))
    // Walk each .bin part by the BIFF12 framing rules ([MS-XLSB]
    // 2.1.4): 1-2 byte id (7 bits/byte, high bit continues), 1-4 byte
    // 7-bit length, payload. The walk must land exactly on the part's
    // final byte, first/last record ids must be the Begin/End pair.
    def partOf(name: String): Array[Byte] = {
      val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
          .collectFirst { case e if e.getName == name => zin.readAllBytes() }
          .getOrElse(fail(s"part $name not in container"))
      } finally zin.close()
    }
    def frame(part: Array[Byte]): Seq[Int] = {
      val ids = Seq.newBuilder[Int]
      var off = 0
      while (off < part.length) {
        var id = part(off) & 0xFF; off += 1
        if ((id & 0x80) != 0) { id = (id & 0x7F) | ((part(off) & 0x7F) << 7); off += 1 }
        var len = 0; var shift = 0; var more = true
        while (more) {
          val v = part(off) & 0xFF; off += 1
          len |= (v & 0x7F) << shift; shift += 7
          more = (v & 0x80) != 0 && shift < 28
        }
        assert(off + len <= part.length, s"record $id length $len overruns part")
        ids += id
        off += len
      }
      assert(off == part.length, "framing must consume the part exactly")
      ids.result()
    }
    val wb = frame(partOf("xl/workbook.bin"))
    assert(wb.head == 131 && wb.last == 132, "workbook.bin must be BrtBeginBook..BrtEndBook")
    val ws = frame(partOf("xl/worksheets/sheet1.bin"))
    assert(ws.head == 129 && ws.last == 130, "sheet1.bin must be BrtBeginSheet..BrtEndSheet")
  }

  test("xls container: CFB header, FAT-walked directory chain, Workbook stream") {
    val df = Seq(("1", "a"), ("2", "b")).toDF("id", "v")
    val b = writeTmp("xls")(f => Biff.writeWorkbook(Seq("s1" -> df), f))
    // CFB header ([MS-CFB] 2.2): signature, little-endian marker,
    // 512-byte sectors (shift 9), mini sector shift 6.
    assert((0 until 8).map(i => b(i) & 0xFF) == Seq(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1))
    assert(u16(b, 28) == 0xFFFE, "byte-order marker")
    assert(u16(b, 30) == 9 && u16(b, 32) == 6, "sector shifts")
    val nFat = u32(b, 44)
    val dirStart = u32(b, 48)
    def sector(n: Long): Int = 512 * (n.toInt + 1)
    // FAT sectors from the header DIFAT (all writers here stay within
    // the 109-entry header DIFAT for small files; entries past nFat
    // must be FREESECT).
    val difat = (0 until 109).map(i => u32(b, 76 + 4 * i))
    assert(difat.count(_ != 0xFFFFFFFFL) == nFat, "header DIFAT entry count vs nFat")
    def fatAt(sec: Long): Long = {
      val fatSector = difat((sec / 128).toInt)
      u32(b, sector(fatSector) + 4 * (sec % 128).toInt)
    }
    // Walk the directory chain through the FAT: must terminate at
    // ENDOFCHAIN within the file, never FREESECT or a loop.
    var cur = dirStart; var hops = 0
    val dirSectors = Seq.newBuilder[Long]
    while (cur != 0xFFFFFFFEL) {
      assert(cur != 0xFFFFFFFFL, "directory chain hit FREESECT")
      assert(hops < 10000, "directory chain loops")
      dirSectors += cur
      cur = fatAt(cur); hops += 1
    }
    // Directory entries are 128 bytes, names UTF-16LE. Root Entry and
    // the BIFF8 'Workbook' stream must both exist.
    val names = dirSectors.result().flatMap { s =>
      (0 until 4).map { k =>
        val off = sector(s) + 128 * k
        val nameLen = u16(b, off + 64)
        if (nameLen >= 2) new String(b, off, nameLen - 2, "UTF-16LE") else ""
      }
    }
    assert(names.contains("Root Entry"), "CFB Root Entry missing")
    assert(names.contains("Workbook"), "BIFF8 Workbook stream missing")
  }

  test(".xls writer refuses >65536 rows with the format-cap error (and 65536 exactly fits)") {
    // 65535 data rows + 1 header row = 65536 grid rows: the exact BIFF8
    // ceiling — must succeed. One more data row must fail loud.
    val fits = spark.range(65535).selectExpr("CAST(id AS STRING) AS id")
    val f = tempDir("xlscap").resolve("cap.xls").toString
    Biff.writeWorkbook(Seq("cap" -> fits), f)
    assert(Files.size(Paths.get(f)) > 0)
    val over = spark.range(65536).selectExpr("CAST(id AS STRING) AS id")
    val target = tempDir("xlscap2").resolve("over.xls")
    val e = intercept[IllegalArgumentException] {
      Biff.writeWorkbook(Seq("over" -> over), target.toString)
    }
    assert(e.getMessage.contains("65536"), s"error must name the format cap: ${e.getMessage}")
    // every sheet encodes before the target is opened
    assert(!Files.exists(target), s"a refused write must leave no file at $target")
  }
}

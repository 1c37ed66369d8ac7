package graft.xlsx

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Byte pins for the three workbook writers on one set of sheets: the
  * name, order and SHA-256 of every zip entry of the `.xlsx` and
  * `.xlsb` files (zip entry timestamps vary, so the entry contents are
  * hashed, not the file) and the SHA-256 of the whole `.xls` file. A
  * refactor of the writers must keep every written byte; a mismatch
  * names the entry and its new digest. */
class WorkbookBytesSpec extends SparkSpec {
  import spark.implicits._

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xFF}%02x").mkString

  /** Two names that sanitize to the same "data 2024 Q1" (the second
    * becomes "data 2024 Q1_1"); a null, an empty string, non-ASCII
    * text, an int and a date column; a zero-row sheet; and a sheet
    * spread over 3 partitions, whose row order and row numbers cross
    * partition boundaries. */
  private def sheets: Seq[(String, DataFrame)] = {
    val mixed = Seq(
      ("plain", 1, "2024-01-31"),
      (null, -7, "1999-12-31"),
      ("", 0, "2000-02-29"),
      ("한국어 café", 42, "2024-06-01"),
      ("a&<b> \"q\"", Int.MaxValue, "1970-01-01"))
      .toDF("text", "n", "d").withColumn("d", to_date(col("d")))
    val spread = spark.range(0, 40, 1, 2)
      .select(col("id").cast("string").as("id"), (col("id") * 3).as("x"))
      .repartition(3)
    Seq("data/2024:Q1" -> mixed, "data?2024*Q1" -> mixed.limit(0), "spread" -> spread)
  }

  private def zipEntries(file: String): Seq[(String, String)] = {
    val zis = new java.util.zip.ZipInputStream(Files.newInputStream(Paths.get(file)))
    try Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> sha256(zis.readAllBytes())).toSeq
    finally zis.close()
  }

  /** (writer, entry) → digest, in the order the files hold them. */
  private def written: Seq[(String, String)] = {
    val dir = tempDir("workbook_bytes")
    val xlsx = dir.resolve("w.xlsx").toString
    val xlsb = dir.resolve("w.xlsb").toString
    val xls = dir.resolve("w.xls").toString
    Xlsx.writeWorkbook(sheets, xlsx)
    Xlsb.writeWorkbook(sheets, xlsb)
    Biff.writeWorkbook(sheets, xls)
    zipEntries(xlsx).map { case (n, h) => s"xlsx:$n" -> h } ++
      zipEntries(xlsb).map { case (n, h) => s"xlsb:$n" -> h } ++
      Seq("xls" -> sha256(Files.readAllBytes(Paths.get(xls))))
  }

  /** Digests recorded from the writers before they shared one row
    * path and one package writer. */
  private val pinned: Seq[(String, String)] = Seq(
    "xlsx:[Content_Types].xml" -> "5745494062e9c0be02b23d85e15a01e849f7a9a72ae2abe7288d704913b39858",
    "xlsx:_rels/.rels" -> "f2f3948a1b6f661f2a5169a86b7029166acd4b79d7abfd37fa2b646fe302bfd6",
    "xlsx:xl/workbook.xml" -> "8337fa94e99b00b93f06c7cf695a564b27e6679519041c3fa598d8582e5d9824",
    "xlsx:xl/_rels/workbook.xml.rels" -> "b5565a9cf33b2d192d2162fe06aae96b8bba7a496cad251ad94b9e3d5e754398",
    "xlsx:xl/worksheets/sheet1.xml" -> "9366ee645ed9dd97b91b34d2d81318b168cfa033eaee56c15a3bcf7dc916af3c",
    "xlsx:xl/worksheets/sheet2.xml" -> "9bcc1995d2def4da0889ed3dba5e0c15aecfa526bbfd906ef6ddf1027148231a",
    "xlsx:xl/worksheets/sheet3.xml" -> "6805b33d4fb09a68098558e6555374e77dae88dd81e05a04cf325edc251cc13b",
    "xlsb:[Content_Types].xml" -> "85186e769e57c6dc33fa1c5c54a3d17bed59ffec17eabe94a6bfb3e96bb22e61",
    "xlsb:_rels/.rels" -> "e5a12178e77b419be86690282581b74763943fd874f057b6dfba46e2ac2b5217",
    "xlsb:xl/workbook.bin" -> "b2956a1a6f39e3d8e9ddb0025e4d9bb13260400d310939638c57b99ba49544cc",
    "xlsb:xl/_rels/workbook.bin.rels" -> "7b8e297f8a646b4bcebcce2b12ae8f57551f81f03cc124e857614eb695488921",
    "xlsb:xl/worksheets/sheet1.bin" -> "229d2e744338a2750a606e1bddd69c514bd839c536ff076ba8fe353386b3ac19",
    "xlsb:xl/worksheets/sheet2.bin" -> "42581f2504f2bd4806d34e2442c13214cbfc33e95b61a4c2f1360858fcd8d11d",
    "xlsb:xl/worksheets/sheet3.bin" -> "e94df5ba5968feee3408fdcce7bd89c609a070b88157077e2a9e192832f14b4a",
    "xls" -> "ada69f86c70d192aef9939a62ed99311103cf5aa2199400fbe11a8a700c110f3")

  test("every workbook writer's entries are byte-identical to their pinned digests") {
    val got = written
    assert(got == pinned, got.map { case (k, h) => s"\"$k\" -> \"$h\"," }.mkString("\n", "\n", ""))
  }
}

package graft.xlsx

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{StringFileSource, StringFormat}

/** DataSource V2 XLSX reader on the shared file scan
  * ([[graft.sources.FileSource]] holds the pruning, filter and limit
  * contract).
  *
  * Where `Xlsx.readWorkbook` parses one workbook on the driver (the
  * workbook-export path), this connector reads a *directory of
  * workbooks* as one table: only the `.xlsx` files in it, one partition
  * per workbook, zip + StAX parse inside executors, schema = the
  * header row of the first workbook's chosen sheet.
  *
  * Options: `path`, `sheet` (name; default = each file's first sheet).
  */
class XlsxDataSource extends StringFileSource {
  override def shortName(): String = "graft-xlsx"
  override protected def accept(name: String): Boolean =
    name.toLowerCase.endsWith(".xlsx")
  override protected def format(options: CaseInsensitiveStringMap): StringFormat =
    XlsxFormat(Option(options.get("sheet")).filter(_.nonEmpty))
}

object XlsxDataSource {

  /** Read a file/directory of workbooks as one table through the DSv2
    * connector (pruning-capable scan). */
  def readTable(spark: SparkSession, path: String, sheet: Option[String] = None): DataFrame = {
    val r = spark.read.format(classOf[XlsxDataSource].getName)
    sheet.foreach(s => r.option("sheet", s))
    r.load(path)
  }
}

private case class XlsxFormat(sheet: Option[String]) extends StringFormat {

  private def grid(file: Array[Byte]) = Xlsx.parseSheetGrid(file, sheet)

  override def schema(file: Array[Byte]): StructType =
    StructType(grid(file)._1.map(h => StructField(h, StringType, nullable = false)))

  override def rows(file: Array[Byte], keep: Set[String]): Iterator[String => String] = {
    val (header, rows) = grid(file)
    // first occurrence wins, as in the schema's column order
    val at = header.zipWithIndex.reverseIterator.toMap
    rows.iterator.map { r => (c: String) =>
      at.get(c).collect { case i if i < r.length => r(i) }.getOrElse("")
    }
  }
}

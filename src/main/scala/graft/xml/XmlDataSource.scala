package graft.xml

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{StringFileSource, StringFormat}

/** DataSource V2 XML reader on the shared file scan
  * ([[graft.sources.FileSource]] holds the pruning, filter and limit
  * contract).
  *
  * XML is not block-splittable, so each file is one partition, StAX-
  * parsed inside the executor. The parser skips storing keys outside
  * the required and filter-referenced columns, so a `select(one_col)`
  * over wide XML does not pay memory for every column.
  *
  * Schema = union keys of the first 1000 rows of the first file (P2
  * sampling, driver-side pre-pass — mirroring the reference's
  * two-phase collectTables), all StringType, missing cells ''.
  *
  * Options: `path`, `rowTag`, `flatten` (nested elements → dot-path
  * columns).
  */
class XmlDataSource extends StringFileSource {
  override def shortName(): String = "graft-xml"
  override protected def format(options: CaseInsensitiveStringMap): StringFormat =
    XmlFormat(options.get("rowTag"), options.getBoolean("flatten", false))
}

object XmlDataSource {
  private[xml] def sampleSchema(options: CaseInsensitiveStringMap): StructType =
    new XmlDataSource().inferSchema(options)
}

private case class XmlFormat(rowTag: String, flatten: Boolean) extends StringFormat {

  private def parse(file: Array[Byte], keep: Option[Set[String]]) =
    Xml.parseRowsIter(new String(file, UTF_8), rowTag, flatten, keep)

  /** P2 schema probe: union keys of the first 1000 rows. The lazy
    * parseRowsIter cursor stops at row 1000 — a 1 GB document is read
    * whole but parsed only to row 1000. */
  override def schema(file: Array[Byte]): StructType = {
    val keys = mutable.LinkedHashSet.empty[String]
    parse(file, None).take(1000).foreach(_.keys.foreach(keys.add))
    StructType(keys.toSeq.map(k => StructField(k, StringType, nullable = false)))
  }

  override def rows(file: Array[Byte], keep: Set[String]): Iterator[String => String] =
    parse(file, Some(keep)).map(r => (c: String) => r.getOrElse(c, ""))
}

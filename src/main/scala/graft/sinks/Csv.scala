package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CSV/TXT sinks (SURVEY §2.2 K1-K3).
  *
  * Two CSV modes, both distributed (one output line per row, written
  * by Spark's text sink — splittable, no driver assembly):
  *  - `naive` (K1): values joined raw with no quoting — byte-compatible
  *    with the reference's rowsToCSV (FileUploader.tsx:164-170), kept
  *    as a compat flag because its output is lossy for values
  *    containing the delimiter.
  *  - `quoted` (K2, default): RFC-ish quoting of `" , \n` with `""`
  *    escape (reference toCSV, compare/page.tsx:397-417).
  */
object Csv {

  private def quoted(c: Column): Column =
    when(c.rlike("[\",\n]"),
      concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\"")))
      .otherwise(c)

  private def strCol(name: String): Column =
    coalesce(col(s"`$name`").cast("string"), lit(""))

  /** One CSV line per row (header not included — prepend via
    * `headerLine`). */
  def toCsvLines(df: DataFrame, naive: Boolean = false): DataFrame = {
    val cells = df.columns.map(c =>
      if (naive) strCol(c) else quoted(strCol(c)))
    df.select(concat_ws(",", cells.toSeq: _*).as("value"))
  }

  def headerLine(df: DataFrame, naive: Boolean = false): String =
    if (naive) df.columns.mkString(",")
    else df.columns.map { c =>
      if (c.exists("\",\n".contains(_))) "\"" + c.replace("\"", "\"\"") + "\"" else c
    }.mkString(",")

  /** Write CSV through the text sink (distributed; header per part via
    * Spark's own csv writer is preferred for plain exports — this path
    * exists for reference-compat modes). */
  def write(df: DataFrame, path: String, naive: Boolean = false): Unit =
    toCsvLines(df, naive).write.mode("overwrite").text(path)

  /** Single-file export with header — the reference's download shape
    * (rowsToCSV → one Blob). Lines render distributed; assembly
    * streams through the driver via toLocalIterator (O(row) memory,
    * same boundary as the XML/XLSX export writers). */
  def writeFile(df: DataFrame, file: String, naive: Boolean = false): Unit = {
    val p = java.nio.file.Paths.get(file)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val out = java.nio.file.Files.newOutputStream(p)
    try writeTo(df, out, naive) finally out.close()
  }

  /** Stream CSV (header + rows) into an already-open byte stream
    * without closing it — the O(row) renderer for container sinks
    * (Workbook.writeZipStreamed): rows arrive via toLocalIterator one
    * partition at a time, so a sheet larger than the heap still
    * exports. */
  def writeTo(df: DataFrame, out: java.io.OutputStream, naive: Boolean = false): Unit = {
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, "UTF-8"), 1 << 16)
    w.write(headerLine(df, naive)); w.write("\n")
    toCsvLines(df, naive).toLocalIterator()
      .forEachRemaining { r => w.write(r.getString(0)); w.write("\n") }
    w.flush() // flush through; the container owns the stream
  }

  /** K3: TXT write — `{value}` singleton sheets emit raw lines, any
    * other schema emits JSON-per-line (reference rowsToTXT,
    * FileUploader.tsx:171-176). */
  def writeTxt(df: DataFrame, path: String): Unit = {
    val out =
      if (df.columns.toSeq == Seq("value"))
        df.select(coalesce(col("value").cast("string"), lit("")).as("value"))
      else df.toJSON.toDF("value")
    out.write.mode("overwrite").text(path)
  }
}

package graft.xml

import java.io.StringReader
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** XML source/sink with the reference's semantics (SURVEY §2.1 S8-S10,
  * §2.2 K4, §2.8 F4/F5; reference components/FileUploader.tsx:65-161,
  * app/(contents)/random/page.tsx:143-172).
  *
  * Scale model: XML is not block-splittable, so the unit of parallelism
  * is the file — `spark.read.option("wholetext")` gives one row per
  * file and the StAX parse runs inside executors (flatMap), never on
  * the driver. Auto-detection (S9) samples one document on the driver
  * to discover candidate row tags, then the distributed reader does the
  * real scan — mirroring the reference's two-phase collectTables.
  */
object Xml {

  /** F5: XML name validity (reference FileUploader.tsx:128). */
  private val nameOk = "^[A-Za-z_][\\w.-]*$".r
  def xmlNameOk(s: String): Boolean = nameOk.matches(s)

  /** F4: escape `& < >` (reference esc, FileUploader.tsx:129-130). */
  def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  // -------------------------------------------------------------------
  // Reader
  // -------------------------------------------------------------------

  /** StAX scan of one document: every element named `rowTag` becomes a
    * row map with the reference's elementToRow shape — attributes as
    * `@name`, child elements as columns valued by their full descendant
    * text (trimmed), childless row elements contribute `{tag: text}`.
    * When `flatten` is set, nested elements become dot-path columns
    * (`a.b.c`, reference random/page.tsx:159-166) instead. `keep`
    * restricts the materialized keys (column pruning from the DSv2
    * scan — the parse still traverses, the row map stays narrow). */
  def parseRows(xml: String, rowTag: String, flatten: Boolean = false,
      keep: Option[Set[String]] = None): Seq[Map[String, String]] =
    parseRowsIter(xml, rowTag, flatten, keep).toSeq

  /** Lazy early-exit variant of [[parseRows]]: rows parse on demand, so
    * a bounded consumer (the 1000-row schema probe, a preview head)
    * stops the StAX cursor at its last requested row instead of paying
    * a full-document parse. Content past the last consumed row —
    * including a malformed tail — is never touched. The reader closes
    * on exhaustion; an early-exited iterator holds only an in-memory
    * StringReader (no OS handle), released by GC. */
  def parseRowsIter(xml: String, rowTag: String, flatten: Boolean = false,
      keep: Option[Set[String]] = None): Iterator[Map[String, String]] = {
    // `flatten`/`drop` etc. are Iterator methods — bind the params
    // outside the anonymous subclass to avoid shadowing.
    val doFlatten = flatten
    new Iterator[Map[String, String]] {
      private val factory = XMLInputFactory.newInstance()
      factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      private val reader = factory.createXMLStreamReader(new StringReader(xml))
      private var pending: Map[String, String] = _
      private var exhausted = false
      // Seek the cursor to the next rowTag element; parse only that
      // element. Called from hasNext, never eagerly, so next() on row N
      // does not look ahead past row N's END_ELEMENT.
      private def advance(): Unit = {
        while (pending == null && !exhausted) {
          if (!reader.hasNext) { exhausted = true; reader.close() }
          else reader.next() match {
            case XMLStreamConstants.START_ELEMENT if reader.getLocalName == rowTag =>
              val row = readRowElement(reader, doFlatten)
              pending = keep.fold(row)(ks => row.view.filterKeys(ks).toMap)
            case _ =>
          }
        }
      }
      override def hasNext: Boolean = { if (pending == null) advance(); pending != null }
      override def next(): Map[String, String] = {
        if (!hasNext) throw new NoSuchElementException("parseRowsIter")
        val r = pending; pending = null; r
      }
    }
  }

  /** Consume one row element (cursor on its START_ELEMENT). */
  private def readRowElement(reader: javax.xml.stream.XMLStreamReader,
      flatten: Boolean): Map[String, String] = {
    val rowName = reader.getLocalName
    val row = mutable.LinkedHashMap.empty[String, String]
    (0 until reader.getAttributeCount)
      .foreach(i => row(s"@${reader.getAttributeLocalName(i)}") = reader.getAttributeValue(i))
    val ownText = new StringBuilder
    var sawChild = false
    var depth = 0
    // (name-path, text accumulator) for the child currently being read
    var childPath: List[String] = Nil
    val childText = mutable.LinkedHashMap.empty[String, StringBuilder]
    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          sawChild = true
          childPath = reader.getLocalName :: childPath
          val key =
            if (flatten) childPath.reverse.mkString(".")
            else childPath.last // direct child name owns all descendant text
          if (!flatten && depth == 1)
            childText(key) = new StringBuilder // repeated tag → last wins
          else childText.getOrElseUpdate(key, new StringBuilder)
          if (flatten)
            (0 until reader.getAttributeCount).foreach(i =>
              row(s"${childPath.reverse.mkString(".")}.@${reader.getAttributeLocalName(i)}") =
                reader.getAttributeValue(i))
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (depth == 0) ownText.append(reader.getText)
          else {
            val key =
              if (flatten) childPath.reverse.mkString(".")
              else childPath.last
            childText(key).append(reader.getText)
          }
        case XMLStreamConstants.END_ELEMENT =>
          if (depth == 0) done = true
          else { depth -= 1; childPath = childPath.tail }
        case _ =>
      }
    }
    if (!sawChild) row(rowName) = ownText.toString.trim
    else childText.foreach { case (k, sb) =>
      if (!flatten || sb.toString.trim.nonEmpty) row(k) = sb.toString.trim
    }
    row.toMap
  }

  /** S9 auto-detection on one sampled document: any element with ≥2
    * same-tag children becomes a table `path_tag` (reference
    * collectTables, FileUploader.tsx:95-123). Returns table name →
    * rowTag. Zero tables → fallback `{#text}` single row; parse failure
    * → error row with the first 1 KB of raw text. */
  def detectTables(xml: String): Either[Seq[Map[String, String]], Map[String, String]] =
    try {
      val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      val doc = dbf.newDocumentBuilder().parse(
        new org.xml.sax.InputSource(new StringReader(xml)))
      val out = mutable.LinkedHashMap.empty[String, String]
      def walk(el: org.w3c.dom.Element, path: String): Unit = {
        val kids = elemChildren(el)
        val freq = mutable.LinkedHashMap.empty[String, Int]
        kids.foreach(k => freq(k.getTagName) = freq.getOrElse(k.getTagName, 0) + 1)
        freq.foreach { case (tag, n) =>
          if (n >= 2 && !out.contains(s"${path}_$tag")) out(s"${path}_$tag") = tag
        }
        kids.foreach(k => walk(k, s"${path}_${k.getTagName}"))
      }
      val root = doc.getDocumentElement
      walk(root, root.getTagName)
      if (out.isEmpty)
        Left(Seq(Map("#text" -> Option(root.getTextContent).getOrElse("").trim)))
      else Right(out.toMap)
    } catch {
      case _: Throwable =>
        Left(Seq(Map("error" -> "XML parse failure", "raw" -> xml.take(1000))))
    }

  private def elemChildren(el: org.w3c.dom.Element): Seq[org.w3c.dom.Element] = {
    val nl = el.getChildNodes
    (0 until nl.getLength).map(nl.item)
      .collect { case e: org.w3c.dom.Element => e }
  }

  /** S9 end-to-end: auto-detect tables on a sampled document, then run
    * the distributed reader per detected table — the reference's
    * parseXMLtoSheets auto path (FileUploader.tsx:95-123 feeding sheets
    * at :319-330). The sample is one document (executor-read, collected
    * bounded); the per-table scans are full distributed reads over
    * every file under `path`. Zero tables → single `#text` fallback
    * sheet; parse failure → single error sheet with the first 1 KB of
    * raw text — both as the reference defines them. */
  def readAutoDetected(spark: SparkSession, path: String): graft.core.Workbook = {
    import spark.implicits._
    val sample = spark.read.option("wholetext", "true").text(path)
      .as[String].limit(1).collect().headOption.getOrElse("")
    detectTables(sample) match {
      case Right(tables) =>
        graft.core.Workbook(tables.toSeq.map { case (name, tag) =>
          name -> readXml(spark, path, tag)
        }: _*)
      case Left(fallbackRows) =>
        graft.core.Workbook("doc" -> toDf(spark, spark.createDataset(fallbackRows)))
    }
  }

  /** Distributed row reader (S8): one row per `rowTag` element across
    * all files under path, via the DSv2 source — one partition per
    * file, StAX parse in executors, and column pruning pushed into the
    * scan (XmlDataSource). Schema = union keys of a 1000-row sample
    * (P2), missing cells '' (P10). */
  def readXml(spark: SparkSession, path: String, rowTag: String,
      flatten: Boolean = false): DataFrame =
    spark.read.format(classOf[XmlDataSource].getName)
      .option("rowTag", rowTag)
      .option("flatten", flatten.toString)
      .load(path)

  /** Materialize Map rows into an all-string DataFrame. The parsed
    * dataset is persisted (memory, disk spill) so the 1000-row schema
    * sample and the full pass parse each document once, not twice —
    * bounded by input size, and XML inputs are export-scale by this
    * module's design (see object scaladoc). */
  private[graft] def toDf(spark: SparkSession,
      maps: org.apache.spark.sql.Dataset[Map[String, String]]): DataFrame = {
    val cached = maps.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = {
      val seen = mutable.LinkedHashSet.empty[String]
      cached.limit(1000).collect().foreach(_.keys.foreach(seen.add))
      seen.toSeq
    }
    val schema = StructType(keys.map(k => StructField(k, StringType, nullable = false)))
    val rows = cached.rdd.map(m => Row.fromSeq(keys.map(k => m.getOrElse(k, ""))))
    // materialize the typed rows once, then drop the parse cache — the
    // parsed-Map relation must not stay pinned after the read returns
    graft.core.Materialize.drained(spark.createDataFrame(rows, schema), cached)
  }

  // -------------------------------------------------------------------
  // Writer (K4)
  // -------------------------------------------------------------------

  /** One `<row>` fragment per input row, 2-space indent, invalid tag
    * names → `<col name="...">` (reference rowsToXMLPretty,
    * FileUploader.tsx:128-161). Distributed: a narrow map per row. */
  def xmlRowFragment(keys: Seq[String], values: Seq[String], rowTag: String = "row"): String = {
    val sb = new StringBuilder
    sb.append(s"  <$rowTag>\n")
    keys.zip(values).foreach { case (k, v0) =>
      val v = esc(Option(v0).getOrElse(""))
      if (xmlNameOk(k)) sb.append(s"    <$k>$v</$k>\n")
      else sb.append(s"""    <col name="${esc(k)}">$v</col>\n""")
    }
    sb.append(s"  </$rowTag>")
    sb.result()
  }

  /** Distributed XML sink: each partition writes one complete
    * well-formed XML document (declaration + `rootTag` wrapping its row
    * fragments) through `df.write.text` — executors write their part
    * files in parallel, nothing streams through the driver, and output
    * bandwidth scales with partition count. Because every part is a
    * valid document, [[readXml]] over the output directory re-unions
    * the rows (one scan partition per part file). This is the
    * large-export path; [[writeXmlFile]] remains for the reference's
    * single-file browser-download shape. */
  def writeXmlParts(df: DataFrame, dir: String, rootTag: String = "rows",
      rowTag: String = "row"): Unit = {
    import df.sparkSession.implicits._
    val keys = df.columns.toSeq
    df.mapPartitions { it =>
      val frags = it.map { r =>
        xmlRowFragment(keys, keys.indices.map(i =>
          Option(r.get(i)).map(_.toString).getOrElse("")), rowTag)
      }
      Iterator("""<?xml version="1.0" encoding="UTF-8"?>""", s"<$rootTag>") ++
        frags ++ Iterator(s"</$rootTag>")
    }.write.mode("overwrite").text(dir)
  }

  /** Full pretty document for a DataFrame, as ONE file. Fragments are
    * computed distributed; assembly streams through the driver — an
    * export-sized path matching the reference's single-file download.
    * Large datasets must use [[writeXmlParts]], which keeps the write
    * fully distributed. */
  def writeXmlFile(df: DataFrame, file: String, rootTag: String = "rows",
      rowTag: String = "row"): Unit = {
    import df.sparkSession.implicits._
    val keys = df.columns.toSeq
    val frags = df.map { r =>
      xmlRowFragment(keys, keys.indices.map(i =>
        Option(r.get(i)).map(_.toString).getOrElse("")), rowTag)
    }
    // UTF-8 as the declaration says, whatever the JVM's default
    // charset; a failed write throws rather than truncating silently
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(file))
    try {
      w.write("""<?xml version="1.0" encoding="UTF-8"?>""" + "\n")
      w.write(s"<$rootTag>\n")
      frags.toLocalIterator().forEachRemaining { f => w.write(f); w.write("\n") }
      w.write(s"</$rootTag>\n")
    } finally w.close()
  }
}

package graft

import org.apache.spark.sql.functions._

/** Independent byte-level recomputation for the VALUES-mirror gates
  * (VERDICT r14 task 6): `zip_sink_entries` and the `pdf_*_pages`
  * rows assert numbers the engine itself computed (its zip walk, its
  * own PDF parser), and their oracles restate expectations — one
  * computation, two transcriptions. This spec adds the SECOND
  * computation from the raw bytes:
  *
  *  - zip: entry sizes re-derived two MORE ways — the central
  *    directory's declared sizes (ZipFile — a different code path
  *    than the streaming local-header walk the query uses) and a
  *    byte-math recompute from the source rows;
  *  - pdf: page counts re-derived by a minimal reader built here in
  *    the test (regex + Inflater — zero engine parsing code): the
  *    page-object census and the Pages-node /Count must both equal
  *    what ops/Pdf.pageCount claims, for classic 1.4 and
  *    xref-stream/ObjStm 1.5 outputs alike; the classic xref table's
  *    entry count is cross-checked against the object census. */
class BinaryGateSpec extends SparkSpec {

  // ---- independent PDF mini-reader (test-only, no ops/Pdf calls) ----

  /** Raw latin-1 text plus the inflation of every FlateDecode stream
    * (ObjStm contents included), so page dicts compressed into object
    * streams are visible to the regex census. */
  private def allText(pdf: Array[Byte]): String = {
    val raw = new String(pdf, "ISO-8859-1")
    val sb = new StringBuilder(raw)
    var at = raw.indexOf("stream")
    while (at >= 0) {
      var s = at + "stream".length
      if (s < raw.length && raw.charAt(s) == '\r') s += 1
      if (s < raw.length && raw.charAt(s) == '\n') s += 1
      val e = raw.indexOf("endstream", s)
      if (e > s) {
        val body = java.util.Arrays.copyOfRange(pdf, s, e)
        try {
          val inf = new java.util.zip.Inflater()
          inf.setInput(body)
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          while (!inf.finished()) {
            val n = inf.inflate(buf)
            if (n == 0 && !inf.finished()) throw new RuntimeException("stall")
            out.write(buf, 0, n)
          }
          inf.end()
          sb.append('\n').append(new String(out.toByteArray, "ISO-8859-1"))
        } catch { case _: Exception => } // not deflate (or raw text) — skip
      }
      at = raw.indexOf("stream", at + 6)
    }
    sb.toString
  }

  /** Census of page objects anywhere in the body. The writer
    * garbage-collects unreachable objects before serializing, so this
    * must EQUAL the reachable page count — a dead page dict in the
    * body means the sweep regressed. */
  private def pageCensus(text: String): Int =
    "/Type\\s*/Page(?![a-zA-Z])".r.findAllIn(text).size

  /** The REACHABLE page count, read like a real viewer would: the
    * Pages node's /Kids reference list plus its declared /Count —
    * both must agree with each other before comparing to the engine. */
  private def reachablePages(text: String): Int = {
    val nodes = "/Type\\s*/Pages".r.findAllMatchIn(text).map { m =>
      val tail = text.substring(m.start, math.min(text.length, m.start + 800))
      val count = "/Count\\s+(\\d+)".r.findFirstMatchIn(tail).map(_.group(1).toInt)
      val kids = "/Kids\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(tail)
        .map(k => "\\d+(?=\\s+0\\s+R)".r.findAllIn(k.group(1)).size)
      (count, kids)
    }.toSeq
    val full = nodes.collect { case (Some(c), Some(k)) => (c, k) }
    assert(full.nonEmpty, "no /Type /Pages node with /Count and /Kids found")
    // the root Pages (max /Count) must declare exactly its Kids
    val (c, k) = full.maxBy(_._1)
    assert(c == k, s"/Pages declares /Count $c but lists $k kids")
    c
  }

  private def check(label: String, pdf: Array[Byte], expected: Int): Unit = {
    val t = allText(pdf)
    assert(reachablePages(t) == expected,
      s"$label: reachable pages ${reachablePages(t)} != $expected")
    // exactly the reachable pages are in the body — no dead objects
    assert(pageCensus(t) == expected,
      s"$label: ${pageCensus(t)} page dicts in the body for $expected reachable pages")
    assert(graft.ops.Pdf.pageCount(pdf) == expected,
      s"$label: engine pageCount disagrees")
  }

  test("pdf_merge_pages rows recompute from bytes: census, /Count, xref table") {
    import graft.ops.Pdf
    val merged = Pdf.merge(Seq(Pdf.makePdf(3), Pdf.makePdf(4)))
    val part = Pdf.extractPages(merged, Seq(2, 5, 7))
    check("merged", merged, 7)
    check("part", part, 3)
    // classic 1.4 xref table: the ids its entries mark in-use ('n')
    // must be EXACTLY the object ids present in the body (the merge
    // writer offsets source ids, leaving gaps as free 'f' entries) —
    // the xref is a real index of the body, not a copied constant
    val raw = new String(merged, "ISO-8859-1")
    val xm = "xref\\s+0 (\\d+)\\s*\\n".r.findFirstMatchIn(raw)
      .getOrElse(fail("no classic xref table"))
    val xrefN = xm.group(1).toInt
    val entries = raw.substring(xm.end).linesIterator.take(xrefN).toSeq
    val inUse = entries.zipWithIndex.collect {
      case (e, id) if e.trim.endsWith("n") => id
    }.toSet
    val bodyIds = "(\\d+) 0 obj\\b".r.findAllMatchIn(raw)
      .map(_.group(1).toInt).toSet
    assert(inUse == bodyIds,
      s"xref marks $inUse in-use, body holds $bodyIds")
    assert(!inUse.contains(0) && xrefN > bodyIds.max,
      s"xref subsection 0..$xrefN malformed for max body id ${bodyIds.max}")
  }

  test("pdf_xref_stream_roundtrip rows recompute from bytes incl. ObjStm-compressed pages") {
    import graft.ops.Pdf
    val modern = Pdf.makePdf(5, withContent = true, xrefStream = true)
    val part = Pdf.extractPages(modern, Seq(2, 4))
    val merged = Pdf.merge(Seq(modern, part))
    check("fixture", modern, 5)
    check("part", part, 2)
    check("merged", merged, 7)
    // the GC sweep makes a 2-page extract materially smaller than its
    // 5-page content-bearing source, not a full-body copy
    assert(part.length < modern.length,
      s"extract (${part.length} B) not smaller than source (${modern.length} B)")
    // the 1.5 page dicts must NOT be visible in the raw bytes (they
    // live inside the FlateDecode ObjStm) — proving the census really
    // reads the inflated object stream, not plaintext leftovers
    val raw = new String(modern, "ISO-8859-1")
    assert(pageCensus(raw) == 0, "1.5 fixture leaks uncompressed page dicts")
  }

  test("zip entry sizes agree across stream walk, central directory, and row byte-math") {
    import graft.core.{Tables, Workbook}
    val sfDir = sf
    val cust = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").cast("string"), col("c_name"), col("c_mktsegment"))
    val reg = Tables.load(spark, sfDir, "region")
      .select(col("r_regionkey").cast("string"), col("r_name"))
    val wb = Workbook("customer" -> cust, "region" -> reg)
    val dir = tempDir("binarygate_zip")
    val zip = dir.resolve("out.zip").toString
    wb.writeZip(zip, "out", "csv")(graft.packs.CoveragePack.csvBytes)
    // 1) the query's own method: streaming local-header walk
    val zin = new java.util.zip.ZipInputStream(new java.io.FileInputStream(zip))
    val streamed = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map { e =>
        var n = 0L; val buf = new Array[Byte](8192)
        var r = zin.read(buf)
        while (r > 0) { n += r; r = zin.read(buf) }
        e.getName -> n
      }.toMap
    zin.close()
    // 2) central directory declared sizes (different zip code path)
    val zf = new java.util.zip.ZipFile(zip)
    val central = {
      import scala.jdk.CollectionConverters._
      zf.entries().asScala.map(e => e.getName -> e.getSize).toMap
    }
    zf.close()
    // 3) byte-math from the source rows: header + per-row field bytes
    def csvBytes(header: String, rows: Seq[Seq[String]]): Long =
      header.getBytes("UTF-8").length + 1L +
        rows.map(r => r.map(_.getBytes("UTF-8").length.toLong).sum + r.length).sum
    val custRows = cust.collect().map(r => (0 until 3).map(r.getString)).toSeq
    val regRows = reg.collect().map(r => (0 until 2).map(r.getString)).toSeq
    val math3 = Map(
      "out/out_customer.csv" -> csvBytes("c_custkey,c_name,c_mktsegment", custRows),
      "out/out_region.csv" -> csvBytes("r_regionkey,r_name", regRows))
    assert(streamed == central, s"stream walk $streamed != central dir $central")
    assert(streamed == math3, s"stream walk $streamed != row byte-math $math3")
  }
}

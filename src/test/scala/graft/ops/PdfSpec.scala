package graft.ops

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

class PdfSpec extends AnyFunSuite with TimeLimits {

  test("parsePages: ranges, swaps, junk, prefix parseInt (J6/R2 reference parity)") {
    assert(Pdf.parsePages("1,3,5-7") == Seq(Seq(1), Seq(3), Seq(5, 6, 7)))
    assert(Pdf.parsePages("7-5") == Seq(Seq(5, 6, 7)))      // swapped bounds normalize
    assert(Pdf.parsePages("2,x,4") == Seq(Seq(2), Seq(4)))  // junk skipped
    assert(Pdf.parsePages("3abc") == Seq(Seq(3)))           // parseInt prefix
    assert(Pdf.parsePages("-3") == Nil)                     // '-' split yields empty lhs
    assert(Pdf.parsePages("5-") == Nil)
    assert(Pdf.parsePages(" 1 , 2 ") == Seq(Seq(1), Seq(2)))
    assert(Pdf.parsePages("") == Nil && Pdf.parsePages(null) == Nil)
  }

  test("splitJobs clamps and drops empty groups with stable ordinals") {
    assert(Pdf.splitJobs("all", "", 3) == Seq((1, Seq(1)), (2, Seq(2)), (3, Seq(3))))
    assert(Pdf.splitJobs("custom", "0,2-4,99", 3) == Seq((2, Seq(2, 3))))
  }

  test("header validation (S11)") {
    assert(Pdf.hasPdfHeader(Pdf.makePdf(1)))
    assert(!Pdf.hasPdfHeader("plain text".getBytes))
    assert(!Pdf.hasPdfHeader(Array.emptyByteArray))
  }

  test("merge concatenates pages in caller order; split extracts (J5/J6)") {
    val a = Pdf.makePdf(3)
    val b = Pdf.makePdf(2)
    val m = Pdf.merge(Seq(a, b))
    assert(Pdf.pageCount(m) == 5)
    val part = Pdf.extractPages(m, Seq(2, 4))
    assert(Pdf.pageCount(part) == 2)
    assert(Pdf.pageCount(Pdf.merge(Seq(m, part))) == 7)
    assert(Pdf.hasPdfHeader(m) && Pdf.hasPdfHeader(part))
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(data); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    out.toByteArray
  }

  /** ASCII85 armor ([PDF 32000] 7.4.3), `z` for all-zero groups. */
  private def ascii85(d: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    d.grouped(4).foreach { g =>
      var v = 0L
      (0 until 4).foreach(i => v = (v << 8) | (if (i < g.length) g(i) & 0xFF else 0))
      if (v == 0 && g.length == 4) sb.append('z')
      else {
        val cs = new Array[Char](5)
        (4 to 0 by -1).foreach { i => cs(i) = ('!' + (v % 85)).toChar; v /= 85 }
        (0 to g.length).foreach(i => sb.append(cs(i)))
      }
    }
    (sb.result() + "~>").getBytes("ISO-8859-1")
  }

  /** A modern-style PDF: catalog, pages node and page dicts all live
    * inside one /ObjStm stored under `filter` (FlateDecode by default;
    * the text after /Filter, so it may carry /DecodeParms too) with
    * `encode` its writer half; the xref is an xref *stream* object
    * (never parsed — present to mirror real 1.5+ files). */
  private def makeCompressedPdf(nPages: Int, filter: String = "/FlateDecode",
      encode: Array[Byte] => Array[Byte] = deflate): Array[Byte] = {
    val pageNums = (0 until nPages).map(3 + _)
    val inner = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> s"<< /Type /Pages /Kids [${pageNums.map(n => s"$n 0 R").mkString(" ")}] /Count $nPages >>") ++
      pageNums.map(n => n -> "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>")
    val bodies = inner.map(_._2)
    val offsets = bodies.scanLeft(0)((acc, b) => acc + b.length + 1)
    val header = inner.map(_._1).zip(offsets).map { case (n, o) => s"$n $o" }.mkString(" ") + " "
    val payload = header + bodies.mkString("\n") + "\n"
    val data = encode(payload.getBytes("ISO-8859-1"))
    val sb = new java.io.ByteArrayOutputStream()
    sb.write("%PDF-1.5\n".getBytes("ISO-8859-1"))
    sb.write((s"8 0 obj << /Type /ObjStm /N ${inner.size} /First ${header.length} " +
      s"/Filter $filter /Length ${data.length} >> stream\n").getBytes("ISO-8859-1"))
    sb.write(data)
    sb.write("\nendstream endobj\n".getBytes("ISO-8859-1"))
    sb.write(("9 0 obj << /Type /XRef /Size 10 /W [1 2 2] >> stream\nxxxx\nendstream endobj\n" +
      "startxref\n0\n%%EOF\n").getBytes("ISO-8859-1"))
    sb.toByteArray
  }

  test("compressed object streams: ObjStm-packed docs parse, split, merge — and stay 1.5") {
    val c = makeCompressedPdf(4)
    assert(Pdf.pageCount(c) == 4)
    val part = Pdf.extractPages(c, Seq(1, 3))
    assert(Pdf.pageCount(part) == 2)
    // the source carried an xref stream → the output serializes in the
    // PDF 1.5 compressed form (real ObjStm + XRef stream, emitted by
    // the writer, independent of this spec's hand-built fixture) and
    // re-parses under the module's own strict parser
    val ptxt = new String(part, "ISO-8859-1")
    assert(ptxt.startsWith("%PDF-1.5") && ptxt.contains("/Type /ObjStm") &&
      ptxt.contains("/Type /XRef"), ptxt.take(120))
    // mixed merge: classic + compressed sources — any 1.5 source keeps
    // the merged output 1.5
    val merged = Pdf.merge(Seq(Pdf.makePdf(2), c, part))
    assert(Pdf.pageCount(merged) == 8)
    assert(new String(merged, "ISO-8859-1").startsWith("%PDF-1.5"))
    assert(Pdf.pageCount(Pdf.extractPages(merged, Seq(1, 8))) == 2)
    // all-classic inputs still serialize the classic 1.4 table
    val classic = Pdf.merge(Seq(Pdf.makePdf(1), Pdf.makePdf(1)))
    assert(new String(classic, "ISO-8859-1").startsWith("%PDF-1.4"))
    // content streams stay TOP-LEVEL in 1.5 output (streams are
    // forbidden inside an ObjStm): a content-carrying doc round-trips
    val withStreams = Pdf.makePdf(3, withContent = true, xrefStream = true)
    assert(Pdf.pageCount(withStreams) == 3)
    val wtxt = new String(withStreams, "ISO-8859-1")
    assert(wtxt.contains("/Type /ObjStm") && "BT /F1".r.findFirstIn(wtxt).isDefined)
    assert(Pdf.pageCount(Pdf.extractPages(withStreams, Seq(2))) == 1)
  }

  /** PNG-predictor-encode `payload` with a chosen filter tag per row
    * (the inverse of Pdf.unpredict), pad the tail row with spaces. */
  private def pngEncode(payload: Array[Byte], stride: Int): Array[Byte] = {
    val padded = java.util.Arrays.copyOf(payload,
      ((payload.length + stride - 1) / stride) * stride)
    java.util.Arrays.fill(padded, payload.length, padded.length, ' '.toByte)
    val nRows = padded.length / stride
    val out = new java.io.ByteArrayOutputStream()
    var prev = new Array[Byte](stride)
    for (r <- 0 until nRows) {
      val row = java.util.Arrays.copyOfRange(padded, r * stride, (r + 1) * stride)
      val tag = r % 5 // cycle None/Sub/Up/Average/Paeth across rows
      out.write(tag)
      for (i <- 0 until stride) {
        val a = if (i >= 1) row(i - 1) & 0xFF else 0
        val b = prev(i) & 0xFF
        val c = if (i >= 1) prev(i - 1) & 0xFF else 0
        val pred = tag match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        out.write(((row(i) & 0xFF) - pred) & 0xFF)
      }
      prev = row
    }
    out.toByteArray
  }

  test("predictor-compressed ObjStm decodes: PNG Sub/Up/Average/Paeth row filters") {
    val columns = 24
    // both legal DecodeParms shapes: inline dict and 1-element array
    // (the array form is required when /Filter is itself an array)
    Seq(s"<< /Predictor 12 /Columns $columns >>",
        s"[<< /Predictor 12 /Columns $columns >>]").foreach { parms =>
      val d = makeCompressedPdf(3, s"/FlateDecode /DecodeParms $parms",
        p => deflate(pngEncode(p, columns)))
      assert(Pdf.pageCount(d) == 3, parms)
      assert(Pdf.pageCount(Pdf.extractPages(d, Seq(2, 3))) == 2, parms)
      assert(Pdf.pageCount(Pdf.merge(Seq(d, Pdf.makePdf(1)))) == 4, parms)
    }
  }

  test("unpredict: TIFF predictor 2 and exact PNG filter inverses") {
    // TIFF horizontal differencing: rows of deltas re-accumulate
    val tiff = Array[Byte](10, 5, 5, 20, 1, 2)
    assert(Pdf.unpredict(tiff, 2, 3).toSeq == Seq[Byte](10, 15, 20, 20, 21, 23).toSeq)
    // PNG Up with modular arithmetic across the 0xFF boundary:
    // rows (tag=None, 0xFE) then (tag=Up, +4) → 0xFE, 0x02
    val up = Array[Byte](0, 0xFE.toByte, 2, 4)
    assert(Pdf.unpredict(up, 12, 1).toSeq == Seq[Byte](0xFE.toByte, 2).toSeq)
  }

  test("unpredict: sub-byte bpc uses ceil row stride; TIFF sub-byte rejected") {
    // Columns=10, 1 bit/component → stride = ceil(10/8) = 2 bytes
    // (floor = 1 would misframe every row). Rows: None then Up.
    val png = Array[Byte](0, 0xAA.toByte, 0x80.toByte, 2, 0x0F, 0x40)
    assert(Pdf.unpredict(png, 15, 10, 1, 1).toSeq ==
      Seq[Byte](0xAA.toByte, 0x80.toByte, 0xB9.toByte, 0xC0.toByte).toSeq)
    // TIFF differencing on sub-byte samples is out of subset: loud error,
    // not a byte-wise decode of garbage.
    val ex = intercept[IllegalArgumentException](
      Pdf.unpredict(Array[Byte](1, 2), 2, 10, 1, 1))
    assert(ex.getMessage.contains("BitsPerComponent"))
  }

  test("part naming (K9)") {
    assert(Pdf.partName("doc", 1) == "doc_part001.pdf")
    assert(Pdf.partName("doc", 12) == "doc_part012.pdf")
  }

  test("non-PDF input fails fast") {
    intercept[IllegalArgumentException](Pdf.pageCount("nope".getBytes))
  }

  test("encrypted PDF: defined error + catch-and-log error row, not an exception") {
    val encrypted = new String(Pdf.makePdf(2), "ISO-8859-1")
      .replace("trailer\n<< ", "trailer\n<< /Encrypt 9 0 R ")
      .getBytes("ISO-8859-1")
    assert(Pdf.isEncrypted(encrypted))
    assert(!Pdf.isEncrypted(Pdf.makePdf(2)))
    val ex = intercept[IllegalArgumentException](Pdf.pageCount(encrypted))
    assert(ex.getMessage.contains("encrypted PDF"))
    // The batch flow degrades to the reference's error-row semantics.
    val rows = Pdf.describeFiles(Seq(
      ("secret.pdf", encrypted), ("ok.pdf", Pdf.makePdf(1)),
      ("empty.pdf", Array.empty[Byte]), ("x.txt", "hi".getBytes)))
    assert(rows == Seq(
      ("secret.pdf", false, None, "encrypted PDF: /Encrypt dictionary not found"),
      ("ok.pdf", true, Some(1), ""),
      ("empty.pdf", false, None, "size 0B"),
      ("x.txt", false, None, "no %PDF- header")))
  }

  test("object streams decode through the content-stream filter chain") {
    // ASCII85 armor around Flate — the classic transport chain, here
    // on the /ObjStm that holds the catalog and page tree
    val armored = makeCompressedPdf(3, "[/ASCII85Decode /FlateDecode]",
      d => ascii85(deflate(d)))
    assert(Pdf.pageCount(armored) == 3)
    val part = Pdf.extractPages(armored, Seq(1, 3))
    assert(Pdf.pageCount(part) == 2)
    assert(Pdf.pageCount(Pdf.merge(Seq(armored, part, Pdf.makePdf(1)))) == 6)
    // an unsupported filter on an ObjStm is the same defined error a
    // content stream under it gives
    val dct = makeCompressedPdf(2, "/DCTDecode", identity)
    val ex = intercept[IllegalArgumentException](Pdf.pageCount(dct))
    assert(ex.getMessage == "unsupported stream filter /DCTDecode")
  }

  /** Run `body` on a daemon thread and fail the test if it has not
    * returned within 20 s: a framing loop that never ends cannot be
    * interrupted, so the limit waits on the thread, not the loop. */
  private def bounded[T](body: => T): T = {
    @volatile var result: Either[Throwable, T] = null
    val t = new Thread(() => result = try Right(body) catch { case e: Throwable => Left(e) })
    t.setDaemon(true)
    t.start()
    implicit val signaler: Signaler = ThreadSignaler
    failAfter(20.seconds) { t.join() }
    result.fold(e => throw e, identity)
  }

  private def withObjStmLength(pdf: Array[Byte], len: String): String =
    """(/Type /ObjStm [^>]*/Length )\d+""".r
      .replaceFirstIn(new String(pdf, "ISO-8859-1"), "$1" + len)

  test("a /Length of 2147483647 cannot overflow the stream framer") {
    // the SECOND content stream declares it: framing must fall back to
    // its endstream token, not jump backwards to the first stream's
    val text = new String(Pdf.makePdf(2, withContent = true), "ISO-8859-1")
    val last = """/Length \d+""".r.findAllMatchIn(text).toSeq.last
    val content = text.substring(0, last.start) + "/Length 2147483647" +
      text.substring(last.end)
    assert(bounded(Pdf.pageCount(content.getBytes("ISO-8859-1"))) == 2)
    assert(bounded(Pdf.extractText(content.getBytes("ISO-8859-1"))).map(_._2) ==
      Seq("Page 1", "Page 2"))
    // the same /Length on the /ObjStm that holds the catalog
    val objStm = withObjStmLength(Pdf.makePdf(3, xrefStream = true), "2147483647")
    assert(bounded(Pdf.pageCount(objStm.getBytes("ISO-8859-1"))) == 3)
    // a negative /Length never frames either
    val negative = withObjStmLength(Pdf.makePdf(3, xrefStream = true), "-7")
    assert(bounded(Pdf.pageCount(negative.getBytes("ISO-8859-1"))) == 3)
  }

  test("describeFiles: a malformed file is its own error row, whatever it throws") {
    // an /ObjStm whose /Length 2147483647 runs past a file truncated
    // inside the stream (no endstream, no xref)
    val full = withObjStmLength(Pdf.makePdf(3, xrefStream = true), "2147483647")
    val truncated = full.substring(0, full.indexOf("endstream"))
      .getBytes("ISO-8859-1")
    val rows = Pdf.describeFiles(Seq(("ok.pdf", Pdf.makePdf(2)),
      ("objstm_overflow.pdf", truncated)))
    assert(rows.map { case (n, ok, pages, _) => (n, ok, pages) } == Seq(
      ("ok.pdf", true, Some(2)), ("objstm_overflow.pdf", false, None)))
    assert(rows(1)._4.nonEmpty)
  }

  test("literal strings drop a backslash-EOL (LF, CR or CRLF), as the content lexer does") {
    for (eol <- Seq("\n", "\r", "\r\n")) {
      val body = s"x (a\\${eol}b) y"
      val (bytes, end) = PdfCrypt.readLiteralString(body, 2)
      assert(bytes.toSeq == "ab".getBytes.toSeq, s"EOL ${eol.map(_.toInt)}")
      assert(body.substring(end) == " y")
    }
    // a plain EOL inside the string is kept
    assert(PdfCrypt.readLiteralString("(a\nb)", 0)._1.toSeq == Seq[Byte](97, 10, 98))
  }

  test("an unterminated literal string is a defined error") {
    for (body <- Seq("(abc", "(a(b)c", "(abc\\")) {
      val e = intercept[IllegalArgumentException](PdfCrypt.readLiteralString(body, 0))
      assert(e.getMessage.contains("unterminated literal string"), body)
    }
  }
}

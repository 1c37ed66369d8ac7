package graft.packs

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.core.{Tables, Workbook}
import graft.ops.{Compare, Pdf, PdfCrypt, PdfText}

/** Oracle gates for the §2 rows previously covered only by unit specs:
  * S13 whole-text read, K6/K9 zip-container sink + naming, J5/K7/S11
  * PDF merge through real bytes, J4 key auto-selection, P3 preview
  * projection, P4/P5 extension-filtered dedup'd file listing, and O3
  * user-defined row order. Where the output is inherently synthetic
  * (PDF page counts, listings of fixture files with fixed content) the
  * oracle is a literal VALUES mirror — the engine side still runs the
  * real operator over real bytes. */
object CoveragePack extends QueryPack {

  // per-run temp dir (graft.core.Scratch): no cross-run collisions
  private def scratch(name: String): java.nio.file.Path = {
    val d = graft.core.Scratch.dir("graft_rt").resolve(name)
    Files.createDirectories(d)
    d
  }

  /** Deterministic single-file CSV image of a sheet: header + rows
    * sorted by the first column (string sort). Package-visible so
    * BinaryGateSpec can re-derive zip entry sizes with the exact
    * renderer the gate uses. */
  private[graft] def csvBytes(df: DataFrame): Array[Byte] = {
    val cols = df.columns
    val sorted = df.orderBy(col(cols.head)).collect()
    val sb = new StringBuilder(cols.mkString(",")).append('\n')
    sorted.foreach { r =>
      sb.append(cols.indices.map(i => Option(r.get(i)).map(_.toString).getOrElse(""))
        .mkString(",")).append('\n')
    }
    sb.toString.getBytes("UTF-8")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S13: whole file → one row, one string document.
    "wholetext_read" -> ((s, dir) => {
      val names = Tables.load(s, dir, "region").orderBy("r_regionkey")
        .collect().map(_.getString(1))
      val d = scratch("wholetext")
      Files.writeString(d.resolve("doc.txt"), names.mkString("\n"))
      graft.sources.Text.readWholeText(s, d.toString)
    }),
    // K6+K9: zip-container sink with {base}_{sheet}.{ext} naming; the
    // query returns the zip directory listing (entry name, byte size).
    "zip_sink_entries" -> ((s, dir) => {
      import s.implicits._
      val wb = Workbook(
        "customer" -> Tables.load(s, dir, "customer")
          .select(col("c_custkey").cast("string"), col("c_name"), col("c_mktsegment")),
        "region" -> Tables.load(s, dir, "region")
          .select(col("r_regionkey").cast("string"), col("r_name")))
      val zip = scratch("zipsink").resolve("out.zip").toString
      wb.writeZip(zip, "out", "csv")(csvBytes)
      val zin = new java.util.zip.ZipInputStream(new java.io.FileInputStream(zip))
      val entries = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .map { e =>
          var n = 0L; val buf = new Array[Byte](8192)
          var r = zin.read(buf)
          while (r > 0) { n += r; r = zin.read(buf) }
          (e.getName, n)
        }.toSeq
      zin.close()
      entries.toDF("entry", "n_bytes").orderBy("entry")
    }),
    // J5+K7+S11 through real bytes: merge classic PDFs, split a group,
    // re-validate headers; the oracle pins the expected page algebra.
    "pdf_merge_pages" -> ((s, dir) => {
      import s.implicits._
      val merged = Pdf.merge(Seq(Pdf.makePdf(3), Pdf.makePdf(4)))
      val part = Pdf.extractPages(merged, Seq(2, 5, 7))
      Seq(
        ("merged", Pdf.pageCount(merged), Pdf.hasPdfHeader(merged)),
        ("part", Pdf.pageCount(part), Pdf.hasPdfHeader(part)))
        .toDF("label", "n_pages", "header_ok").orderBy("label")
    }),
    // K7 modern form: a PDF 1.5 fixture (catalog/pages/page dicts in a
    // FlateDecode ObjStm, xref as a /Type /XRef stream) splits and
    // merges, and because the SOURCE carried an xref stream the OUTPUTS
    // serialize 1.5 too — each re-parsed by the engine's own strict
    // parser (pageCount), with the compressed structures asserted on
    // the emitted bytes.
    "pdf_xref_stream_roundtrip" -> ((s, dir) => {
      import s.implicits._
      def txt(b: Array[Byte]) = new String(b, "ISO-8859-1")
      def is15(b: Array[Byte]): Boolean =
        txt(b).startsWith("%PDF-1.5") && txt(b).contains("/Type /XRef") &&
          txt(b).contains("/Type /ObjStm")
      val modern = Pdf.makePdf(5, withContent = true, xrefStream = true)
      val part = Pdf.extractPages(modern, Seq(2, 4))
      val merged = Pdf.merge(Seq(modern, part))
      val classic = Pdf.merge(Seq(Pdf.makePdf(2), Pdf.makePdf(1)))
      Seq(
        ("fixture", Pdf.pageCount(modern), is15(modern)),
        ("part", Pdf.pageCount(part), is15(part)),
        ("merged", Pdf.pageCount(merged), is15(merged)),
        ("classic_stays_14", Pdf.pageCount(classic),
          txt(classic).startsWith("%PDF-1.4")))
        .toDF("label", "n_pages", "form_ok").orderBy("label")
    }),
    // S11 → text bridge: page TEXT extraction over constructed
    // fixtures (PdfText.extractTextDf — distributed flatMap over a
    // binary column; Pdf.extractText lexes the content streams). The
    // fixture set exercises the whole documented subset: makePdf's
    // own emitted operators, escapes + octal (é) + hex strings + TJ
    // kern-gap spacing + T*/BT newline semantics through a
    // FlateDecode-compressed stream, an RC4-encrypted document
    // (decrypt-then-extract), and a non-PDF error row.
    "pdf_extract_text" -> ((s, dir) => {
      import s.implicits._
      val plain = Pdf.makePdf(2, withContent = true)
      val rich = Pdf.makeTextPdf(Seq(
        "BT /F1 12 Tf 72 720 Td (Hello) Tj ( ) Tj (world) Tj ( caf\\351) Tj ET",
        "BT 72 720 Td [(kern)-200(gap)] TJ T* (line2\\(esc\\)) Tj ET BT 72 600 Td <6869> Tj ET"),
        flate = true)
      val enc = PdfCrypt.encrypt(Pdf.makePdf(1, withContent = true))
      val files = Seq(
        ("plain.pdf", plain), ("rich.pdf", rich), ("enc.pdf", enc),
        ("bad.bin", "not a pdf".getBytes("UTF-8"))).toDF("name", "content")
      PdfText.extractTextDf(files).orderBy("name", "page")
    }),
    // Composite-font extraction (the r16 verdict's top gap): Type0 /
    // CIDFontType2 / Identity-H documents — the form essentially every
    // modern writer emits — decode their 2-byte CID show strings
    // through the /ToUnicode CMap (bfchar + bfrange + a surrogate-pair
    // dst; the fixture's CID assignment is deliberately non-Unicode so
    // only the CMap path can produce the right text). A Type0 font
    // with NO /ToUnicode must FLAG (`warn` = unmapped glyphs, text "")
    // instead of extracting WinAnsi garbage silently, and a non-Flate
    // /Filter must surface a defined error row instead of lexing raw
    // compressed bytes.
    "pdf_extract_cid" -> ((s, dir) => {
      import s.implicits._
      val cid = Pdf.makeCidPdf(Seq(
        "Hello CID world",
        "clef 𝄞 ok"), flate = true)
      val noMap = Pdf.makeCidPdf(Seq("quiet garbage"), withToUnicode = false)
      val dct = new String(Pdf.makeTextPdf(Seq("BT (x) Tj ET"), flate = true),
        "ISO-8859-1").replace("/Filter /FlateDecode", "/Filter /DCTDecode")
        .getBytes("ISO-8859-1")
      val files = Seq(
        ("cid.pdf", cid), ("nomap.pdf", noMap), ("dct.pdf", dct))
        .toDF("name", "content")
      PdfText.extractTextDf(files).orderBy("name", "page")
    }),
    // Predefined-CMap composite fonts (r18, the r17 verdict's CJK
    // gap): a Type0 /Encoding NAME from the Uni{KS,JIS,GB,CNS}-
    // {UCS2,UTF16}-{H,V} family needs no /ToUnicode — those CMaps'
    // code space IS UTF-16BE, so the show strings decode directly
    // (the form Korean/Japanese writers emit when they don't subset).
    // Vertical (-V) variants extract in identical logical order;
    // Identity-V still needs /ToUnicode (glyph indices) and must
    // FLAG without one.
    "pdf_extract_cmap" -> ((s, dir) => {
      import s.implicits._
      val kr = Pdf.makeCidPdf(Seq("안녕하세요 세계"), withToUnicode = false,
        encoding = "UniKS-UCS2-H")
      val jp = Pdf.makeCidPdf(Seq("日本語 𝄞 テスト"), withToUnicode = false,
        flate = true, encoding = "UniJIS-UTF16-H")
      val idv = Pdf.makeCidPdf(Seq("vertical ok"), encoding = "Identity-V")
      val idvNo = Pdf.makeCidPdf(Seq("hidden"), withToUnicode = false,
        encoding = "Identity-V")
      val files = Seq(("kr.pdf", kr), ("jp.pdf", jp), ("idv.pdf", idv),
        ("idv_nomap.pdf", idvNo)).toDF("name", "content")
      PdfText.extractTextDf(files).orderBy("name", "page")
    }),
    // Extraction QUARANTINE TELEMETRY (r19): the corpus-level release
    // report a document-lake ingest decides on — per source, file and
    // page counts, parse-failure files, the unmapped-glyph flagged-
    // page share (fixed-point ppm), and extracted text volume. One
    // aggregate over the extraction rows; the fixture mixes clean
    // ASCII docs, a clean CJK doc, a flagged Type0-without-ToUnicode
    // doc, and a non-PDF error file across three sources.
    "pdf_extract_report" -> ((s, dir) => {
      import s.implicits._
      val enA = Pdf.makeTextPdf(Seq("BT 72 720 Td (Alpha doc) Tj ET",
        "BT 72 720 Td (Second page) Tj ET"))
      val enB = Pdf.makeTextPdf(Seq("BT 72 720 Td (Beta) Tj ET"), flate = true)
      val koC = Pdf.makeCidPdf(Seq("안녕 세계"), withToUnicode = false,
        encoding = "UniKS-UCS2-H")
      val koD = Pdf.makeCidPdf(Seq("quiet"), withToUnicode = false)
      val badE = "not a pdf".getBytes("UTF-8")
      val badF = Pdf.makeTextPdf(Seq("BT 72 720 Td (ok) Tj ET"))
      val files = Seq(("en/a.pdf", enA), ("en/b.pdf", enB),
        ("ko/c.pdf", koC), ("ko/d.pdf", koD),
        ("bad/e.bin", badE), ("bad/f.pdf", badF)).toDF("name", "content")
      PdfText.extractionReport(PdfText.extractTextDf(files),
          regexp_extract(col("name"), "^([^/]+)/", 1))
        .orderBy("source")
    }),
    // Embedded CID CMap streams (r19 — the subsetted-CJK form): a
    // Type0 /Encoding that is an indirect STREAM carrying
    // begincidrange/begincidchar sections and a `usecmap` base.
    // Extraction frames codes by the embedded codespace; codes the
    // cid sections OVERRIDE flag (their CID→Unicode registry table
    // isn't in the file — flag, don't guess), codes that FALL THROUGH
    // to a predefined UCS-2/UTF-16 base decode as UTF-16BE, and a
    // non-UCS2 base (Identity-H) flags everything.
    "pdf_extract_embedded_cmap" -> ((s, dir) => {
      import s.implicits._
      def cmap(base: String, cidSections: String) =
        "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
          s"/$base usecmap\n" +
          "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
          cidSections +
          "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
      // overrides nothing the text uses: clean fall-through
      val sub = Pdf.makeCidPdf(Seq("안녕 세계"), withToUnicode = false,
        embeddedCmap = Some(cmap("UniKS-UCS2-H",
          "1 begincidrange\n<E000> <E0FF> 1000\nendcidrange\n" +
            "1 begincidchar\n<E100> 55\nendcidchar\n")))
      // cidchar override of 하 (U+D558): drops + flags
      val ovrChar = Pdf.makeCidPdf(Seq("안녕하세요"), withToUnicode = false,
        flate = true,
        embeddedCmap = Some(cmap("UniKS-UCS2-H",
          "1 begincidchar\n<D558> 777\nendcidchar\n")))
      // cidrange override of U+B098..U+B2E4 (나, 다): drops + flags
      val ovrRange = Pdf.makeCidPdf(Seq("가나다라마"), withToUnicode = false,
        embeddedCmap = Some(cmap("UniKS-UCS2-H",
          "1 begincidrange\n<B098> <B2E4> 100\nendcidrange\n")))
      // Identity base: fall-through codes are glyph indices — all flag
      val idBase = Pdf.makeCidPdf(Seq("hidden"), withToUnicode = false,
        embeddedCmap = Some(cmap("Identity-H", "")))
      val files = Seq(("sub.pdf", sub), ("ovr_char.pdf", ovrChar),
        ("ovr_range.pdf", ovrRange), ("id_base.pdf", idBase))
        .toDF("name", "content")
      PdfText.extractTextDf(files).orderBy("name", "page")
    }),
    // Type3 fonts (r18 — the last composite-font breadth item):
    // glyphs are content-stream drawings, so /Encoding /Differences
    // names are the ONLY code→text table; unlisted codes FLAG (no
    // base encoding — a WinAnsi guess would be Identity-H-grade
    // silent garbage) and /ToUnicode still wins when present.
    "pdf_extract_type3" -> ((s, dir) => {
      import s.implicits._
      val named = Pdf.makeType3Pdf(Seq("BT /F1 12 Tf 72 720 Td (AB A) Tj ET"),
        "32 /space 65 /eacute 66 /bullet")
      val unlisted = Pdf.makeType3Pdf(Seq("BT /F1 12 Tf (Ax) Tj ET"),
        "65 /eacute")
      val tou = Pdf.makeType3Pdf(Seq("BT /F1 12 Tf (A) Tj ET"),
        "65 /eacute", withToUnicode = true)
      val files = Seq(("named.pdf", named), ("unlisted.pdf", unlisted),
        ("tou.pdf", tou)).toDF("name", "content")
      PdfText.extractTextDf(files).orderBy("name", "page")
    }),
    // Decode-filter surface (r17): every text-bearing stream filter a
    // real-world writer emits — ASCIIHex, ASCII85, RunLength, LZW
    // (TIFF early-change variant) — plus the classic two-stage
    // transport chains (ASCII armor around Flate / LZW), each built
    // by the fixture's ENCODER half and extracted back bit-for-bit.
    // /Filter precedes /Length in the fixture dicts, locking the
    // one-name parse against the following key.
    // Simple-font /Encoding /Differences (r17): the Type1 counterpart
    // of the CID gate — byte codes remap to glyph names atop the
    // WinAnsi base (AGL-subset names, generic uniXXXX scalars),
    // unlisted codes fall back, and an UNKNOWN glyph name flags the
    // page (warn) instead of guessing.
    "pdf_extract_differences" -> ((s, dir) => {
      import s.implicits._
      val remap = Pdf.makeDiffPdf(
        Seq("BT /F1 12 Tf 72 720 Td (AB a) Tj ET"),
        "65 /eacute /bullet 97 /A", flate = true)
      val uni = Pdf.makeDiffPdf(
        Seq("BT /F1 12 Tf 72 720 Td (AB) Tj ET"), "65 /uniFB01 /u1D11E")
      val unknown = Pdf.makeDiffPdf(
        Seq("BT /F1 12 Tf 72 720 Td (Ax) Tj ET"), "65 /gl0042")
      val files = Seq(
        ("remap.pdf", remap), ("uni.pdf", uni), ("unknown.pdf", unknown))
        .toDF("name", "content")
      PdfText.extractTextDf(files).orderBy("name", "page")
    }),
    "pdf_filters" -> ((s, dir) => {
      import s.implicits._
      def doc(fs: String*) = Pdf.makeFilteredTextPdf(
        Seq(s"BT 72 720 Td (via ${fs.mkString("+")}) Tj ET"), fs)
      val files = Seq(
        ("ahx.pdf", doc("ASCIIHexDecode")),
        ("a85.pdf", doc("ASCII85Decode")),
        ("rle.pdf", doc("RunLengthDecode")),
        ("lzw.pdf", doc("LZWDecode")),
        ("a85_flate.pdf", doc("ASCII85Decode", "FlateDecode")),
        ("ahx_lzw.pdf", doc("ASCIIHexDecode", "LZWDecode")))
        .toDF("name", "content")
      PdfText.extractTextDf(files).orderBy("name", "page")
    }),
    // Image XObject extraction (r20): the document lake's FIGURES
    // leave through the same flag-don't-guess machinery as its text.
    // DCTDecode payloads pass through as JPEG, Flate RGB/Gray
    // samples re-encode losslessly as PNG (Multimodal.pngFromSamples
    // — the bridge into decode/aHash/pHash/near-dup), unsupported
    // codec/colorspace arms degrade to defined warn rows, a non-PDF
    // file to its error row. `ok` verifies content END-TO-END: PNG
    // arms decode back pixel-exact against the shared pattern
    // generator AND produce a pHash; the JPEG arm sniffs as a jpeg
    // of the declared dimensions; warn/error arms carry no bytes.
    "pdf_extract_images" -> ((s, dir) => {
      import s.implicits._
      val img = Pdf.makeImagePdf(Seq(
        Seq(("rgb", 8, 6), ("gray", 5, 4)), Seq(("dct", 8, 8))))
      val warn = Pdf.makeImagePdf(Seq(Seq(("ccitt", 4, 4), ("cmyk", 4, 4))))
      val files = Seq(("img.pdf", img), ("warn.pdf", warn),
        ("bad.bin", "nope".getBytes("UTF-8"))).toDF("name", "content")
      PdfText.extractImagesDf(files)
        .as[(String, Int, Int, String, String, Int, Int, Array[Byte], String, String)]
        .map { case (name, p, i, nm, fmt, w, h, c, warnS, err) =>
          val ok = fmt match {
            case "png" =>
              val im = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(c))
              val gray = im.getColorModel.getNumComponents == 1
              val want = Pdf.imageSamples(if (gray) "gray" else "rgb", w, h)
              im.getWidth == w && im.getHeight == h &&
                (0 until h).forall { y =>
                  (0 until w).forall { x =>
                    if (gray)
                      im.getRaster.getSample(x, y, 0) == (want(y * w + x) & 0xFF)
                    else {
                      val rgb = im.getRGB(x, y); val o = (y * w + x) * 3
                      ((rgb >> 16) & 0xFF) == (want(o) & 0xFF) &&
                        ((rgb >> 8) & 0xFF) == (want(o + 1) & 0xFF) &&
                        (rgb & 0xFF) == (want(o + 2) & 0xFF)
                    }
                  }
                } && graft.llm.Multimodal.phashBytes(c).isDefined
            case "jpeg" =>
              graft.llm.Multimodal.sniffDims(c).contains(("jpeg", w, h)) &&
                graft.llm.Multimodal.phashBytes(c).isDefined
            case _ => c.isEmpty
          }
          (name, p, i, nm, fmt, w, h, ok, warnS, err)
        }
        .toDF("name", "page", "img_idx", "xname", "fmt", "width", "height",
          "ok", "warn", "error")
        .orderBy("name", "page", "img_idx")
    }),
    // The distributed bridge at CORPUS scale: every printable-ASCII
    // document is rendered to a real FlateDecode PDF on the executors
    // (Pdf.makeTextPdf in a narrow map — partition-local encode),
    // scanned back through PdfText.extractTextDf, and must round-trip
    // its text bit-for-bit. This is the binaryFile→text shape a
    // document-lake ingestion job runs: per-file encode/decode rides
    // the scan, nothing ever reaches the driver, and the oracle is
    // simply the original documents table.
    "pdf_corpus_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.load(s, dir, "documents")
        .filter(col("text").rlike("^[\\x20-\\x7E]*$") && length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val files = d.as[(Long, String)].map { case (id, t) =>
        val esc = t.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        (id.toString, Pdf.makeTextPdf(Seq(s"BT 72 720 Td ($esc) Tj ET"), flate = true))
      }.toDF("name", "content")
      PdfText.extractTextDf(files)
        .select(col("name").cast("long").as("doc_id"), col("text"),
          col("warn"), col("error"))
        .orderBy("doc_id")
    }),
    // J4: first column of A present in B.
    "compare_autokey" -> ((s, dir) => {
      import s.implicits._
      val (a, b) = ComparePack.pair(s, dir)
      Seq(Compare.autoKey(a, b).getOrElse("")).toDF("key_field")
    }),
    // P3: preview = first 20 columns × 30 rows of a 26-wide sheet
    // (input pre-sorted so the row slice is deterministic).
    "preview_projection" -> ((s, dir) => {
      val wide = Tables.load(s, dir, "customer")
        .select(col("c_custkey") +: (1 to 25).map(i =>
          concat(col("c_name"), lit(s"_$i")).as(s"c$i")): _*)
        .orderBy("c_custkey")
      Workbook("wide" -> wide).preview("wide").orderBy("c_custkey")
    }),
    // P4+P5: extension accept-list filter + (name, size) dedup over a
    // recursive listing — fixture files have fixed content, and the
    // nested duplicate of a.csv must collapse.
    "files_dedup_listing" -> ((s, dir) => {
      val d = scratch("listing")
      Files.writeString(d.resolve("a.csv"), CoveragePack.contentA)
      Files.writeString(d.resolve("b.txt"), CoveragePack.contentB)
      Files.writeString(d.resolve("skip.xlsx"), "not-accepted-in-this-mode")
      val sub = d.resolve("sub"); Files.createDirectories(sub)
      Files.writeString(sub.resolve("a.csv"), CoveragePack.contentA) // same (name, size)
      Workbook.listInputs(s, d.toString, "other-to-excel")
        .select(col("name"), col("length")).orderBy("name")
    }),
    // P6: empty sheets drop on export; survivors keep name + rows.
    "workbook_nonempty" -> ((s, dir) => {
      import s.implicits._
      val region = Tables.load(s, dir, "region")
      val wb = Workbook(
        "regions" -> region,
        "empty" -> region.filter(col("r_regionkey") < -1),
        "nations" -> Tables.load(s, dir, "nation")).nonEmpty
      wb.names.map(n => (n, wb(n).count())).toDF("sheet", "n_rows").orderBy("sheet")
    }),
    // S11 error semantics: a batch with a 0-byte file, a non-PDF, and
    // a malformed-encryption document degrades to defined per-file
    // error rows (reference add-flow rejects + operation-time
    // catch-and-log, pdf-tool/page.tsx:140-176, 98-118) — never an
    // exception.
    "pdf_error_rows" -> ((s, dir) => {
      import s.implicits._
      val bogusEncrypt = new String(Pdf.makePdf(2), "ISO-8859-1")
        .replace("trailer\n<< ", "trailer\n<< /Encrypt 9 0 R ")
        .getBytes("ISO-8859-1")
      Pdf.describeFiles(Seq(
        ("ok.pdf", Pdf.makePdf(3)),
        ("empty.pdf", Array.empty[Byte]),
        ("notes.txt", "just text".getBytes("UTF-8")),
        ("secret.pdf", bogusEncrypt)))
        .map { case (n, ok, pages, err) => (n, ok, pages.map(_.toLong), err) }
        .toDF("name", "ok", "n_pages", "error").orderBy("name")
    }),
    // S11 encrypted-document support (standard security handler, empty
    // user password — PdfCrypt): RC4-128 and AES-128 documents parse
    // and decrypt (page counts work; merge/split output plaintext),
    // a password-protected file and an unsupported /V degrade to
    // defined error rows. The reference merely force-loads ciphertext
    // via pdf-lib ignoreEncryption (pdf-tool/page.tsx:338,383).
    "pdf_encrypted_pages" -> ((s, dir) => {
      import s.implicits._
      val rc4Doc = PdfCrypt.encrypt(Pdf.makePdf(4, withContent = true))
      val aesDoc = PdfCrypt.encrypt(Pdf.makePdf(2, withContent = true), aes128 = true)
      val pwDoc = PdfCrypt.encrypt(Pdf.makePdf(3), userPw = "secret")
      val merged = Pdf.merge(Seq(rc4Doc, aesDoc))
      Pdf.describeFiles(Seq(
        ("rc4.pdf", rc4Doc),
        ("aes128.pdf", aesDoc),
        ("locked.pdf", pwDoc),
        ("merged_plain.pdf", merged)))
        .map { case (n, ok, pages, err) => (n, ok, pages.map(_.toLong), err) }
        .toDF("name", "ok", "n_pages", "error").orderBy("name")
    }),
    // S11 password-protected documents: the supplied password is tried
    // as USER password (Algorithms 4/5/11) then OWNER password
    // (Algorithms 7/12) across RC4-128, AES-128 and AES-256 (V5/R6)
    // revisions — the full "any encrypted file loads" contract the
    // reference approximates with pdf-lib ignoreEncryption
    // (pdf-tool/page.tsx:338,383); we actually decrypt, so merge
    // output is plaintext. A wrong password degrades to a defined
    // error row, like every other per-file failure.
    "pdf_password_pages" -> ((s, dir) => {
      import s.implicits._
      val rc4User = PdfCrypt.encrypt(Pdf.makePdf(3), userPw = "secret")
      val aesUser = PdfCrypt.encrypt(Pdf.makePdf(4, withContent = true),
        aes128 = true, userPw = "secret")
      val v5User = PdfCrypt.encryptV5(Pdf.makePdf(2, withContent = true),
        ownerPw = "boss", userPw = "secret")
      val v5Owner = PdfCrypt.encryptV5(Pdf.makePdf(6), ownerPw = "secret", userPw = "pw2")
      val ownerOnly = PdfCrypt.encrypt(Pdf.makePdf(5), ownerPw = "secret")
      val wrongPw = PdfCrypt.encrypt(Pdf.makePdf(2), userPw = "other")
      val merged = Pdf.merge(Seq(rc4User, aesUser), password = "secret")
      Pdf.describeFiles(Seq(
        ("aes_user.pdf", aesUser),
        ("merged_plain.pdf", merged),
        ("owner_pw.pdf", ownerOnly),
        ("rc4_user.pdf", rc4User),
        ("v5_owner.pdf", v5Owner),
        ("v5_user.pdf", v5User),
        ("wrong_pw.pdf", wrongPw)), password = "secret")
        .map { case (n, ok, pages, err) => (n, ok, pages.map(_.toLong), err) }
        .toDF("name", "ok", "n_pages", "error").orderBy("name")
    }),
    // O3: user-defined row order via an explicit sequence column.
    "user_order" -> ((s, dir) => {
      import s.implicits._
      val seq = Seq((3, 1), (1, 2), (5, 3), (2, 4), (4, 5)).toDF("c_custkey", "ord")
      Tables.load(s, dir, "customer").join(broadcast(seq), "c_custkey")
        .select(col("ord"), col("c_custkey"), col("c_name"))
        .orderBy("ord")
    }),
  )

  private[packs] val contentA = "k,v\n1,alpha\n2,beta\n"
  private[packs] val contentB = "line one\nline two\n"

  val oracleSql: Map[String, String] = Map(
    "wholetext_read" ->
      "SELECT string_agg(r_name, chr(10) ORDER BY r_regionkey) AS value FROM region",
    "zip_sink_entries" ->
      """SELECT entry, n_bytes FROM (
        |  SELECT 'out/out_customer.csv' AS entry,
        |    CAST(len('c_custkey,c_name,c_mktsegment') + 1 +
        |      SUM(len(CAST(c_custkey AS VARCHAR)) + len(c_name) + len(c_mktsegment) + 3) AS BIGINT) AS n_bytes
        |  FROM customer
        |  UNION ALL
        |  SELECT 'out/out_region.csv',
        |    CAST(len('r_regionkey,r_name') + 1 +
        |      SUM(len(CAST(r_regionkey AS VARCHAR)) + len(r_name) + 2) AS BIGINT)
        |  FROM region) ORDER BY entry""".stripMargin,
    "pdf_merge_pages" ->
      """SELECT * FROM (VALUES ('merged', 7, true), ('part', 3, true))
        |  AS t(label, n_pages, header_ok) ORDER BY label""".stripMargin,
    "pdf_xref_stream_roundtrip" ->
      """SELECT * FROM (VALUES
        |  ('classic_stays_14', 3, true), ('fixture', 5, true),
        |  ('merged', 7, true), ('part', 2, true))
        |  AS t(label, n_pages, form_ok) ORDER BY label""".stripMargin,
    "compare_autokey" -> "SELECT 'c_custkey' AS key_field",
    "pdf_corpus_roundtrip" ->
      """SELECT doc_id, text, '' AS warn, '' AS error FROM documents
        |WHERE regexp_matches(text, '^[\x20-\x7E]*$') AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,
    "pdf_extract_text" ->
      """SELECT * FROM (VALUES
        |  ('bad.bin', 0, '', '', 'no %PDF- header'),
        |  ('enc.pdf', 1, 'Page 1', '', ''),
        |  ('plain.pdf', 1, 'Page 1', '', ''),
        |  ('plain.pdf', 2, 'Page 2', '', ''),
        |  ('rich.pdf', 1, 'Hello world café', '', ''),
        |  ('rich.pdf', 2, 'kern gap' || chr(10) || 'line2(esc)' || chr(10) || 'hi', '', ''))
        |  AS t(name, page, text, warn, error) ORDER BY name, page""".stripMargin,
    "pdf_extract_cid" ->
      """SELECT * FROM (VALUES
        |  ('cid.pdf', 1, 'Hello CID world', '', ''),
        |  ('cid.pdf', 2, 'clef 𝄞 ok', '', ''),
        |  ('dct.pdf', 0, '', '', 'unsupported stream filter /DCTDecode'),
        |  ('nomap.pdf', 1, '', 'unmapped glyphs', ''))
        |  AS t(name, page, text, warn, error) ORDER BY name, page""".stripMargin,
    "pdf_extract_cmap" ->
      """SELECT * FROM (VALUES
        |  ('idv.pdf', 1, 'vertical ok', '', ''),
        |  ('idv_nomap.pdf', 1, '', 'unmapped glyphs', ''),
        |  ('jp.pdf', 1, '日本語 𝄞 テスト', '', ''),
        |  ('kr.pdf', 1, '안녕하세요 세계', '', ''))
        |  AS t(name, page, text, warn, error) ORDER BY name, page""".stripMargin,
    "pdf_extract_report" ->
      """SELECT * FROM (VALUES
        |  ('bad', CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        |     CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('en', 2, 0, 3, 0, 24, 0),
        |  ('ko', 2, 0, 2, 1, 5, 500000))
        |  AS t(source, n_files, n_error_files, n_pages, n_warn_pages,
        |       n_chars, warn_ppm) ORDER BY source""".stripMargin,
    "pdf_extract_embedded_cmap" ->
      """SELECT * FROM (VALUES
        |  ('id_base.pdf', 1, '', 'unmapped glyphs', ''),
        |  ('ovr_char.pdf', 1, '안녕세요', 'unmapped glyphs', ''),
        |  ('ovr_range.pdf', 1, '가라마', 'unmapped glyphs', ''),
        |  ('sub.pdf', 1, '안녕 세계', '', ''))
        |  AS t(name, page, text, warn, error) ORDER BY name, page""".stripMargin,
    "pdf_extract_images" ->
      """SELECT * FROM (VALUES
        |  ('bad.bin', 0, 0, '', '', 0, 0, true, '', 'no %PDF- header'),
        |  ('img.pdf', 1, 0, 'Im0', 'png', 8, 6, true, '', ''),
        |  ('img.pdf', 1, 1, 'Im1', 'png', 5, 4, true, '', ''),
        |  ('img.pdf', 2, 0, 'Im0', 'jpeg', 8, 8, true, '', ''),
        |  ('warn.pdf', 1, 0, 'Im0', '', 4, 4, true,
        |     'unsupported image filter /CCITTFaxDecode', ''),
        |  ('warn.pdf', 1, 1, 'Im1', '', 4, 4, true,
        |     'unsupported image colorspace /DeviceCMYK', ''))
        |  AS t(name, page, img_idx, xname, fmt, width, height, ok, warn, error)
        |ORDER BY name, page, img_idx""".stripMargin,
    "pdf_extract_type3" ->
      """SELECT * FROM (VALUES
        |  ('named.pdf', 1, 'é• é', '', ''),
        |  ('tou.pdf', 1, 'Z', '', ''),
        |  ('unlisted.pdf', 1, 'é', 'unmapped glyphs', ''))
        |  AS t(name, page, text, warn, error) ORDER BY name, page""".stripMargin,
    "pdf_extract_differences" ->
      """SELECT * FROM (VALUES
        |  ('remap.pdf', 1, 'é• A', '', ''),
        |  ('uni.pdf', 1, 'ﬁ𝄞', '', ''),
        |  ('unknown.pdf', 1, 'x', 'unmapped glyphs', ''))
        |  AS t(name, page, text, warn, error) ORDER BY name, page""".stripMargin,
    "pdf_filters" ->
      """SELECT * FROM (VALUES
        |  ('a85.pdf', 1, 'via ASCII85Decode', '', ''),
        |  ('a85_flate.pdf', 1, 'via ASCII85Decode+FlateDecode', '', ''),
        |  ('ahx.pdf', 1, 'via ASCIIHexDecode', '', ''),
        |  ('ahx_lzw.pdf', 1, 'via ASCIIHexDecode+LZWDecode', '', ''),
        |  ('lzw.pdf', 1, 'via LZWDecode', '', ''),
        |  ('rle.pdf', 1, 'via RunLengthDecode', '', ''))
        |  AS t(name, page, text, warn, error) ORDER BY name, page""".stripMargin,
    "workbook_nonempty" ->
      """SELECT * FROM (
        |  SELECT 'regions' AS sheet, count(*) AS n_rows FROM region
        |  UNION ALL
        |  SELECT 'nations', count(*) FROM nation) ORDER BY sheet""".stripMargin,
    "preview_projection" -> {
      val cols = "c_custkey" +: (1 to 19).map(i => s"c_name || '_$i' AS c$i")
      s"""SELECT ${cols.mkString(", ")} FROM customer
         |ORDER BY c_custkey LIMIT 30""".stripMargin
    },
    "files_dedup_listing" ->
      s"""SELECT * FROM (VALUES
         |  ('a.csv', CAST(${contentA.getBytes("UTF-8").length} AS BIGINT)),
         |  ('b.txt', CAST(${contentB.getBytes("UTF-8").length} AS BIGINT)))
         |  AS t(name, length) ORDER BY name""".stripMargin,
    "pdf_error_rows" ->
      """SELECT * FROM (VALUES
        |  ('empty.pdf', false, CAST(NULL AS BIGINT), 'size 0B'),
        |  ('notes.txt', false, CAST(NULL AS BIGINT), 'no %PDF- header'),
        |  ('ok.pdf', true, CAST(3 AS BIGINT), ''),
        |  ('secret.pdf', false, CAST(NULL AS BIGINT), 'encrypted PDF: /Encrypt dictionary not found'))
        |  AS t(name, ok, n_pages, error) ORDER BY name""".stripMargin,
    "pdf_encrypted_pages" ->
      """SELECT * FROM (VALUES
        |  ('aes128.pdf', true, CAST(2 AS BIGINT), ''),
        |  ('locked.pdf', false, CAST(NULL AS BIGINT),
        |   'password-protected PDF: user or owner password required'),
        |  ('merged_plain.pdf', true, CAST(6 AS BIGINT), ''),
        |  ('rc4.pdf', true, CAST(4 AS BIGINT), ''))
        |  AS t(name, ok, n_pages, error) ORDER BY name""".stripMargin,
    "pdf_password_pages" ->
      """SELECT * FROM (VALUES
        |  ('aes_user.pdf', true, CAST(4 AS BIGINT), ''),
        |  ('merged_plain.pdf', true, CAST(7 AS BIGINT), ''),
        |  ('owner_pw.pdf', true, CAST(5 AS BIGINT), ''),
        |  ('rc4_user.pdf', true, CAST(3 AS BIGINT), ''),
        |  ('v5_owner.pdf', true, CAST(6 AS BIGINT), ''),
        |  ('v5_user.pdf', true, CAST(2 AS BIGINT), ''),
        |  ('wrong_pw.pdf', false, CAST(NULL AS BIGINT), 'encrypted PDF: wrong password'))
        |  AS t(name, ok, n_pages, error) ORDER BY name""".stripMargin,
    "user_order" ->
      """SELECT ord, c_custkey, c_name FROM customer
        |JOIN (VALUES (3, 1), (1, 2), (5, 3), (2, 4), (4, 5)) AS t(k, ord)
        |  ON c_custkey = k ORDER BY ord""".stripMargin,
  )
}

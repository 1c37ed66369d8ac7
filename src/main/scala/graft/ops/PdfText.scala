package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PDF text extraction — the bridge from the binary
  * document family (SURVEY §2.1 S11) into the text-analysis family:
  * one (name, page, text) row per page, ready to feed gopherRules,
  * dedup shingling, BPE, language-ID. Reference context: the pdf tool
  * carries the raw bytes (pdf-tool/page.tsx); extraction is the
  * engine-side extension a document-lake pipeline needs first.
  *
  * Scale shape: input is a `binaryFile`-scan-shaped relation
  * (name, content) — Spark assigns whole files to partitions, so the
  * per-file COS parse + content-stream lex runs PARTITION-LOCAL on
  * executors with zero driver involvement and no shuffle at all; the
  * output is a narrow flatMap. At 100 TB of PDFs the cost is one pass
  * over the bytes, embarrassingly parallel by file. Per-file failures
  * degrade to defined error rows (`error` non-empty, page 0) through
  * the per-file guard [[Pdf.describeFiles]] also uses — one
  * corrupt document never fails a corpus-wide extraction job.
  */
object PdfText {

  /** files: (nameCol string, contentCol binary) → (name, page, text,
    * warn, error). Success rows carry error = "" and 1-based pages in
    * page order; `warn` is "" for clean pages and "unmapped glyphs"
    * where a show string hit a code with no Unicode mapping (Type0
    * font without /ToUnicode, CMap holes) — the quarantine flag that
    * keeps known-garbage text out of a downstream corpus instead of
    * silently poisoning it. A failed file yields exactly one row
    * (page 0, text ""). */
  def extractTextDf(files: DataFrame, nameCol: String = "name",
      contentCol: String = "content", password: String = ""): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files
      .select(col(nameCol).cast("string").as("name"), col(contentCol).as("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        Pdf.perFile(bytes)(Pdf.extractTextPages(bytes, password)
          .map { case (p, t, w) => (name, p, t, w, "") })(
          err => Seq((name, 0, "", "", err)))
      }
      .toDF("name", "page", "text", "warn", "error")
  }

  /** The distributed image twin of [[extractTextDf]]: map
    * [[Pdf.extractImages]] over a binaryFile-scan-shaped relation —
    * one row per embedded image, (name, page, img_idx, xname, fmt,
    * width, height, content, warn, error). Same catch-and-degrade
    * vocabulary: file-level failures become one error row (page 0);
    * per-image decode problems are that IMAGE's warn row. The
    * `content` column (JPEG pass-through or lossless PNG re-encode)
    * feeds [[graft.llm.Multimodal]] decode / aHash / pHash / near-dup
    * directly — the document lake's figures join the image pipeline
    * without a format detour. Zero shuffle: a narrow flatMap, one
    * task per file batch. */
  def extractImagesDf(files: DataFrame, nameCol: String = "name",
      contentCol: String = "content", password: String = ""): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files
      .select(col(nameCol).cast("string").as("name"), col(contentCol).as("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        Pdf.perFile(bytes)(Pdf.extractImages(bytes, password).map {
          case (p, i, nm, fmt, w, h, c, warn) => (name, p, i, nm, fmt, w, h, c, warn, "")
        })(err => Seq((name, 0, 0, "", "", 0, 0, Array.empty[Byte], "", err)))
      }
      .toDF("name", "page", "img_idx", "xname", "fmt", "width", "height",
        "content", "warn", "error")
  }

  /** Corpus-level extraction RELEASE REPORT over [[extractTextDf]]
    * output — the number a 100 TB document-lake ingest decides on:
    * per source, how many files arrived, how many failed to parse at
    * all, how many pages extracted, what share of them carry the
    * unmapped-glyph quarantine flag, and how much text came out. ONE
    * aggregate over the page rows (the extraction pass itself is the
    * only corpus-scale work; this is its groupBy). `warn_ppm` is the
    * flagged-page share in fixed-point parts-per-million — integer
    * output so the report is cross-engine exact. Error rows (page 0)
    * count toward n_files / n_error_files and nothing else. */
  def extractionReport(pages: DataFrame, source: Column): DataFrame =
    pages.groupBy(source.as("source"))
      .agg(
        countDistinct(col("name")).as("n_files"),
        countDistinct(when(col("error") =!= "", col("name"))).as("n_error_files"),
        sum(when(col("error") === "", 1L).otherwise(0L)).as("n_pages"),
        sum(when(col("error") === "" && col("warn") =!= "", 1L).otherwise(0L))
          .as("n_warn_pages"),
        sum(when(col("error") === "", length(col("text")).cast("long"))
          .otherwise(0L)).as("n_chars"))
      .withColumn("warn_ppm",
        when(col("n_pages") > 0,
          floor(col("n_warn_pages") * 1000000.0 / col("n_pages")).cast("long"))
          .otherwise(0L))
}

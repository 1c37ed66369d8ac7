package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed batch-at-a-time via
  * mapPartitions (the JVM analogue of arrow-batched pandas UDFs).
  *
  * The decode step is REAL for the formats the JDK ships codecs or
  * public container specs for — no external libraries:
  *  - images (PNG/JPEG/GIF/BMP): `javax.imageio.ImageIO` full decode,
  *    width × height from the decoded raster;
  *  - audio (WAV/AIFF/AU): `javax.sound.sampled.AudioSystem` header
  *    decode, duration from frame count / frame rate;
  *  - video (MP4/ISO-BMFF): a hand-rolled box walker ([ISO 14496-12]:
  *    size+type framing, `moov > mvhd` timescale/duration,
  *    `moov > trak > tkhd` 16.16 fixed-point width/height). Frame
  *    PIXEL decode stays out of scope (no video codec in the JDK);
  *    frame sampling below operates on byte windows.
  * Unrecognized bytes take the deterministic `raw` fallback (metadata
  * derived from the bytes) so heterogeneous batches never throw —
  * the reference-shaped catch-and-degrade contract.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("kind", StringType, nullable = true)))

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = true),
    StructField("fmt", StringType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = true),
    StructField("sig", StringType, nullable = false)))

  /** Wrap a string column as a media table (test harness for the
    * binary path; real ingestion uses spark.read.format("binaryFile")). */
  def fromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("content"),
      when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio").otherwise("video").as("kind"))

  /** Container sniff by magic bytes. */
  def sniff(b: Array[Byte]): String =
    if (b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) "jpeg"
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F') "gif"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') "wav"
    else if (b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p') "mp4"
    else "raw"

  final case class Meta(fmt: String, nBytes: Int, width: Int, height: Int,
      durationMs: Option[Long], sig: String)

  /** MP4/ISO-BMFF metadata: (width, height, durationMs) from the moov
    * box tree. Returns None when the tree is absent/truncated. */
  private[llm] def mp4Meta(b: Array[Byte]): Option[(Int, Int, Long)] = {
    def u32(i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    var timescale = 0L; var duration = -1L; var w = 0; var h = 0
    def walk(start: Int, end: Int): Unit = {
      var i = start
      while (i + 8 <= end) {
        val size = u32(i).toInt
        if (size < 8 || i + size > end) return
        val typ = new String(b, i + 4, 4, "ISO-8859-1")
        typ match {
          case "moov" | "trak" | "mdia" => walk(i + 8, i + size)
          case "mvhd" if (b(i + 8) & 0xFF) == 0 && i + 8 + 20 <= end =>
            timescale = u32(i + 8 + 12); duration = u32(i + 8 + 16)
          case "tkhd" if (b(i + 8) & 0xFF) == 0 && size >= 92 =>
            // v0 tkhd: width/height are the final two 16.16 fields
            w = (u32(i + size - 8) >> 16).toInt
            h = (u32(i + size - 4) >> 16).toInt
          case _ =>
        }
        i += size
      }
    }
    walk(0, b.length)
    if (duration >= 0 && timescale > 0)
      Some((w, h, duration * 1000L / timescale))
    else None
  }

  /** Header-only dimensions: (fmt, width, height) from the container
    * header, NO pixel decode — the metadata pass at corpus scale.
    * A full decode allocates and converts every pixel to answer
    * "how big is this"; this touches ≲100 header bytes per asset
    * (PNG IHDR, GIF/BMP fixed fields, a JPEG marker walk to the first
    * SOF). None for unrecognized/truncated headers — callers fall
    * back to [[decodeBytes]] for the degrade path. */
  def sniffDims(b: Array[Byte]): Option[(String, Int, Int)] = {
    def u16be(i: Int) = ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    def u32be(i: Int) = ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
    def u16le(i: Int) = (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
    def i32le(i: Int) = u16le(i) | (u16le(i + 2) << 16)
    sniff(b) match {
      case "png" if b.length >= 24 => Some(("png", u32be(16), u32be(20)))
      case "gif" if b.length >= 10 => Some(("gif", u16le(6), u16le(8)))
      case "bmp" if b.length >= 26 =>
        Some(("bmp", i32le(18), math.abs(i32le(22)))) // negative = top-down
      case "jpeg" =>
        // marker walk: skip segments until a frame header (SOF0-15
        // minus the non-frame C4/C8/CC); height then width, big-endian
        var i = 2
        while (i + 9 < b.length) {
          if ((b(i) & 0xFF) != 0xFF) return None
          val m = b(i + 1) & 0xFF
          if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) i += 2 // bare markers
          else {
            val len = u16be(i + 2)
            if (len < 2) return None
            if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC)
              return Some(("jpeg", u16be(i + 7), u16be(i + 5)))
            i += 2 + len
          }
        }
        None
      case _ => None
    }
  }

  /** EXIF metadata of a JPEG payload ([EXIF 2.3] / TIFF 6.0 IFD walk):
    * orientation (1–8), capture timestamp (DateTimeOriginal from the
    * Exif sub-IFD, falling back to IFD0 DateTime), camera make/model,
    * and the declared pixel dimensions. The APP1 marker segment is
    * located by the same marker walk as [[sniffDims]]; both TIFF byte
    * orders (II/MM) parse; inline (≤4-byte) and offset values both
    * read; a malformed or absent block is None, never an exception —
    * image pipelines need orientation before perceptual hashing and
    * capture time for dedup/curation windows, and a 100 TB lake hits
    * every vendor's quirks, so every read is bounds-checked. */
  def exifMeta(b: Array[Byte]): Option[ExifMeta] = {
    if (sniff(b) != "jpeg") return None
    def u16be(i: Int) = ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    // find the APP1 Exif segment
    var i = 2
    var app1 = -1
    var app1End = -1
    while (app1 < 0 && i + 4 < b.length && (b(i) & 0xFF) == 0xFF) {
      val m = b(i + 1) & 0xFF
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) i += 2
      else {
        val len = u16be(i + 2)
        if (len < 2) return None
        if (m == 0xE1 && i + 10 <= b.length &&
            b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
            b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0) {
          app1 = i + 10
          app1End = math.min(b.length, i + 2 + len)
        }
        i += 2 + len
      }
    }
    if (app1 < 0) return None
    val t = app1 // TIFF header base — all IFD offsets are relative to it
    if (t + 8 > app1End) return None
    val le = b(t) == 'I' && b(t + 1) == 'I'
    if (!le && !(b(t) == 'M' && b(t + 1) == 'M')) return None
    def u16(o: Int): Int =
      if (o < t || o + 2 > app1End) -1
      else if (le) (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      else ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
    def u32(o: Int): Long =
      if (o < t || o + 4 > app1End) -1L
      else if (le) (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
        ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
      else ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
        ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)
    if (u16(t + 2) != 42) return None
    // one IFD's (tag -> (type, count, valueFieldOffset)) map
    def ifdEntries(off: Long): Map[Int, (Int, Long, Int)] = {
      val o = t + off.toInt
      val n = u16(o)
      if (n < 0 || n > 512) return Map.empty
      (0 until n).flatMap { k =>
        val e = o + 2 + 12 * k
        val tag = u16(e)
        if (tag < 0) None
        else Some(tag -> ((u16(e + 2), u32(e + 4), e + 8)))
      }.toMap
    }
    def typeSize(tp: Int): Int = tp match {
      case 1 | 2 | 6 | 7 => 1
      case 3 | 8 => 2
      case 4 | 9 | 11 => 4
      case 5 | 10 | 12 => 8
      case _ => 0
    }
    def intValue(e: (Int, Long, Int)): Option[Long] = {
      val (tp, cnt, vo) = e
      val at = if (typeSize(tp).toLong * cnt <= 4) vo else t + u32(vo).toInt
      tp match {
        case 3 => Some(u16(at).toLong).filter(_ >= 0)
        case 4 => Some(u32(at)).filter(_ >= 0)
        case _ => None
      }
    }
    def strValue(e: (Int, Long, Int)): Option[String] = {
      val (tp, cnt, vo) = e
      if (tp != 2 || cnt <= 0 || cnt > 4096) return None
      val at = if (cnt <= 4) vo else t + u32(vo).toInt
      if (at < t || at + cnt > app1End) return None
      Some(new String(b, at, cnt.toInt, "US-ASCII")
        .takeWhile(_ != '\u0000').trim).filter(_.nonEmpty)
    }
    val ifd0off = u32(t + 4)
    if (ifd0off < 0) return None
    val ifd0 = ifdEntries(ifd0off)
    if (ifd0.isEmpty) return None
    val sub = ifd0.get(0x8769).flatMap(intValue)
      .map(ifdEntries).getOrElse(Map.empty)
    Some(ExifMeta(
      orientation = ifd0.get(0x0112).flatMap(intValue).map(_.toInt),
      takenAt = sub.get(0x9003).flatMap(strValue)
        .orElse(ifd0.get(0x0132).flatMap(strValue)),
      make = ifd0.get(0x010F).flatMap(strValue),
      model = ifd0.get(0x0110).flatMap(strValue),
      pixelX = sub.get(0xA002).flatMap(intValue).map(_.toInt),
      pixelY = sub.get(0xA003).flatMap(intValue).map(_.toInt)))
  }

  /** Parsed EXIF fields; every field optional (vendor blocks omit
    * freely). */
  case class ExifMeta(orientation: Option[Int], takenAt: Option[String],
      make: Option[String], model: Option[String],
      pixelX: Option[Int], pixelY: Option[Int])

  /** Batch EXIF extraction over partitions — the same partition-local
    * shape as [[sniffMeta]]; a non-JPEG or EXIF-less payload emits an
    * all-null row (present ⇒ parsed, the audit-friendly contract). */
  def exifMetaDf(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "content").rdd.mapPartitions(_.map { r =>
      val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.emptyByteArray)
      val m = exifMeta(bytes)
      Row(r.getAs[Long]("media_id"),
        m.flatMap(_.orientation).map(Int.box).orNull,
        m.flatMap(_.takenAt).orNull,
        m.flatMap(_.make).orNull,
        m.flatMap(_.model).orNull,
        m.flatMap(_.pixelX).map(Int.box).orNull,
        m.flatMap(_.pixelY).map(Int.box).orNull)
    })
    import org.apache.spark.sql.types._
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("orientation", IntegerType, nullable = true),
      StructField("taken_at", StringType, nullable = true),
      StructField("make", StringType, nullable = true),
      StructField("model", StringType, nullable = true),
      StructField("pixel_x", IntegerType, nullable = true),
      StructField("pixel_y", IntegerType, nullable = true))))
  }

  /** Fixture builder: splice a crafted EXIF APP1 segment (TIFF block
    * in the chosen byte order, IFD0 + Exif sub-IFD) into a real
    * ImageIO-encoded JPEG right after SOI. */
  def makeExifJpeg(w: Int, h: Int, orientation: Int, takenAt: String,
      make: String, model: String, littleEndian: Boolean = true): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, if ((x + y) % 2 == 0) 0xFFFFFF else 0x336699)))
    val base = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    // TIFF block (offsets relative to its own start)
    val buf = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (littleEndian) { buf.write(v & 0xFF); buf.write((v >> 8) & 0xFF) }
      else { buf.write((v >> 8) & 0xFF); buf.write(v & 0xFF) }
    def w32(v: Int): Unit =
      if (littleEndian) { buf.write(v & 0xFF); buf.write((v >> 8) & 0xFF)
        buf.write((v >> 16) & 0xFF); buf.write((v >> 24) & 0xFF) }
      else { buf.write((v >> 24) & 0xFF); buf.write((v >> 16) & 0xFF)
        buf.write((v >> 8) & 0xFF); buf.write(v & 0xFF) }
    def entry(tag: Int, tp: Int, cnt: Int, value: Int): Unit = {
      w16(tag); w16(tp); w32(cnt)
      if (tp == 3 && cnt == 1) { w16(value); w16(0) } else w32(value)
    }
    // NUL-terminate, then pad below 5 bytes: values <= 4 bytes must be
    // stored INLINE per TIFF, and this builder's layout always uses
    // the offset form -- padding keeps short strings spec-legal there
    def ascii(str: String): Array[Byte] = {
      val raw = (str + "\u0000").getBytes("US-ASCII")
      if (raw.length <= 4) raw.padTo(5, 0.toByte) else raw
    }
    val makeB = ascii(make)
    val modelB = ascii(model)
    val dtB = ascii(takenAt)
    // layout: header(8) ifd0(2+4*12+4) values(make, model) subifd(2+3*12+4) dt
    val ifd0Off = 8
    val ifd0Size = 2 + 4 * 12 + 4
    val makeOff = ifd0Off + ifd0Size
    val modelOff = makeOff + makeB.length
    val subOff = modelOff + modelB.length
    val subSize = 2 + 3 * 12 + 4
    val dtOff = subOff + subSize
    if (littleEndian) { buf.write('I'); buf.write('I') }
    else { buf.write('M'); buf.write('M') }
    w16(42); w32(ifd0Off)
    w16(4) // IFD0: 4 entries, tag order ascending per spec
    entry(0x010F, 2, makeB.length, makeOff)
    entry(0x0110, 2, modelB.length, modelOff)
    entry(0x0112, 3, 1, orientation)
    entry(0x8769, 4, 1, subOff)
    w32(0) // next-IFD terminator
    buf.write(makeB); buf.write(modelB)
    w16(3) // Exif sub-IFD: 3 entries
    entry(0x9003, 2, dtB.length, dtOff)
    entry(0xA002, 3, 1, w)
    entry(0xA003, 3, 1, h)
    w32(0)
    buf.write(dtB)
    val tiff = buf.toByteArray
    val seg = new java.io.ByteArrayOutputStream()
    seg.write(0xFF); seg.write(0xE1)
    val segLen = 2 + 6 + tiff.length
    seg.write((segLen >> 8) & 0xFF); seg.write(segLen & 0xFF)
    seg.write("Exif".getBytes("US-ASCII")); seg.write(0); seg.write(0)
    seg.write(tiff)
    val out = new java.io.ByteArrayOutputStream()
    out.write(base, 0, 2) // SOI
    seg.writeTo(out)
    out.write(base, 2, base.length - 2)
    out.toByteArray
  }

  /** Batch header sniff over partitions — same distribution shape as
    * [[decode]], a fraction of its cost. Unrecognized payloads emit
    * null fmt/dims rather than degrading (the point of this pass is
    * to know, cheaply, which assets need the real decoder). */
  def sniffMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "content").rdd.mapPartitions(_.map { r =>
      val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.emptyByteArray)
      sniffDims(bytes) match {
        case Some((f, w, h)) => Row(r.getAs[Long]("media_id"), f,
          Int.box(w), Int.box(h), Int.box(bytes.length))
        case None => Row(r.getAs[Long]("media_id"), null, null, null,
          Int.box(bytes.length))
      }
    })
    spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("fmt",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("width",
        org.apache.spark.sql.types.IntegerType, nullable = true),
      org.apache.spark.sql.types.StructField("height",
        org.apache.spark.sql.types.IntegerType, nullable = true),
      org.apache.spark.sql.types.StructField("n_bytes",
        org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** Deterministic fallback for unrecognized bytes (the former stub —
    * now only the degrade path, never the contract). */
  private def rawMeta(n: Int): (Int, Int) =
    (16 + math.floorMod(n, 640), 16 + math.floorMod(n * 31, 480))

  /** Decode one payload: real codec/container metadata where the JDK
    * can, `raw` fallback otherwise. Never throws — a corrupt payload
    * of a recognized format degrades to `raw` too (batch semantics). */
  def decodeBytes(content: Array[Byte]): Meta = {
    val n = content.length
    val digest = java.security.MessageDigest.getInstance("MD5").digest(content)
    val sig = digest.map("%02x".format(_)).mkString
    def raw = { val (w, h) = rawMeta(n); Meta("raw", n, w, h, None, sig) }
    try sniff(content) match {
      case f @ ("png" | "jpeg" | "gif" | "bmp") =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
        if (img == null) raw
        else Meta(f, n, img.getWidth, img.getHeight, None, sig)
      case "wav" =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(content))
        try {
          val fmt = in.getFormat
          val ms = (in.getFrameLength * 1000.0 / fmt.getFrameRate).toLong
          Meta("wav", n, 0, 0, Some(ms), sig)
        } finally in.close()
      case "mp4" => mp4Meta(content) match {
        case Some((w, h, ms)) => Meta("mp4", n, w, h, Some(ms), sig)
        case None => raw
      }
      case _ => raw
    } catch { case scala.util.control.NonFatal(_) => raw }
  }

  /** Batch decode over partitions — the mapInPandas-shaped hot path.
    * No driver collect; each task decodes its partition's rows. */
  def decode(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "content", "kind").rdd.mapPartitions(_.map { r =>
      val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.emptyByteArray)
      val m = decodeBytes(bytes)
      Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"), m.fmt,
        m.nBytes, m.width, m.height, m.durationMs.map(Long.box).orNull, m.sig)
    })
    spark.createDataFrame(rdd, decodedSchema)
  }

  /** Frame sampling by byte range: every `stride`-th window of `len`
    * bytes (a real video pipeline samples frames; the byte-window shape
    * and the explode-per-frame plan are the same). */
  def sampleFrames(media: DataFrame, stride: Int = 64, len: Int = 16): DataFrame =
    media.select(col("media_id"),
      posexplode(expr(
        s"transform(sequence(1, greatest(int(octet_length(content)) div $stride, 1)), " +
          s"i -> substring(content, (i - 1) * $stride + 1, $len))")).as(Seq("frame_no", "frame")))

  /** Shot-boundary / KEYFRAME detection over a [[sampleFrames]]-shaped
    * relation: a frame is a keyframe when its content Jaccard (distinct
    * char n-grams) against the PREVIOUS frame drops below `tauX1e4` —
    * the standard frame-difference cut detector, with the byte-window
    * fixture standing in for decoded rasters (swap the n-gram set for
    * a block-histogram and the plan is unchanged). Frame 0 is always a
    * keyframe (jacc_prev reported as −1).
    *
    * Plan shape: NO JOIN AT ALL — each frame keeps its distinct-gram
    * set as an array (grams digested to 64-bit xxhash: 8-byte elements
    * instead of text, sets unchanged), the predecessor's set arrives
    * by a lag() window on the media key, and the intersection is a
    * local array_intersect over two bounded arrays. One exchange on
    * media_id total; work is frames × grams-per-frame — linear in
    * media bytes. (A first formulation ran a consecutive-pair gram
    * equi-join: same answers, one extra corpus-sized shuffle — the
    * window form replaced it and reads ~7× faster at sf1.) */
  def keyframes(frames: DataFrame, n: Int = 4,
      tauX1e4: Long = 2000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val txt = frames.select(col("media_id"), col("frame_no"),
      col("frame").cast("string").as("s"))
    val g = txt.select(col("media_id"), col("frame_no"), expr(
      s"""transform(array_distinct(transform(
         |  sequence(1, greatest(length(s) - ${n - 1}, 1)),
         |  i -> substring(s, i, $n))), x -> xxhash64(x))""".stripMargin)
      .as("grams"))
    val w = Window.partitionBy("media_id").orderBy("frame_no")
    g.withColumn("prev", lag(col("grams"), 1).over(w))
      .withColumn("jacc_prev_x1e4",
        when(col("prev").isNull, lit(-1L)).otherwise(expr(
          """CAST(FLOOR(CAST(size(array_intersect(grams, prev)) AS DOUBLE)
            |  / (size(grams) + size(prev) - size(array_intersect(grams, prev)))
            |  * 10000 + 0.5) AS BIGINT)""".stripMargin)))
      .filter(col("prev").isNull || col("jacc_prev_x1e4") < tauX1e4)
      .select(col("media_id"), col("frame_no"), col("jacc_prev_x1e4"))
  }

  /** Decode-once image entry point: None when the payload isn't a
    * decodable image. Every image transform below starts here so a
    * pipeline stage that needs N derived artifacts (resized PNG +
    * perceptual hash) pays ONE codec pass — image decode dominates
    * this work at scale. */
  private def decodeImage(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Bilinear resample of an already-decoded image into a fresh
    * (w, h) RGB raster. */
  private def resizeImage(src: java.awt.image.BufferedImage, w: Int,
      h: Int): java.awt.image.BufferedImage = {
    val dst = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
    } finally g.dispose()
    dst
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** PNG-encode raw 8-bit samples (row-major; 1 channel = gray, 3 =
    * RGB) — the container bridge [[graft.ops.Pdf.extractImages]] uses
    * to hand decoded FlateDecode image XObjects to the rest of the
    * image pipeline (decode / aHash / pHash / near-dup) in a standard
    * format. Sample values land in the raster verbatim (raster
    * writes, not setRGB — setRGB on a gray image would round-trip
    * through sRGB and shift values), so the encode is lossless. */
  def pngFromSamples(samples: Array[Byte], w: Int, h: Int,
      channels: Int): Array[Byte] = {
    require(channels == 1 || channels == 3,
      s"pngFromSamples: channels=$channels (1 = gray, 3 = RGB)")
    require(w > 0 && h > 0, s"pngFromSamples: $w x $h")
    require(samples.length >= w * h * channels,
      s"pngFromSamples: ${samples.length} samples < $w*$h*$channels")
    val img = new java.awt.image.BufferedImage(w, h,
      if (channels == 1) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      else java.awt.image.BufferedImage.TYPE_INT_RGB)
    val raster = img.getRaster
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < channels) {
          raster.setSample(x, y, c, samples(i) & 0xFF)
          i += 1; c += 1
        }
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

  /** Bilinear resize to (w, h), re-encoded PNG. None when the payload
    * isn't a decodable image (callers keep the raw row or drop it). */
  def resizeBytes(content: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    require(w > 0 && h > 0, s"resizeBytes: $w x $h")
    decodeImage(content).map(src => encodePng(resizeImage(src, w, h)))
  }

  /** aHash core over an already-downscaled 8×8 RGB raster: grayscale
    * via the integer BT.601 luma, set bit y·8+x when the pixel's luma
    * exceeds the image mean. (PNG is lossless over TYPE_INT_RGB, so
    * hashing the raster directly is bit-identical to the former
    * encode-PNG-then-rehash round-trip — minus a codec pass.) */
  private def aHashImage(img: java.awt.image.BufferedImage): Long = {
    val lumas = for (y <- 0 until 8; x <- 0 until 8) yield {
      val rgb = img.getRGB(x, y)
      (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) + 114 * (rgb & 0xFF)) / 1000
    }
    val mean = lumas.sum.toDouble / 64
    lumas.zipWithIndex.foldLeft(0L) { case (acc, (l, i)) =>
      if (l > mean) acc | (1L << i) else acc
    }
  }

  /** 64-bit average hash (aHash): downscale to 8×8 and threshold each
    * pixel's luma against the image mean. The classic perceptual
    * fingerprint — near-dup images (recompress, mild resize) land
    * within a few Hamming bits, so it slots into the same band-join
    * dedup machinery as SimHash. None for undecodable payloads. */
  def aHashBytes(content: Array[Byte]): Option[Long] =
    decodeImage(content).map(src => aHashImage(resizeImage(src, 8, 8)))

  /** Apply an EXIF orientation (1–8) to a decoded raster: the exact
    * pixel remap that turns camera storage order into display order
    * ([EXIF 2.3] table 4 — 2 flip-H, 3 rot-180, 4 flip-V,
    * 5 transpose, 6 rot-90-CW, 7 transverse, 8 rot-270-CW). */
  private[llm] def applyOrientation(src: java.awt.image.BufferedImage,
      orientation: Int): java.awt.image.BufferedImage = {
    if (orientation <= 1 || orientation > 8) return src
    val (ws, hs) = (src.getWidth, src.getHeight)
    val swap = orientation >= 5
    val (wd, hd) = if (swap) (hs, ws) else (ws, hs)
    val out = new java.awt.image.BufferedImage(wd, hd,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < wd) {
      var y = 0
      while (y < hd) {
        val rgb = orientation match {
          case 2 => src.getRGB(ws - 1 - x, y)
          case 3 => src.getRGB(ws - 1 - x, hs - 1 - y)
          case 4 => src.getRGB(x, hs - 1 - y)
          case 5 => src.getRGB(y, x)
          case 6 => src.getRGB(y, hs - 1 - x)
          case 7 => src.getRGB(ws - 1 - y, hs - 1 - x)
          case _ => src.getRGB(ws - 1 - y, x) // 8
        }
        out.setRGB(x, y, rgb)
        y += 1
      }
      x += 1
    }
    out
  }

  /** Fixture: one upright 64×64 scene (8×8 black/white blocks from the
    * bits of `pat`) STORED as a camera would under `orientation` — the
    * raster is pre-inverted so applying the orientation reproduces the
    * upright scene — with a minimal EXIF APP1 carrying just that tag.
    * Two fixtures of the same `pat` under different orientations are
    * the same photo taken with different camera holds. */
  def makeOrientedJpeg(pat: Long, orientation: Int): Array[Byte] = {
    val base = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 64).foreach(x => (0 until 64).foreach { y =>
      val bit = (pat >>> ((y / 8) * 8 + (x / 8))) & 1L
      base.setRGB(x, y, if (bit == 1L) 0xFFFFFF else 0x000000)
    })
    // inverse transform: orientations are self-inverse except 6 <-> 8
    val inv = orientation match { case 6 => 8; case 8 => 6; case o => o }
    val stored = applyOrientation(base, inv)
    val jpgOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(stored, "jpg", jpgOut)
    val jpg = jpgOut.toByteArray
    // minimal little-endian APP1: IFD0 with the single orientation tag
    val t = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { t.write(v & 0xFF); t.write((v >> 8) & 0xFF) }
    def w32(v: Int): Unit = { w16(v & 0xFFFF); w16((v >> 16) & 0xFFFF) }
    t.write('I'); t.write('I'); w16(42); w32(8)
    w16(1); w16(0x0112); w16(3); w32(1); w16(orientation); w16(0); w32(0)
    val tiff = t.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(jpg, 0, 2)
    out.write(0xFF); out.write(0xE1)
    val segLen = 2 + 6 + tiff.length
    out.write((segLen >> 8) & 0xFF); out.write(segLen & 0xFF)
    out.write("Exif".getBytes("US-ASCII")); out.write(0); out.write(0)
    out.write(tiff)
    out.write(jpg, 2, jpg.length - 2)
    out.toByteArray
  }

  /** Orientation-normalized aHash: decode, apply the EXIF orientation
    * (JPEGs; other formats carry none and hash as-is), downscale,
    * hash. A photo and its rotated-at-capture copy (same scene, EXIF
    * orientation set by the camera) hash IDENTICALLY here where the
    * raw [[aHashBytes]] sees two unrelated bit patterns — the variant
    * image dedup at lake scale actually wants. */
  def orientedAHashBytes(content: Array[Byte]): Option[Long] =
    decodeImage(content).map { src =>
      val o = exifMeta(content).flatMap(_.orientation).getOrElse(1)
      aHashImage(resizeImage(applyOrientation(src, o), 8, 8))
    }

  // ---- pHash (DCT perceptual hash) ----------------------------------

  /** Integer DCT-II basis, ×10⁴ fixed point: dctT(u)(x) =
    * rint(cos(π(2x+1)u/64)·10⁴) for u ∈ 0..7 (the low-frequency rows
    * the 8×8 hash corner keeps) and x ∈ 0..31. The fixture derivations
    * in the phash gates rest on two EXACT cancellation identities that
    * the rounded table inherits from the trig ones because rint is
    * odd-symmetric (rint(−z) = −rint(z), ties to even) — asserted at
    * load so any platform whose cos/rint disagrees fails loud:
    *   Σ_x dctT(u)(x) = 0 for every u ≥ 1   (constants ⇒ all-AC-zero)
    *   Σ_{x<16} dctT(u)(x) = 0 for u ∈ {2,4,6}   (half-split pattern)
    */
  private val dctT: Array[Array[Long]] = {
    val t = Array.tabulate(8, 32) { (u, x) =>
      Math.rint(Math.cos(Math.PI * (2 * x + 1) * u / 64) * 10000).toLong
    }
    (1 until 8).foreach(u =>
      require(t(u).sum == 0L, s"dct row $u sums ${t(u).sum}"))
    Seq(2, 4, 6).foreach(u =>
      require(t(u).take(16).sum == 0L, s"dct half-row $u"))
    t
  }

  /** pHash core over an already-downscaled 32×32 raster: BT.601 luma
    * grid → the 64 low-frequency 2-D DCT coefficients C(u,v) =
    * Σ_{x,y} luma·dctT(u)(x)·dctT(v)(y), computed separably in exact
    * ×10⁸ integers (|C| ≤ 255·10⁸·1024 ≪ 2⁶³) — bit u·8+v set when
    * C strictly exceeds the MEDIAN of the 63 AC coefficients (the
    * rank-32 order statistic, deterministic — no averaging). */
  private def phashImage(img: java.awt.image.BufferedImage): Long = {
    val g = Array.tabulate(32, 32) { (x, y) =>
      val rgb = img.getRGB(x, y)
      ((299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF)
        + 114 * (rgb & 0xFF)) / 1000).toLong
    }
    val rowT = Array.tabulate(8, 32) { (u, y) =>
      var s = 0L; var x = 0
      while (x < 32) { s += g(x)(y) * dctT(u)(x); x += 1 }
      s
    }
    val c = Array.tabulate(8, 8) { (u, v) =>
      var s = 0L; var y = 0
      while (y < 32) { s += rowT(u)(y) * dctT(v)(y); y += 1 }
      s
    }
    val ac = (for (u <- 0 until 8; v <- 0 until 8 if u != 0 || v != 0)
      yield c(u)(v)).sorted
    val med = ac(31)
    (for (u <- 0 until 8; v <- 0 until 8) yield (u, v)).foldLeft(0L) {
      case (acc, (u, v)) =>
        if (c(u)(v) > med) acc | (1L << (u * 8 + v)) else acc
    }
  }

  /** 64-bit DCT perceptual hash (pHash): downscale to 32×32, keep the
    * 8×8 low-frequency corner of the 2-D DCT, threshold each
    * coefficient against the median AC coefficient. Captures coarse
    * STRUCTURE rather than per-cell brightness, so it survives
    * recompression, mild blur, and global brightness shifts that move
    * every aHash cell at once — the stronger standard fingerprint
    * next to [[aHashBytes]]. A global +k luma shift provably changes
    * at most the DC bit: Σ_x dctT(u)(x) = 0 (asserted) kills the
    * constant in every AC coefficient exactly. Entirely integer, so
    * hashes are platform-exact. None for undecodable payloads. */
  def phashBytes(content: Array[Byte]): Option[Long] =
    decodeImage(content).map(src => phashImage(resizeImage(src, 32, 32)))

  /** One decode pass → (media_id, phash); undecodable payloads keep
    * their row with a null hash (the caller's sentinel choice). */
  def phash64(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "content").rdd.map { r =>
      val h = Option(r.getAs[Array[Byte]]("content")).flatMap(phashBytes)
      Row(r.getAs[Long]("media_id"), h.map(Long.box).orNull)
    }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = true))))
  }

  /** pHash near-duplicate pairs: the same banded-Hamming kernel as
    * [[ahashNearDupPairs]] (four 16-bit bands, pigeonhole-exact at
    * maxBits ≤ 3, hot-band cap), fed by the DCT hash — structure-level
    * near-dups (recompressed, re-brightened copies) that per-cell
    * aHash can miss. Undecodable payloads drop before the join. */
  def phashNearDupPairs(media: DataFrame, maxBits: Int = 3): DataFrame =
    hashNearDupPairs(media, phashBytes, maxBits)

  /** The shared body of the media near-dup joins: one decode pass hashes
    * each payload to a 64-bit (id, sig) row — undecodable payloads
    * drop, so no hash means no pair — then the banded Hamming self-join
    * ([[Dedup.bandedHammingPairs]]). Output (a, b, dist), a < b. */
  private def hashNearDupPairs(media: DataFrame,
      hash: Array[Byte] => Option[Long], maxBits: Int): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "content").rdd.flatMap { r =>
      Option(r.getAs[Array[Byte]]("content"))
        .flatMap(hash)
        .map(h => Row(r.getAs[Long]("media_id"), h))
    }
    val sigs = spark.createDataFrame(rdd, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sig", LongType, nullable = false))))
    Dedup.bandedHammingPairs(sigs, maxBits)
  }

  /** Perceptual near-duplicate image pairs — the multimodal member of
    * the dedup family. One mapPartitions decode pass computes each
    * image's 64-bit aHash; candidates then come from the SAME banded
    * Hamming self-join that powers text SimHash dedup
    * ([[Dedup.bandedHammingPairs]]): four 16-bit bands, equi-join on
    * band value, popcount verify — never all-pairs, hot bands capped.
    * A recompressed / mildly-resized copy of an image lands within a
    * few Hamming bits of the original, so `maxBits = 3` (the exact-
    * by-pigeonhole radius) catches byte-level-different visual dups
    * that exact binary dedup cannot. Undecodable payloads drop out
    * before the join (no hash ⇒ no pair). Output (a, b, dist), a < b. */
  def ahashNearDupPairs(media: DataFrame, maxBits: Int = 3,
      orientationNormalize: Boolean = false): DataFrame =
    hashNearDupPairs(media,
      if (orientationNormalize) orientedAHashBytes else aHashBytes, maxBits)

  /** Executor-side resize + feature-extract over a media table: one
    * mapPartitions pass computing the resized PNG's dimensions/bytes
    * and the aHash — the source image decodes ONCE and feeds both
    * rasters. Undecodable rows surface fmt='skip' with nulls —
    * heterogeneous batches survive, same contract as [[decode]]. */
  def resizeAndHash(media: DataFrame, w: Int, h: Int): DataFrame = {
    require(w > 0 && h > 0, s"resizeAndHash: $w x $h")
    val spark = media.sparkSession
    val rdd = media.select("media_id", "content").rdd.mapPartitions(_.map { r =>
      val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.emptyByteArray)
      decodeImage(bytes) match {
        case Some(src) =>
          val png = encodePng(resizeImage(src, w, h))
          Row(r.getAs[Long]("media_id"), "png", Int.box(w), Int.box(h),
            Int.box(png.length), Long.box(aHashImage(resizeImage(src, 8, 8))))
        case None =>
          Row(r.getAs[Long]("media_id"), "skip", null, null, null, null)
      }
    })
    spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("fmt", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("width", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("height", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_bytes", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("ahash", org.apache.spark.sql.types.LongType))))
  }

  // ---- audio features -----------------------------------------------

  /** PCM samples of a WAV payload as centered ints (8-bit unsigned →
    * −128-shift; 16-bit signed, either endianness; stereo interleaved
    * in channel order; a trailing partial sample is dropped). None
    * when the bytes aren't decodable PCM audio. */
  private def pcmSamples(content: Array[Byte]): Option[Array[Int]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val fmt = in.getFormat
        val bits = fmt.getSampleSizeInBits
        if (bits != 8 && bits != 16) None
        else {
          val raw = in.readAllBytes()
          val signed = fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          if (bits == 8)
            Some(raw.map(b => if (signed) b.toInt else (b & 0xFF) - 128))
          else {
            val n = raw.length / 2
            val out = new Array[Int](n)
            var i = 0
            while (i < n) {
              val (lo, hi) = if (fmt.isBigEndian) (raw(2 * i + 1), raw(2 * i))
                else (raw(2 * i), raw(2 * i + 1))
              out(i) = ((hi.toInt << 8) | (lo & 0xFF)) - (if (signed) 0 else 32768)
              i += 1
            }
            Some(out)
          }
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 64-bit audio fingerprint: split the PCM stream into 65 equal
    * frames, take each frame's integer energy (Σ sample²), and set
    * bit i when frame i+1 is louder than frame i — the
    * sign-of-energy-delta hash, the audio twin of the image aHash.
    * Uniform gain scales every frame energy by the same factor, so
    * the comparisons (hence the hash) are GAIN-INVARIANT — a
    * re-levelled copy of a clip fingerprints identically, which is
    * what makes it a dedup signal rather than a checksum. None when
    * the payload isn't decodable PCM or is shorter than 65 samples
    * (no stable envelope to compare). */
  def audioHashBytes(content: Array[Byte]): Option[Long] =
    pcmSamples(content).filter(_.length >= 65).map { s =>
      val frames = 65
      val flen = s.length / frames
      val energy = new Array[Long](frames)
      var f = 0
      while (f < frames) {
        var e = 0L
        var i = f * flen
        val end = i + flen
        while (i < end) { val v = s(i).toLong; e += v * v; i += 1 }
        energy(f) = e
        f += 1
      }
      (1 until frames).foldLeft(0L) { (acc, i) =>
        if (energy(i) > energy(i - 1)) acc | (1L << (i - 1)) else acc
      }
    }

  /** Perceptual near-duplicate audio pairs: executor-side fingerprint
    * pass, then the banded Hamming self-join shared with text SimHash
    * and image aHash ([[Dedup.bandedHammingPairs]]). Output
    * (a, b, dist), a < b. */
  def audioNearDupPairs(media: DataFrame, maxBits: Int = 3): DataFrame =
    hashNearDupPairs(media, audioHashBytes, maxBits)

  /** INTEGER-EXACT audio features per row: sample count, energy
    * (Σ s² as a long — exact for any realistic clip: 16-bit² × count
    * overflows only past 2^32 samples), peak |s|, and zero crossings
    * (sign flips across the interleaved sample stream, negative vs
    * non-negative — the deterministic convention). Integer outputs
    * mean the gate oracle is plain VALUES literals — no float
    * tolerance. Non-audio payloads emit fmt='skip' with nulls, same
    * heterogeneous-batch contract as [[decode]]/[[resizeAndHash]];
    * executor-side mapPartitions like the rest of this module (the
    * JDK sound stack has no Catalyst vehicle). */
  def audioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "content").rdd.mapPartitions(_.map { r =>
      val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.emptyByteArray)
      pcmSamples(bytes) match {
        case Some(s) =>
          var sumSq = 0L; var maxAbs = 0L; var zc = 0L
          var i = 0
          while (i < s.length) {
            val v = s(i).toLong
            sumSq += v * v
            val a = math.abs(v)
            if (a > maxAbs) maxAbs = a
            if (i > 0 && ((s(i - 1) < 0) != (s(i) < 0))) zc += 1
            i += 1
          }
          Row(r.getAs[Long]("media_id"), "wav", Long.box(s.length.toLong),
            Long.box(sumSq), Long.box(maxAbs), Long.box(zc))
        case None =>
          Row(r.getAs[Long]("media_id"), "skip", null, null, null, null)
      }
    })
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fmt", StringType, nullable = false),
      StructField("n_samples", LongType),
      StructField("sum_sq", LongType),
      StructField("max_abs", LongType),
      StructField("zero_crossings", LongType))))
  }
}

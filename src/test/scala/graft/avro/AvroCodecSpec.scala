package graft.avro

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSpec

/** The `InternalRow` codec ([[RowDatumWriter]], [[RowDatumReader]])
  * against the `GenericRecord` path it replaced ([[AvroReference]]):
  * the same bytes and the same rows; and the reader's type check
  * across the files of one table. */
class AvroCodecSpec extends SparkSpec {

  /** The seven types, each nullable, plus a non-nullable int and string. */
  private val schema7 = StructType(Seq(
    StructField("b", BooleanType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("y", BinaryType),
    StructField("id", IntegerType, nullable = false),
    StructField("t", StringType, nullable = false)))

  /** Nulls in every nullable column, "", Korean, emoji, empty binary
    * and the edge values of each number type. */
  private val edgeRows: Seq[Row] = Seq(
    Row(null, null, null, null, null, null, null, 0, ""),
    Row(true, Int.MinValue, Long.MinValue, Float.NaN, Double.NegativeInfinity, "",
      Array.emptyByteArray, 1, "안녕하세요"),
    Row(false, Int.MaxValue, Long.MaxValue, -0.0f, -0.0, "데이터 변환기",
      Array[Byte](0, -1, 127, -128), 2, "😀👍🏽🇰🇷"),
    Row(true, 0, 0L, Float.MinPositiveValue, Double.MaxValue, "emoji 😀 and 한글",
      Array[Byte](7), 3, "\u0000 nul"))

  private val stringGen: Gen[String] = Gen.oneOf(Gen.const(""), Gen.alphaNumStr,
    Gen.listOf(Gen.oneOf(Gen.choose(0xAC00, 0xD7A3), Gen.choose(0x1F600, 0x1F64F),
      Gen.choose(0x20, 0x7E))).map(cps => new String(cps.toArray, 0, cps.length)))

  private def nullable[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> g)

  private val rowGen: Gen[Row] = for {
    b <- nullable(Gen.oneOf(true, false))
    i <- nullable(Gen.chooseNum(Int.MinValue, Int.MaxValue))
    l <- nullable(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    f <- nullable(Gen.chooseNum(Float.MinValue, Float.MaxValue, Float.NaN, -0.0f))
    d <- nullable(Gen.chooseNum(Double.MinValue, Double.MaxValue, Double.NaN, -0.0))
    s <- nullable(stringGen)
    y <- nullable(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    t <- stringGen
  } yield Row(b, i, l, f, d, s, y, 0, t)

  private def withIds(rows: Seq[Row]): Seq[Row] = rows.zipWithIndex.map { case (r, id) =>
    Row.fromSeq(r.toSeq.updated(7, id))
  }

  /** One container of `rows` written by the row codec, under `sync`. */
  private def encode(schema: StructType, rows: Seq[Row], sync: Array[Byte]): Array[Byte] = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val out = new ByteArrayOutputStream()
    val w = new DataFileWriter[InternalRow](new RowDatumWriter(schema))
    w.create(Avro.avroSchema(schema), out, sync)
    try rows.foreach(r => w.append(toInternal(r).asInstanceOf[InternalRow]))
    finally w.close()
    out.toByteArray
  }

  /** The same container written by the `GenericRecord` reference. */
  private def reference(schema: StructType, rows: Seq[Row], sync: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    AvroReference.write(out, schema, rows.iterator, sync)
    out.toByteArray
  }

  /** Every record of the container `bytes` as `required`'s columns,
    * decoded by the row codec into one reused row. */
  private def decode(bytes: Array[Byte], required: StructType): Seq[Seq[Any]] = {
    val reader = DataFileReader.openReader(new SeekableByteArrayInput(bytes),
      new RowDatumReader(required, "mem"))
    try {
      val out = Seq.newBuilder[Seq[Any]]
      var row: InternalRow = null
      while (reader.hasNext) {
        row = reader.next(row)
        out += required.fields.indices.map { i =>
          if (row.isNullAt(i)) null else required(i).dataType match {
            case StringType => row.getUTF8String(i).toString
            case BinaryType => row.getBinary(i)
            case dt => row.get(i, dt)
          }
        }
      }
      out.result()
    } finally reader.close()
  }

  private def referenceRead(bytes: Array[Byte], required: StructType): Seq[Seq[Any]] =
    AvroReference.read(new SeekableByteArrayInput(bytes), required)

  /** Values comparable with `==`: bytes as a Seq, floats as their bits
    * (so NaN equals NaN and -0.0 differs from 0.0). */
  private def norm(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows.map(_.map {
    case a: Array[Byte] => a.toSeq
    case f: Float => ("f", java.lang.Float.floatToIntBits(f))
    case d: Double => ("d", java.lang.Double.doubleToLongBits(d))
    case v => v
  })

  private def project(rows: Seq[Row], schema: StructType, required: StructType): Seq[Seq[Any]] =
    rows.map(r => required.fieldNames.toSeq.map(n => r.get(schema.fieldIndex(n))))

  test("Avro.write is byte-identical to the GenericRecord writer under the file's sync marker") {
    val rnd = new scala.util.Random(7)
    val rows = withIds(edgeRows ++ Seq.fill(3000)(
      rowGen.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(rnd.nextLong()))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema7)
    for ((name, frame) <- Seq("rows" -> df, "empty" -> df.filter(lit(false)))) {
      val out = tempDir(s"avro_codec_bytes_$name").resolve("out")
      Avro.write(frame, out.toString)
      val bytes = Files.readAllBytes(out.resolve("part-00000.avro"))
      // a container ends with a sync marker: after its header, or its last block
      val sync = bytes.takeRight(16)
      val expected = reference(schema7, frame.collect().toSeq, sync)
      assert(bytes.sameElements(expected), s"$name: ${bytes.length} vs ${expected.length} bytes")
      if (name == "rows") assert(bytes.length > 3 * 64000) // several blocks
    }
  }

  test("property: the row codec writes the reference's bytes and reads back every value") {
    val rowsG = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, rowGen)).map(withIds)
    val requiredG = Gen.someOf(schema7.fields.toSeq)
      .flatMap(fs => Gen.choose(0, 1000).map(seed => new scala.util.Random(seed).shuffle(fs.toSeq)))
    val syncG = Gen.listOfN(16, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    val prop = Prop.forAll(rowsG, requiredG, syncG) { (rows, req, sync) =>
      val required = StructType(req)
      val bytes = encode(schema7, rows, sync)
      val expected = norm(project(rows, schema7, required))
      bytes.sameElements(reference(schema7, rows, sync)) &&
        norm(decode(bytes, required)) == expected &&
        norm(referenceRead(bytes, required)) == expected
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(r.passed, r.status.toString)
  }

  /** A writer schema the engine never writes: `["string","null"]` and
    * `["double","null"]` unions (null second), and fields of types the
    * table cannot hold (record, array, map, enum, fixed). */
  private val plainSchema = new Schema.Parser().parse(
    """{"type":"record","name":"plain","namespace":"ext","fields":[
      | {"name":"meta","type":{"type":"record","name":"Meta","fields":[
      |   {"name":"k","type":"string"},{"name":"v","type":["null","long"]}]}},
      | {"name":"s","type":["string","null"]},
      | {"name":"tags","type":{"type":"array","items":"string"}},
      | {"name":"id","type":"long"},
      | {"name":"attrs","type":{"type":"map","values":"int"}},
      | {"name":"d","type":["double","null"]},
      | {"name":"kind","type":{"type":"enum","name":"Kind","symbols":["A","B"]}},
      | {"name":"raw","type":["null","bytes"]},
      | {"name":"h","type":{"type":"fixed","name":"H","size":4}},
      | {"name":"ok","type":"boolean"},
      | {"name":"f","type":["float","null"]},
      | {"name":"n","type":["null","int"]}]}""".stripMargin)

  private def plainRecords(n: Int): Seq[GenericRecord] = {
    val rnd = new scala.util.Random(11)
    def orNull[T](v: => T): Any = if (rnd.nextInt(5) == 0) null else v
    val meta = plainSchema.getField("meta").schema()
    val kind = plainSchema.getField("kind").schema()
    val h = plainSchema.getField("h").schema()
    (0 until n).map { id =>
      val r = new GenericData.Record(plainSchema)
      val m = new GenericData.Record(meta)
      m.put("k", s"k$id"); m.put("v", orNull(rnd.nextLong()))
      r.put("meta", m)
      r.put("s", orNull(Seq("", "한글", "😀", s"s$id")(rnd.nextInt(4))))
      r.put("tags", Seq.fill(rnd.nextInt(3))(s"t${rnd.nextInt(9)}").asJava)
      r.put("id", id.toLong)
      r.put("attrs", Map(s"a$id" -> Int.box(rnd.nextInt())).asJava)
      r.put("d", orNull(rnd.nextGaussian()))
      r.put("kind", new GenericData.EnumSymbol(kind, if (rnd.nextBoolean()) "A" else "B"))
      r.put("raw", orNull(java.nio.ByteBuffer.wrap(Array.fill(rnd.nextInt(4))(rnd.nextInt().toByte))))
      r.put("h", new GenericData.Fixed(h, Array.fill(4)(rnd.nextInt().toByte)))
      r.put("ok", rnd.nextBoolean())
      r.put("f", orNull(rnd.nextFloat()))
      r.put("n", orNull(rnd.nextInt()))
      r
    }
  }

  /** `records` of `schema` in a container at `file` by plain Avro. */
  private def writePlain(file: Path, schema: Schema, records: Seq[GenericRecord],
      codec: CodecFactory = CodecFactory.nullCodec()): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(codec).setSyncInterval(1024)
    w.create(schema, file.toFile)
    try records.foreach(w.append) finally w.close()
  }

  test("decoder rows equal GenericDatumReader rows on a deflate file written by plain Avro") {
    val dir = tempDir("avro_codec_plain")
    val file = dir.resolve("plain.avro")
    writePlain(file, plainSchema, plainRecords(5000), CodecFactory.deflateCodec(6))
    val bytes = Files.readAllBytes(file)
    val required = StructType(Seq(StructField("n", IntegerType), StructField("s", StringType),
      StructField("raw", BinaryType), StructField("id", LongType),
      StructField("ok", BooleanType), StructField("d", DoubleType), StructField("f", FloatType)))
    val expected = norm(referenceRead(bytes, required))
    assert(expected.length == 5000)
    assert(expected.exists(_.head == null) && expected.exists(_(1) == null) &&
      expected.exists(_(1) == "한글"))
    assert(norm(decode(bytes, required)) == expected)
    // and through the split DSv2 scan, with the table schema given
    val read = spark.read.format("graft-avro").schema(required)
      .option("maxSplitBytes", 4096L).load(dir.toString)
    val parts = AvroPackingSpec.partitions(read)
    assert(parts.flatMap(_.files).length > 4)
    assert(parts.length == AvroPackingSpec.packedCount(spark, parts.flatMap(_.files).map(_.length)))
    val viaScan = read.collect().map(_.toSeq).sortBy(_(3).asInstanceOf[Long]).toSeq
    assert(norm(viaScan) == expected)
  }

  test("files that disagree on a column's type fail naming the field, the file and both types") {
    val dir = tempDir("avro_codec_mismatch")
    def schema(t: String) = new Schema.Parser().parse(
      s"""{"type":"record","name":"r","fields":[{"name":"id","type":"$t"},{"name":"s","type":"string"}]}""")
    for ((file, t, v) <- Seq(("part-0.avro", "int", Int.box(1)), ("part-1.avro", "long", Long.box(2L)))) {
      val r = new GenericData.Record(schema(t)); r.put("id", v); r.put("s", "x")
      writePlain(dir.resolve(file), schema(t), Seq(r))
    }
    val e = intercept[Exception](spark.read.format("graft-avro").load(dir.toString).collect())
    val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
    assert(iae.isDefined, e)
    val m = iae.get.getMessage
    assert(m.contains("'id'") && m.contains("part-1.avro") && m.contains("is bigint") &&
      m.contains("as int"), m)
  }
}

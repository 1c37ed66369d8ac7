package graft.avro

import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._
import org.apache.avro.Schema
import org.apache.avro.file.SeekableInput
import org.apache.avro.generic.GenericDatumReader
import org.apache.avro.io.{DatumReader, DatumWriter, Decoder, Encoder}
import org.apache.avro.util.Utf8
import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decodes the records of one container file straight into an
  * [[InternalRow]] of the `required` columns. `DataFileReader` hands
  * over the file's writer schema through [[setSchema]], which plans
  * one step per writer field, in the writer's order: a required field
  * decodes into its ordinal of the row, any other field is skipped in
  * the decoder. `union(null, T)` reads in either branch order. A
  * string is copied once, from the reused `Utf8` into its
  * `UTF8String`; `read` fills `reuse` when given one, so
  * `reader.next(row)` decodes a whole partition into one row.
  *
  * A required column the file lacks, or one whose type in the file
  * differs from the table's, fails in [[setSchema]] with an
  * `IllegalArgumentException` naming the field and the file. */
private[graft] final class RowDatumReader(required: StructType, file: String)
    extends DatumReader[InternalRow] {

  private type Step = (Decoder, InternalRow) => Unit
  private var steps: Array[Step] = Array.empty

  override def setSchema(writer: Schema): Unit = {
    require(writer.getType == Schema.Type.RECORD,
      s"graft-avro: top-level schema must be a record, got ${writer.getType} in $file")
    required.fieldNames.foreach { n =>
      if (writer.getField(n) == null)
        throw new IllegalArgumentException(s"graft-avro: column '$n' absent from $file")
    }
    steps = writer.getFields.asScala.map { f =>
      val i = required.fieldNames.indexOf(f.name)
      if (i >= 0) field(f, i)
      else { val s = f.schema(); (in: Decoder, _: InternalRow) => GenericDatumReader.skip(s, in) }
    }.toArray
  }

  override def read(reuse: InternalRow, in: Decoder): InternalRow = {
    val row = if (reuse != null) reuse else new SpecificInternalRow(required.map(_.dataType))
    var i = 0
    while (i < steps.length) { steps(i)(in, row); i += 1 }
    row
  }

  /** The step of writer field `f`, which fills ordinal `i`. */
  private def field(f: Schema.Field, i: Int): Step = {
    val (base, _) = Avro.unwrapNullable(f.schema())
    val inFile = Avro.sparkType(base, f.name)
    val dt = required(i).dataType
    if (inFile != dt) throw new IllegalArgumentException(
      s"graft-avro: field '${f.name}' is ${inFile.simpleString} in $file, " +
        s"but the table reads it as ${dt.simpleString}")
    val v = value(dt, i)
    if (f.schema().getType != Schema.Type.UNION) v
    else {
      val nullBranch = f.schema().getTypes.asScala.indexWhere(_.getType == Schema.Type.NULL)
      (in, row) => if (in.readIndex() == nullBranch) row.setNullAt(i) else v(in, row)
    }
  }

  /** Decodes a value of `dt` into ordinal `i`; [[field]] has checked
    * that `dt` is the file's type, so it is one of the seven. */
  private def value(dt: DataType, i: Int): Step = dt match {
    case BooleanType => (in, row) => row.setBoolean(i, in.readBoolean())
    case IntegerType => (in, row) => row.setInt(i, in.readInt())
    case LongType    => (in, row) => row.setLong(i, in.readLong())
    case FloatType   => (in, row) => row.setFloat(i, in.readFloat())
    case DoubleType  => (in, row) => row.setDouble(i, in.readDouble())
    case StringType =>
      var utf8: Utf8 = null
      (in, row) => {
        utf8 = in.readString(utf8)
        row.update(i, UTF8String.fromBytes(java.util.Arrays.copyOf(utf8.getBytes, utf8.getByteLength)))
      }
    case BinaryType =>
      var buf: ByteBuffer = null
      (in, row) => {
        buf = in.readBytes(buf)
        val out = new Array[Byte](buf.remaining()); buf.get(out)
        row.update(i, out)
      }
  }
}

/** Encodes an [[InternalRow]] of `schema` as the record of
  * `Avro.avroSchema(schema)`: each union index and value goes straight
  * to the encoder, with no `Row` or `GenericRecord` in between. A
  * nullable column is `union(null, T)`, branch 0 for null, 1 for a
  * value. The bytes equal those of a `GenericDatumWriter` on the same
  * values: Avro's binary encoding of a string is that of its UTF-8
  * bytes, which is how a `UTF8String` holds it. */
private[graft] final class RowDatumWriter(schema: StructType) extends DatumWriter[InternalRow] {

  private type Step = (InternalRow, Encoder) => Unit

  private val steps: Array[Step] = schema.fields.zipWithIndex.map { case (f, i) =>
    val v = value(f.dataType, i)
    if (!f.nullable) v
    else (row: InternalRow, out: Encoder) =>
      if (row.isNullAt(i)) { out.writeIndex(0); out.writeNull() }
      else { out.writeIndex(1); v(row, out) }
  }

  override def setSchema(s: Schema): Unit = ()

  override def write(row: InternalRow, out: Encoder): Unit = {
    var i = 0
    while (i < steps.length) { steps(i)(row, out); i += 1 }
  }

  private def value(dt: DataType, i: Int): Step = dt match {
    case BooleanType => (row, out) => out.writeBoolean(row.getBoolean(i))
    case IntegerType => (row, out) => out.writeInt(row.getInt(i))
    case LongType    => (row, out) => out.writeLong(row.getLong(i))
    case FloatType   => (row, out) => out.writeFloat(row.getFloat(i))
    case DoubleType  => (row, out) => out.writeDouble(row.getDouble(i))
    case StringType  => (row, out) => out.writeBytes(row.getUTF8String(i).getByteBuffer)
    case BinaryType  => (row, out) => out.writeBytes(row.getBinary(i))
    case other => throw new IllegalArgumentException(
      s"graft-avro: cannot encode ${other.simpleString} for column '${schema(i).name}'")
  }
}

/** The [[SeekableInput]] under `DataFileReader`: reads `in`, a file of
  * `fileLength` bytes, in 64 KB chunks. `DataFileReader.sync` scans for the
  * marker with one `read()` per byte; unbuffered, each of those would
  * be a file-system read (and, on a checksummed file system, a
  * checksum step). */
private[avro] final class BufferedInput(in: FSDataInputStream, fileLength: Long)
    extends SeekableInput {
  private val buf = new Array[Byte](64 << 10)
  private var bufStart = 0L // file offset of buf(0)
  private var bufLen = 0
  private var pos = 0L

  override def seek(p: Long): Unit = pos = p
  override def tell(): Long = pos
  override def length(): Long = fileLength

  override def read(b: Array[Byte], off: Int, len: Int): Int =
    if (pos >= fileLength) -1
    else {
      if (pos < bufStart || pos >= bufStart + bufLen) {
        bufStart = pos
        bufLen = math.min(buf.length.toLong, fileLength - pos).toInt
        if (in.getPos != pos) in.seek(pos)
        in.readFully(buf, 0, bufLen)
      }
      val n = math.min(len.toLong, bufStart + bufLen - pos).toInt
      System.arraycopy(buf, (pos - bufStart).toInt, b, off, n)
      pos += n
      n
    }

  override def close(): Unit = in.close()
}

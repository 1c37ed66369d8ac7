package graft.avro

import java.io.OutputStream
import scala.jdk.CollectionConverters._
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The `GenericRecord` writer and reader that `Avro.write` and
  * `AvroDataSource` used before the codec worked on `InternalRow`
  * directly. They stay here as equivalence references for
  * [[RowDatumWriter]] and [[RowDatumReader]]. */
object AvroReference {

  /** One container of `rows` (of `schema`) on `out`, each row built as
    * a `GenericRecord` and written by a `GenericDatumWriter`, under the
    * sync marker `sync`. */
  def write(out: OutputStream, schema: StructType, rows: Iterator[Row],
      sync: Array[Byte]): Unit = {
    val avro = Avro.avroSchema(schema)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
    w.create(avro, out, sync)
    try rows.foreach(r => w.append(toRecord(r, schema, avro)))
    finally w.close()
  }

  private def toRecord(r: Row, schema: StructType, avro: Schema): GenericRecord = {
    val rec = new GenericData.Record(avro)
    var i = 0
    while (i < schema.length) {
      val v = if (r.isNullAt(i)) null else schema.fields(i).dataType match {
        case BinaryType => java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](i))
        case _          => r.get(i).asInstanceOf[AnyRef]
      }
      rec.put(i, v)
      i += 1
    }
    rec
  }

  /** Every record of the container on `in`, as the `required` columns:
    * the pruned schema is projected onto the file's writer schema and
    * resolved by a `GenericDatumReader`. Strings come back as `String`,
    * bytes as `Array[Byte]`, the rest boxed. */
  def read(in: SeekableInput, required: StructType): Seq[Seq[Any]] = {
    val datumReader = new GenericDatumReader[GenericRecord]()
    val reader = DataFileReader.openReader(in, datumReader)
    try {
      val fileSchema = reader.getSchema
      val fields = required.fieldNames.toSeq.map { n =>
        val f = fileSchema.getField(n)
        new Schema.Field(f.name, f.schema(), null, null)
      }
      datumReader.setExpected(Schema.createRecord(fileSchema.getName, null,
        fileSchema.getNamespace, false, fields.asJava))
      reader.iterator().asScala.map { rec =>
        required.fields.indices.map { i =>
          rec.get(i) match {
            case null => null
            case bb: java.nio.ByteBuffer =>
              val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
            case s: CharSequence => s.toString
            case v => v
          }
        }
      }.toList
    } finally reader.close()
  }
}

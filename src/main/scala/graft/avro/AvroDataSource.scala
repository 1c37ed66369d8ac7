package graft.avro

import scala.jdk.CollectionConverters._
import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{FileSource, Pushed}

/** DataSource V2 Avro reader (SURVEY §4 source family; the row-format
  * interchange sibling of the ORC gate).
  *
  * Parallelism: Avro container files are block-splittable on their
  * 16-byte sync markers, so the InputPartition is a BYTE RANGE, not a
  * file — `maxSplitBytes` (default 32 MB) ranges per file, each reader
  * seeking to the first sync ≥ its range start and draining blocks
  * until `pastSync(end)` (the classic split contract: every block is
  * owned by exactly the split containing its starting sync). A single
  * 100 GB landing file therefore fans out across the cluster instead
  * of pinning one task — the property that distinguishes this from
  * the file-per-task XML/XLSX sources, whose formats cannot split.
  *
  * Column pruning reaches the DECODER, not just the row builder:
  * the pruned Spark schema is re-projected onto the file's own writer
  * schema and installed as the GenericDatumReader's expected schema,
  * so Avro schema resolution skips non-required fields during decode
  * (`.explain` shows the pruned ReadSchema). The pushed limit caps
  * each split (the [[graft.sources.FileSource]] contract). Predicates
  * are not pushed — Avro blocks carry no min/max statistics to prune
  * with, so a post-scan filter costs the same either way. */
class AvroDataSource extends FileSource {
  override def shortName(): String = "graft-avro"
  override protected def pushesFilters: Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Avro.sparkSchema(Avro.fileSchema(files(options).head._1))

  override protected def scan(options: CaseInsensitiveStringMap, pushed: Pushed): Scan =
    new Scan with Batch {
      override def readSchema(): StructType = pushed.required
      override def toBatch: Batch = this
      override def description(): String = describe(options, pushed)
      override def planInputPartitions(): Array[InputPartition] = {
        val splitBytes = options.getLong("maxSplitBytes", 32L << 20)
        files(options).flatMap { case (f, len) =>
          (0L until len by splitBytes).map(start =>
            AvroSplitPartition(f, start, math.min(splitBytes, len - start)))
        }.toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new AvroReaderFactory(pushed.required, pushed.limit)
    }
}

private[avro] case class AvroSplitPartition(file: String, start: Long, length: Long)
    extends InputPartition

private[avro] class AvroReaderFactory(required: StructType, limit: Int)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[AvroSplitPartition]
    new PartitionReader[InternalRow] {
      private val datumReader = new GenericDatumReader[GenericRecord]()
      private val reader = DataFileReader.openReader(
        new FsInput(new Path(part.file), new Configuration()), datumReader)
      // Project the pruned Spark schema onto the FILE's writer schema
      // (not a re-derived one) so resolution stays correct even if the
      // file carries extra fields or a different field order.
      private val projected: Schema = {
        val fileSchema = reader.getSchema
        val byName = fileSchema.getFields.asScala.map(f => f.name -> f).toMap
        val fields = required.fieldNames.toSeq.map { n =>
          val f = byName.getOrElse(n, throw new IllegalArgumentException(
            s"graft-avro: column '$n' absent from ${part.file}"))
          new Schema.Field(f.name, f.schema(), null, null)
        }
        Schema.createRecord(fileSchema.getName, null,
          fileSchema.getNamespace, false, fields.asJava)
      }
      datumReader.setExpected(projected)
      reader.sync(part.start) // first sync point at/after range start
      private val converters: Array[AnyRef => Any] =
        required.fields.map(f => converter(f.dataType))
      private var cur: GenericRecord = _
      private var emitted = 0
      override def next(): Boolean =
        if ((limit < 0 || emitted < limit) && reader.hasNext &&
            !reader.pastSync(part.start + part.length)) {
          cur = reader.next(); emitted += 1; true
        } else false
      override def get(): InternalRow = {
        val vals = new Array[Any](required.length)
        var i = 0
        while (i < vals.length) {
          val v = cur.get(i)
          vals(i) = if (v == null) null else converters(i)(v)
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = reader.close()
    }
  }

  private def converter(dt: DataType): AnyRef => Any = dt match {
    case StringType => v => UTF8String.fromString(v.toString) // Utf8 or String
    case BinaryType => v => {
      val bb = v.asInstanceOf[java.nio.ByteBuffer]
      val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
    }
    case _ => identity // int/long/float/double/boolean box straight through
  }
}

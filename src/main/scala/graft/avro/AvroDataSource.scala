package graft.avro

import scala.util.control.NonFatal
import org.apache.avro.file.DataFileReader
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
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
  * Per split, the fixed cost is the file's header: the Hadoop conf
  * comes from the scan's one broadcast (the [[graft.sources.FileSource]]
  * contract), the file is read through a 64 KB [[BufferedInput]], and
  * the decoder is built from the file's own writer schema.
  *
  * Column pruning reaches the DECODER, not just the row builder:
  * [[RowDatumReader]] decodes the required fields of each record into
  * one reused `InternalRow` and skips the others in the decoder
  * (`.explain` shows the pruned ReadSchema). A required field whose type
  * in a file differs from the table's fails naming the field, the file
  * and both types. The pushed limit caps each split (the
  * [[graft.sources.FileSource]] contract). Predicates are not pushed —
  * Avro blocks carry no min/max statistics to prune with, so a
  * post-scan filter costs the same either way. */
class AvroDataSource extends FileSource {
  override def shortName(): String = "graft-avro"
  override protected def pushesFilters: Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = hadoopConf(options)
    Avro.sparkSchema(Avro.fileSchema(files(options, conf).head._1, conf))
  }

  override protected def scan(options: CaseInsensitiveStringMap, pushed: Pushed): Scan =
    new FileScan(options, pushed) {
      override def planInputPartitions(): Array[InputPartition] = {
        val splitBytes = options.getLong("maxSplitBytes", 32L << 20)
        inputFiles.flatMap { case (f, len) =>
          (0L until len by splitBytes).map(start =>
            AvroSplitPartition(f, len, start, math.min(splitBytes, len - start)))
        }.toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new AvroReaderFactory(pushed.required, pushed.limit, broadcastConf())
    }
}

/** Bytes [start, start + length) of `file`, which is `fileLength` long. */
private[avro] case class AvroSplitPartition(file: String, fileLength: Long,
    start: Long, length: Long) extends InputPartition

private[avro] class AvroReaderFactory(required: StructType, limit: Int,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[AvroSplitPartition]
    val path = new Path(part.file)
    val in = new BufferedInput(path.getFileSystem(conf.value.value).open(path), part.fileLength)
    val reader =
      try DataFileReader.openReader(in, new RowDatumReader(required, part.file))
      catch { case NonFatal(e) => in.close(); throw e }
    reader.sync(part.start) // first sync point at/after range start
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      private var emitted = 0
      override def next(): Boolean =
        if ((limit < 0 || emitted < limit) && reader.hasNext &&
            !reader.pastSync(part.start + part.length)) {
          cur = reader.next(cur); emitted += 1; true
        } else false
      override def get(): InternalRow = cur
      override def close(): Unit = reader.close()
    }
  }
}

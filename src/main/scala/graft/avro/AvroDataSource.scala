package graft.avro

import scala.util.control.NonFatal
import org.apache.avro.file.{DataFileReader, FileReader}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.graftshim.ExprShim
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import graft.sources.{FileSource, Pushed}

/** DataSource V2 Avro reader (SURVEY §4 source family; the row-format
  * interchange sibling of the ORC gate).
  *
  * Parallelism: Avro container files are block-splittable on their
  * 16-byte sync markers, so the unit of work is a BYTE RANGE, not a
  * file: `maxSplitBytes` (default 32 MB) ranges per file, each owning
  * the blocks whose sync marker starts inside it (the classic split
  * contract: a reader seeks to the first sync ≥ the range start and
  * drains blocks until `pastSync(end)`, so every block is read exactly
  * once). A single 100 GB landing file therefore fans out across the
  * cluster instead of pinning one task — the property that
  * distinguishes this from the file-per-task XML/XLSX sources, whose
  * formats cannot split.
  *
  * Partitions: an InputPartition is a packed run of ranges, planned as
  * Spark's own file sources plan theirs (`FilePartition.maxSplitBytes`
  * and `getFilePartitions`), with no option of its own. The ranges, in
  * path/offset order, fill a partition until the next would pass
  * `min(spark.sql.files.maxPartitionBytes, max(openCost,
  * Σ(length + openCost) / leaf parallelism))`, each range counting its
  * length plus `spark.sql.files.openCostInBytes`; the leaf parallelism
  * is `spark.sql.files.minPartitionNum`, else
  * `spark.sql.leafNodeDefaultParallelism`, else the default
  * parallelism. Ranges are not sorted by size first (Spark's scans do),
  * so an unordered read returns its rows in file and offset order.
  * Setting `openCostInBytes` ≥ `maxPartitionBytes` gives one range per
  * partition.
  *
  * Per partition, the reader opens each file once: the consecutive
  * ranges of one file in the partition read as ONE range (one
  * [[BufferedInput]] and `DataFileReader`, one `sync` to the run's
  * start, blocks drained until `pastSync` of its end), which owns the
  * same blocks as its ranges read one by one. The Hadoop conf comes from
  * the scan's one broadcast (the [[graft.sources.FileSource]] contract)
  * and the decoder is built from the file's own writer schema.
  *
  * Column pruning reaches the DECODER, not just the row builder:
  * [[RowDatumReader]] decodes the required fields of each record into
  * one reused `InternalRow` and skips the others in the decoder
  * (`.explain` shows the pruned ReadSchema). A required field whose type
  * in a file differs from the table's fails naming the field, the file
  * and both types. The pushed limit caps each partition (the
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
        val ranges = inputFiles.flatMap { case (f, len) =>
          (0L until len by splitBytes).map(start =>
            FileSource.range(f, len, start, math.min(splitBytes, len - start)))
        }
        ExprShim.filePartitions(SparkSession.active, ranges).toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new AvroReaderFactory(pushed.required, pushed.limit, broadcastConf())
    }
}

private[avro] class AvroReaderFactory(required: StructType, limit: Int,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    // the ranges of one file in a partition are consecutive (planned in
    // path/offset order, packed in that order): read each file's as one
    val runs = p.asInstanceOf[FilePartition].files.foldLeft(List.empty[PartitionedFile]) {
      case (last :: done, r) if r.filePath == last.filePath =>
        last.copy(length = r.start + r.length - last.start) :: done
      case (done, r) => r :: done
    }.reverseIterator
    new PartitionReader[InternalRow] {
      private var reader: FileReader[InternalRow] = _
      private var end = 0L
      private var cur: InternalRow = _
      private var emitted = 0

      /** Opens `run` and seeks to the first sync point at/after its start. */
      private def open(run: PartitionedFile): Unit = {
        val path = run.toPath
        val in = new BufferedInput(path.getFileSystem(conf.value.value).open(path), run.fileSize)
        reader =
          try DataFileReader.openReader(in, new RowDatumReader(required, path.toString))
          catch { case NonFatal(e) => in.close(); throw e }
        reader.sync(run.start)
        end = run.start + run.length
      }

      override def next(): Boolean = {
        if (limit >= 0 && emitted >= limit) return false
        while (reader == null || !reader.hasNext || reader.pastSync(end)) {
          close()
          if (!runs.hasNext) return false
          open(runs.next())
        }
        cur = reader.next(cur); emitted += 1; true
      }
      override def get(): InternalRow = cur
      override def close(): Unit = if (reader != null) { reader.close(); reader = null }
    }
  }
}

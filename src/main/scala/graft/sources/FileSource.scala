package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.graftshim.ExprShim
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The DataSource V2 frame under the three custom file sources
  * (`graft-xml`, `graft-xlsx`, `graft-avro`): one input lister, one
  * table, and one scan builder that records what Catalyst pushes.
  *
  * Pushdown contract (SURVEY §4), the same for every source:
  *  - Column pruning: `pruneColumns` keeps the required schema; the
  *    reader materializes only those columns, and `.explain` shows the
  *    pruned `ReadSchema`.
  *  - Filters (only where the source says it evaluates them): the
  *    predicates [[StringFilters]] evaluates with exactly Spark's
  *    semantics are FULLY handled — rows die inside the per-file parse
  *    and the predicate vanishes from the post-scan plan. Only the
  *    residual goes back to Spark. A pushed predicate's column may be
  *    pruned from the projection; the reader still reads it.
  *  - Limit: a per-PARTITION cap. Each partition's row cursor stops
  *    after `n` SURVIVING rows (the cap sits after the filter), so a
  *    preview over a huge input parses a handful of rows. `pushLimit`
  *    returns false: a source spans many partitions, so Spark keeps
  *    the global Limit; the win is the parse work saved inside each
  *    partition, not plan surgery.
  *
  * File system: every call goes through the session's Hadoop conf
  * (`sessionState.newHadoopConfWithOptions` of the read's options), so
  * a scheme or setting registered on the session reaches these sources
  * as it reaches `parquet`. The driver builds the conf once per
  * planning call; a [[FileScan]] ships it to the executors as ONE
  * broadcast `SerializableConfiguration` per scan, so no split or
  * partition builds a conf of its own.
  *
  * Each source supplies its schema and its [[FileScan]]; the all-string
  * formats go through [[StringFileSource]]. */
abstract class FileSource extends TableProvider with DataSourceRegister {

  /** Does the scan evaluate pushed [[StringFilters]]? */
  protected def pushesFilters: Boolean

  /** Does a file named `name` in an input directory belong to the table? */
  protected def accept(name: String): Boolean = true

  /** The scan over the input at `options`' path, given the pushdown. */
  protected def scan(options: CaseInsensitiveStringMap, pushed: Pushed): Scan

  /** The session's Hadoop conf with the read's options on top. */
  protected final def hadoopConf(options: CaseInsensitiveStringMap): Configuration =
    ExprShim.hadoopConf(SparkSession.active, options.asCaseSensitiveMap.asScala.toMap)

  /** (path, length) of each input file: the non-empty files directly
    * under the `path` option that Spark's own listing keeps (no `_`/`.`
    * prefix, so no `_SUCCESS` or `.crc`; no `._COPYING_` suffix) and
    * whose names [[accept]] allows, sorted by path; `path` itself when
    * it is a file. A directory with no such file fails here, naming the
    * source and the path, rather than as an empty scan or a bare
    * `head`. */
  protected final def files(options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[(String, Long)] = {
    val path = options.get("path")
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq((path, st.getLen))
    else {
      val found = fs.listStatus(p)
        .filter { s =>
          val name = s.getPath.getName
          s.isFile && s.getLen > 0 && !ExprShim.isHiddenFile(name) && accept(name)
        }
        .map(s => (s.getPath.toString, s.getLen)).sortBy(_._1).toSeq
      if (found.isEmpty)
        throw new IllegalArgumentException(s"${shortName()}: no input file under $path")
      found
    }
  }

  /** One batch scan of the input at `options`' path: the session conf
    * is built once, lists the files and goes to the reader factory as
    * [[broadcastConf]]. */
  protected abstract class FileScan(options: CaseInsensitiveStringMap, pushed: Pushed)
      extends Scan with Batch {
    protected val conf: Configuration = hadoopConf(options)
    protected def inputFiles: Seq[(String, Long)] = files(options, conf)
    /** The conf as one broadcast for this scan's readers. */
    protected def broadcastConf(): Broadcast[SerializableConfiguration] =
      SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))
    override def readSchema(): StructType = pushed.required
    override def toBatch: Batch = this
    /** What `.explain` prints, e.g. `graft-xml /in PushedFilters: [...],
      * PushedLimit: 5, ReadSchema: struct<...>`; a source that pushes no
      * filters omits `PushedFilters`. */
    override def description(): String =
      s"${shortName()} ${options.get("path")} " +
        (if (pushesFilters) s"PushedFilters: [${pushed.filters.mkString(", ")}], " else "") +
        (if (pushed.limit >= 0) s"PushedLimit: ${pushed.limit}, " else "") +
        s"ReadSchema: ${pushed.required.catalogString}"
  }

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FileTable(this, schema, new CaseInsensitiveStringMap(properties))

  private[sources] def scanBuilder(full: StructType,
      options: CaseInsensitiveStringMap): ScanBuilder =
    new PushdownBuilder(full, pushesFilters, scan(options, _))
}

private class FileTable(source: FileSource, tableSchema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"${source.shortName()}:${options.get("path")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    source.scanBuilder(tableSchema, options)
}

object FileSource {

  /** Bytes [start, start + length) of `file`, which is `fileSize`
    * long: the unit a scan's partitions are made of. */
  def range(file: String, fileSize: Long, start: Long, length: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(file), start, length,
      fileSize = fileSize)

  /** The whole of `file`, `len` bytes as listed: a [[StringFormat]]
    * cannot be split, so its partition reads the file in one go. */
  def readBytes(file: Path, len: Long, conf: Configuration): Array[Byte] = {
    require(len <= Int.MaxValue, s"$file: $len bytes is too big to read whole")
    val out = new Array[Byte](len.toInt)
    val in = file.getFileSystem(conf).open(file)
    try in.readFully(0L, out) finally in.close()
    out
  }
}

/** What Catalyst pushed into a scan: the required columns, the
  * accepted filters, and the per-partition row cap (−1 = none). */
final case class Pushed(required: StructType, filters: Array[Filter], limit: Int)

/** Records pruning, filter and limit pushdown per the [[FileSource]]
  * contract, then builds the source's scan. */
private class PushdownBuilder(full: StructType, pushesFilters: Boolean,
    toScan: Pushed => Scan) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit {
  private var pushed = Pushed(full, Array.empty, -1)
  override def pruneColumns(r: StructType): Unit = pushed = pushed.copy(required = r)
  override def pushLimit(l: Int): Boolean = { pushed = pushed.copy(limit = l); false }
  override def pushFilters(filters: Array[Filter]): Array[Filter] =
    if (!pushesFilters) filters
    else {
      val names = full.fieldNames.toSet
      val (ok, residual) = filters.partition(StringFilters.supported(_, names))
      pushed = pushed.copy(filters = ok)
      residual
    }
  override def pushedFilters(): Array[Filter] = pushed.filters
  override def build(): Scan = toScan(pushed)
}

/** One all-string file format: every cell a string, a missing cell "". */
trait StringFormat extends Serializable {

  /** The table schema, probed from the bytes of the first input file. */
  def schema(file: Array[Byte]): StructType

  /** The rows of one file's bytes, each as a cell getter (column name →
    * cell, "" when absent). Columns outside `keep` may read as "". */
  def rows(file: Array[Byte], keep: Set[String]): Iterator[String => String]
}

/** A source whose files are [[StringFormat]] tables: one partition per
  * file (the formats cannot split), parsed inside the executor, with
  * [[StringFilters]] evaluated on every row before it materializes. */
abstract class StringFileSource extends FileSource {

  /** The format the read's options select. */
  protected def format(options: CaseInsensitiveStringMap): StringFormat

  override protected def pushesFilters: Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = hadoopConf(options)
    val (file, len) = files(options, conf).head
    format(options).schema(FileSource.readBytes(new Path(file), len, conf))
  }

  override protected def scan(options: CaseInsensitiveStringMap, pushed: Pushed): Scan =
    new FileScan(options, pushed) {
      override def planInputPartitions(): Array[InputPartition] =
        inputFiles.zipWithIndex.map { case ((f, len), i) =>
          FilePartition(i, Array(FileSource.range(f, len, 0, len))): InputPartition
        }.toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new StringReaderFactory(format(options), pushed, broadcastConf())
    }
}

private class StringReaderFactory(format: StringFormat, pushed: Pushed,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val file = p.asInstanceOf[FilePartition].files.head
    val cols = pushed.required.fieldNames
    new PartitionReader[InternalRow] {
      private lazy val it: Iterator[String => String] = {
        val rows = format.rows(FileSource.readBytes(file.toPath, file.length, conf.value.value),
          cols.toSet ++ pushed.filters.flatMap(_.references))
        val kept =
          if (pushed.filters.isEmpty) rows
          else rows.filter(get => pushed.filters.forall(StringFilters.eval(_, get)))
        if (pushed.limit >= 0) kept.take(pushed.limit) else kept
      }
      private var cur: String => String = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(cols.map[Any](c => UTF8String.fromString(cur(c))))
      override def close(): Unit = ()
    }
  }
}

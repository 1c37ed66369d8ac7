package graft.avro

import scala.jdk.CollectionConverters._
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.ExprShim
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Avro container-file interchange (the row-oriented sibling of the
  * parquet/ORC columnar pair — the standard landing format for log
  * streams and the usual hand-off into a training-data lake).
  *
  * Spark 4's built-in Avro connector is a separate module that is NOT
  * on this classpath — only the core `org.apache.avro` runtime is — so
  * the engine carries its own: a distributed per-partition writer here
  * and a DSv2 reader ([[AvroDataSource]]) that splits container files
  * on sync markers and decodes only the required columns.
  *
  * Codec: both directions work on Spark's `InternalRow` directly. The
  * writer reads `queryExecution.toRdd` and encodes each row with
  * [[RowDatumWriter]] (no `Row`, no `GenericRecord`); the reader
  * decodes with [[RowDatumReader]] into one reused row per partition.
  * `DataFileWriter` and `DataFileReader` frame the blocks, so the
  * container layout, codecs and sync handling are Avro's own.
  *
  * Hadoop conf: the session's (`sessionState.newHadoopConf`), built
  * once on the driver and broadcast once per write or scan, so a
  * scheme or setting registered on the session applies.
  *
  * Scale notes: the writer runs one task per partition (one container
  * file per task, no driver funnel); the reader's unit of work is
  * the sync-delimited byte range, packed into partitions by Spark's
  * file-source rule, so ONE big Avro file still fans out across
  * executors — the property that makes the format survive a 100 TB
  * directory of unevenly-sized files.
  *
  * Type surface: the core primitive set (boolean/int/long/float/
  * double/string/bytes), nullable as `union(null, T)`. Temporal and
  * decimal columns must be projected to the core set at the boundary —
  * enforced with an explicit error, not silent coercion.
  */
object Avro {

  /** Spark → Avro schema (nullable columns become `union(null, T)`). */
  def avroSchema(schema: StructType, name: String = "row"): Schema = {
    val fields = schema.fields.map { f =>
      val base = f.dataType match {
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case IntegerType => Schema.create(Schema.Type.INT)
        case LongType    => Schema.create(Schema.Type.LONG)
        case FloatType   => Schema.create(Schema.Type.FLOAT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case StringType  => Schema.create(Schema.Type.STRING)
        case BinaryType  => Schema.create(Schema.Type.BYTES)
        case other => throw new IllegalArgumentException(
          s"graft-avro: unsupported type ${other.simpleString} for column " +
            s"'${f.name}' — project to boolean/int/long/float/double/string/binary first")
      }
      val s = if (f.nullable)
        Schema.createUnion(List(Schema.create(Schema.Type.NULL), base).asJava)
      else base
      new Schema.Field(f.name, s, null, null)
    }
    Schema.createRecord(name, null, "graft", false, fields.toList.asJava)
  }

  /** Avro → Spark schema (unions with null collapse to nullable). */
  def sparkSchema(schema: Schema): StructType = {
    require(schema.getType == Schema.Type.RECORD,
      s"graft-avro: top-level schema must be a record, got ${schema.getType}")
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (s, nullable) = unwrapNullable(f.schema())
      StructField(f.name, sparkType(s, f.name), nullable)
    })
  }

  /** The Spark type of the non-union Avro type `s` of field `field`. */
  private[avro] def sparkType(s: Schema, field: String): DataType = s.getType match {
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.INT     => IntegerType
    case Schema.Type.LONG    => LongType
    case Schema.Type.FLOAT   => FloatType
    case Schema.Type.DOUBLE  => DoubleType
    case Schema.Type.STRING  => StringType
    case Schema.Type.BYTES   => BinaryType
    case other => throw new IllegalArgumentException(
      s"graft-avro: unsupported Avro type $other for field '$field'")
  }

  private[avro] def unwrapNullable(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val branches = s.getTypes.asScala
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1,
        s"graft-avro: only union(null, T) unions are supported, got $s")
      (nonNull.head, nonNull.size != branches.size)
    } else (s, false)

  /** Distributed write: one Avro container file per non-empty partition
    * (`part-NNNNN.avro`), rows encoded inside the task — the driver
    * never sees a row. A DataFrame with no rows gets one header-only
    * container, so the read-back has the written schema and 0 rows.
    * Existing output is replaced. */
  def write(df: DataFrame, path: String): Unit = {
    val schema = df.schema
    avroSchema(schema) // rejects an unsupported column before any task runs
    val conf = ExprShim.hadoopConf(df.sparkSession, Map.empty)
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val taskConf = df.sparkSession.sparkContext.broadcast(new SerializableConfiguration(conf))
    val written =
      try df.queryExecution.toRdd.mapPartitionsWithIndex { (idx, rows) =>
        if (rows.hasNext) {
          writeContainer(new Path(path, f"part-$idx%05d.avro"), schema, rows, taskConf.value.value)
          Iterator.single(1)
        } else Iterator.empty
      }.count()
      finally taskConf.destroy()
    if (written == 0)
      writeContainer(new Path(path, "part-00000.avro"), schema, Iterator.empty, conf)
  }

  /** One container file at `file`: the header, then `rows`. */
  private def writeContainer(file: Path, schema: StructType,
      rows: Iterator[InternalRow], conf: Configuration): Unit = {
    val out = file.getFileSystem(conf).create(file, true)
    val w = new DataFileWriter[InternalRow](new RowDatumWriter(schema))
    w.create(avroSchema(schema), out)
    try rows.foreach(w.append)
    finally w.close() // closes the stream too
  }

  /** Read through the DSv2 source (pruning + sync-splitting apply). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-avro").option("path", path).load()

  /** Driver-side header probe: the writer schema of `file`. */
  private[avro] def fileSchema(file: String, conf: Configuration): Schema = {
    val p = new Path(file)
    val s = new DataFileStream[GenericRecord](p.getFileSystem(conf).open(p),
      new GenericDatumReader[GenericRecord]())
    try s.getSchema finally s.close() // closes the file too
  }
}

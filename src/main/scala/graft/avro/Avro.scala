package graft.avro

import scala.jdk.CollectionConverters._
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro container-file interchange (the row-oriented sibling of the
  * parquet/ORC columnar pair — the standard landing format for log
  * streams and the usual hand-off into a training-data lake).
  *
  * Spark 4's built-in Avro connector is a separate module that is NOT
  * on this classpath — only the core `org.apache.avro` runtime is — so
  * the engine carries its own: a distributed per-partition writer here
  * and a DSv2 reader ([[AvroDataSource]]) that splits container files
  * on sync markers and prunes columns through Avro schema resolution.
  *
  * Scale notes: the writer runs inside `foreachPartition` (one
  * container file per task, no driver funnel); the reader's unit of
  * parallelism is the sync-delimited byte range, so ONE big Avro file
  * still fans out across executors — the property that makes the
  * format survive a 100 TB directory of unevenly-sized files.
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
      val dt = s.getType match {
        case Schema.Type.BOOLEAN => BooleanType
        case Schema.Type.INT     => IntegerType
        case Schema.Type.LONG    => LongType
        case Schema.Type.FLOAT   => FloatType
        case Schema.Type.DOUBLE  => DoubleType
        case Schema.Type.STRING  => StringType
        case Schema.Type.BYTES   => BinaryType
        case other => throw new IllegalArgumentException(
          s"graft-avro: unsupported Avro type $other for field '${f.name}'")
      }
      StructField(f.name, dt, nullable)
    })
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
    val schemaJson = avroSchema(schema).toString // Schema isn't Serializable
    val dir = new Path(path)
    val fs = dir.getFileSystem(new Configuration())
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val written = df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (rows.hasNext) {
        val avro = new Schema.Parser().parse(schemaJson)
        writeContainer(new Path(path, f"part-$idx%05d.avro"), avro,
          rows.map(toRecord(_, schema, avro)))
        Iterator.single(1)
      } else Iterator.empty
    }.count()
    if (written == 0)
      writeContainer(new Path(path, "part-00000.avro"), avroSchema(schema), Iterator.empty)
  }

  /** One container file at `file`: the header, then `records`. */
  private def writeContainer(file: Path, avro: Schema,
      records: Iterator[GenericRecord]): Unit = {
    val out = file.getFileSystem(new Configuration()).create(file, true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](avro))
    w.create(avro, out)
    try records.foreach(w.append)
    finally w.close() // closes the stream too
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

  /** Read through the DSv2 source (pruning + sync-splitting apply). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-avro").option("path", path).load()

  /** Driver-side header probe: the writer schema of the first file. */
  private[avro] def fileSchema(file: String): Schema = {
    val p = new Path(file)
    val in = p.getFileSystem(new Configuration()).open(p)
    try {
      val s = new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      try s.getSchema finally s.close()
    } finally () // DataFileStream.close closes `in`
  }
}

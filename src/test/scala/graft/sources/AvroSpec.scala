package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.avro.Avro

class AvroSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(name: String): String =
    tempDir(s"avro_spec_$name").resolve("out").toString

  test("schema mapping round-trips all supported types and nullability") {
    val st = StructType(Seq(
      StructField("b", BooleanType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("l", LongType, nullable = false),
      StructField("f", FloatType, nullable = true),
      StructField("d", DoubleType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("y", BinaryType, nullable = true)))
    assert(Avro.sparkSchema(Avro.avroSchema(st)) == st)
  }

  test("unsupported column type fails loudly, naming the column") {
    val st = StructType(Seq(StructField("ts", TimestampType)))
    val e = intercept[IllegalArgumentException](Avro.avroSchema(st))
    assert(e.getMessage.contains("'ts'"))
  }

  test("write/read round-trip preserves rows, nulls, and binary bytes") {
    val out = scratch("rt")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1, "alpha", 1.5, Array[Byte](1, 2, 3), java.lang.Long.valueOf(10L)),
        Row(2, null, -0.25, null, null),
        Row(3, "", 0.0, Array.empty[Byte], java.lang.Long.valueOf(-7L))), 2),
      StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("s", StringType, nullable = true),
        StructField("d", DoubleType, nullable = false),
        StructField("bin", BinaryType, nullable = true),
        StructField("l", LongType, nullable = true))))
    Avro.write(df, out)
    val back = Avro.read(spark, out).orderBy("id").collect()
    assert(back.length == 3)
    assert(back(0).getString(1) == "alpha" &&
      back(0).getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2, 3))
    assert(back(1).isNullAt(1) && back(1).isNullAt(3) && back(1).isNullAt(4))
    assert(back(2).getString(1) == "" &&
      back(2).getAs[Array[Byte]]("bin").isEmpty && back(2).getLong(4) == -7L)
  }

  test("sync-split read: one big file fans out and every block is read once") {
    val out = scratch("split")
    // one partition -> ONE container file, big enough for many sync blocks
    val df = spark.range(50000)
      .select(col("id"), concat(lit("v"), col("id")).as("s"))
      .coalesce(1)
    Avro.write(df, out)
    val read = spark.read.format("graft-avro").option("path", out)
      .option("maxSplitBytes", 16L << 10).load()
    // the split plan really is multi-partition over the single file
    assert(read.rdd.getNumPartitions > 4)
    // exactly-once block ownership: no row lost, none duplicated
    assert(read.count() == 50000L)
    assert(read.agg(sum("id")).head().getLong(0) == 50000L * 49999 / 2)
    assert(read.select("s").distinct().count() == 50000L)
  }

  test("column pruning reaches the scan (pruned ReadSchema in the plan)") {
    val out = scratch("prune")
    Avro.write(spark.range(100).select(col("id"),
      lit("x").as("a"), lit("y").as("b")), out)
    val q = Avro.read(spark, out).select("b")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema: struct<b:string>"),
      s"expected pruned ReadSchema in: $scan")
    assert(q.distinct().collect().map(_.getString(0)).toSeq == Seq("y"))
  }

  test("reader projects against the file's own writer schema (field order)") {
    val out = scratch("order")
    Avro.write(spark.range(10).select(col("id"),
      (col("id") * 2).as("twice"), lit("k").as("tag")), out)
    // select in an order different from the writer's field order
    val r = Avro.read(spark, out).select("tag", "id", "twice")
      .orderBy("id").collect()
    assert(r(3).getString(0) == "k" && r(3).getLong(1) == 3L && r(3).getLong(2) == 6L)
  }

  test("avro_roundtrip gate parity: Avro path equals the parquet recompute") {
    val viaAvro = graft.SparkEntry.queries("avro_roundtrip")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") >= 10.0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaAvro == direct)
  }

  test("empty partitions produce no files; directory read still works") {
    val out = scratch("empty")
    val df = spark.range(10).repartition(8)
    Avro.write(df.toDF("id"), out)
    assert(Avro.read(spark, out).count() == 10L)
  }
}

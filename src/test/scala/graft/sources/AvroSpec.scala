package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.avro.{Avro, AvroPackingSpec}

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
    val n = 50000
    // one partition -> ONE container file, big enough for many sync blocks
    val df = spark.range(n)
      .select(col("id"), concat(lit("v"), col("id")).as("s"))
      .coalesce(1)
    Avro.write(df, out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length == 1)
    val len = files.head.length()
    // 1 KB to 64 KB splits, and the whole file as one split
    for (split <- Seq(1L << 10, 4L << 10, 16L << 10, 64L << 10, len)) {
      val read = spark.read.format("graft-avro").option("path", out)
        .option("maxSplitBytes", split).load()
      // the scan really plans ceil(len / split) ranges over the single
      // file, packed into partitions by Spark's file-source rule
      val parts = AvroPackingSpec.partitions(read)
      val ranges = parts.flatMap(_.files)
      assert(ranges.length == (len + split - 1) / split)
      assert(parts.length == AvroPackingSpec.packedCount(spark, ranges.map(_.length)))
      assert(read.rdd.getNumPartitions == parts.length)
      // exactly-once block ownership: no row lost, none duplicated
      val all = read.collect()
      assert(all.length == n && all.map(_.getLong(0)).toSet == (0L until n).toSet, s"split $split")
      assert(all.forall(r => r.getString(1) == "v" + r.getLong(0)))
      // a pushed limit caps each partition; the rows it lets through are still distinct
      for (limit <- Seq(777, n + 3)) {
        val q = read.limit(limit)
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains(s"PushedLimit: $limit"), plan)
        val got = q.collect().map(_.getLong(0))
        assert(got.length == math.min(limit, n), s"split $split, limit $limit")
        assert(got.distinct.length == got.length && got.forall(id => id >= 0 && id < n))
      }
    }
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

  test("zero-row write reads back as 0 rows with the written schema") {
    val out = scratch("zero")
    val df = spark.range(10).select(col("id"), concat(lit("v"), col("id")).as("s"))
      .filter(col("id") < 0)
    Avro.write(df, out)
    val back = Avro.read(spark, out)
    assert(back.schema == df.schema)
    assert(back.count() == 0L)
  }

  test("a directory with no input file fails naming graft-avro and the path") {
    val dir = tempDir("avro_spec_nofile").toString
    val e = intercept[IllegalArgumentException](Avro.read(spark, dir))
    assert(e.getMessage.contains("graft-avro") && e.getMessage.contains(dir), e.getMessage)
  }
}

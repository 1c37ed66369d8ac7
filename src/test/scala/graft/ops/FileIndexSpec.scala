package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class FileIndexSpec extends SparkSpec {
  import spark.implicits._

  private def indexed(n: Int, parts: Int): String = {
    val dir = tempDir("fidx").resolve("t").toString
    val df = spark.range(n).select(col("id"), (col("id") % 7).as("v"))
    FileIndex.writeIndexed(df.toDF("id", "v"), dir, "id", parts)
    dir
  }

  test("manifest prunes files: a narrow range touches few of many files") {
    val dir = indexed(10000, 10)
    assert(FileIndex.indexedFileCount(spark, dir) == 10)
    // a span of ~1/10 of the key range survives in 1-2 files
    val surv = FileIndex.survivingFiles(spark, dir, lit(2000L), lit(2500L))
    assert(surv.nonEmpty && surv.size <= 2, s"expected <=2 files, got ${surv.size}")
    // pruned read + residual filter equals the full-scan answer
    val pruned = FileIndex.readPruned(spark, dir, lit(2000L), lit(2500L))
      .filter(col("id").between(2000L, 2500L))
    assert(pruned.count() == 501L)
    assert(pruned.agg(sum("id")).head().getLong(0) ==
      (2000L to 2500L).sum)
  }

  test("appendIndexed with an EMPTY delta is a no-op (manifest and files untouched)") {
    val dir = indexed(1000, 4)
    val before = spark.read.parquet(s"$dir/_index")
      .orderBy("file").collect().toSeq
    val empty = spark.range(0).select(col("id"), (col("id") % 7).as("v")).toDF("id", "v")
    // an empty daily arrival writes no data files; the maintenance
    // job must not fail (zero-path parquet read) nor touch the manifest
    FileIndex.appendIndexed(empty, dir, "id", 2)
    assert(spark.read.parquet(s"$dir/_index")
      .orderBy("file").collect().toSeq == before)
    assert(spark.read.parquet(dir).count() == 1000L)
  }

  test("range outside all files prunes to an empty scan with the data schema") {
    val dir = indexed(1000, 4)
    val out = FileIndex.readPruned(spark, dir, lit(50000L), lit(60000L))
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("id", "v"))
  }

  test("boundary spans keep the file whose lo/hi touches the bound") {
    val dir = indexed(1000, 4)
    // [hi of file 0, lo of file 1] must keep both touching files
    val all = spark.read.parquet(s"$dir/_index")
      .orderBy("lo").collect()
    val edge = all(0).getAs[Long]("hi")
    val surv = FileIndex.survivingFiles(spark, dir, lit(edge), lit(edge + 1))
    assert(surv.size == 2, s"expected the two adjacent files, got ${surv.size}")
  }

  test("the _index dir is invisible to a plain parquet read of the data") {
    val dir = indexed(500, 2)
    assert(spark.read.parquet(dir).count() == 500L)
  }

  private def bloomIndexed(n: Int, parts: Int): String = {
    val dir = tempDir("fbloom").resolve("t").toString
    // cluster by id; the lookup column `u` is id-scrambled so each
    // value lands in exactly one file but min/max on id can't see it
    val df = spark.range(n)
      .select(col("id"), ((col("id") * 2654435761L) % 100000L).as("u"))
    FileIndex.writeIndexedBloom(df.toDF("id", "u"), dir, "id", "u", parts)
    dir
  }

  test("footer stats agree with the bytes: row counts sum to the table, lo/hi match a recompute") {
    val dir = tempDir("ffoot").resolve("t").toString
    spark.range(5000).select(col("id"), (col("id") % 3).as("v"))
      .repartitionByRange(5, col("id")).sortWithinPartitions("id")
      .write.parquet(dir)
    val stats = FileIndex.footerStats(spark, dir, "id")
    assert(stats.agg(sum("rows")).head().getLong(0) == 5000L)
    // per-file footer lo/hi equal a full-scan recompute per file
    val fromFooter = stats.groupBy("file")
      .agg(min("lo").as("lo"), max("hi").as("hi"), sum("rows").as("rows"))
      .collect().map(r => (r.getString(0).replaceFirst("^file:/*", "/"),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val fromData = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min("id").as("lo"), max("id").as("hi"), count(lit(1)).as("rows"))
      .collect().map(r => (r.getString(0).replaceFirst("^file:/*", "/"),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fromFooter == fromData,
      s"footer=$fromFooter\ndata=$fromData")
    // pruned read equals plain filter
    val pruned = FileIndex.readFooterPruned(spark, dir, "id", 1000L, 1500L)
      .filter(col("id").between(1000L, 1500L))
    assert(pruned.count() == 501L)
    // missing column fails loud
    val e = intercept[Exception] {
      FileIndex.footerStats(spark, dir, "nope").collect()
    }
    assert(e.getMessage != null)
  }

  test("bloom manifest prunes a point lookup on the non-cluster column") {
    val dir = bloomIndexed(10000, 10)
    // pick an existing u value and its expected rows from a full scan
    val probe = spark.read.parquet(dir).filter(col("id") === 4321L)
      .head().getAs[Long]("u")
    val full = spark.read.parquet(dir).filter(col("u") === probe).count()
    val surv = FileIndex.bloomSurvivingFiles(spark, dir, probe)
    // 10k distinct values over 10 files, 64k-bit filters: the true
    // file survives, near-zero false positives admit few others
    assert(surv.nonEmpty && surv.size <= 3, s"expected <=3 files, got ${surv.size}")
    val pruned = FileIndex.readPrunedBloom(spark, dir, probe)
      .filter(col("u") === probe).count()
    assert(pruned == full && full >= 1L)
  }

  test("bloom pruning never false-negatives: every present value's file survives") {
    val dir = bloomIndexed(2000, 8)
    val sample = spark.read.parquet(dir).select("u").distinct()
      .orderBy("u").limit(50).collect().map(_.getLong(0))
    val fullByU = spark.read.parquet(dir)
      .groupBy("u").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sample.foreach { u =>
      val got = FileIndex.readPrunedBloom(spark, dir, u)
        .filter(col("u") === u).count()
      assert(got == fullByU(u), s"u=$u: pruned $got != full ${fullByU(u)}")
    }
  }

  test("bloom lookup of an absent value prunes to empty (schema kept)") {
    val dir = bloomIndexed(1000, 4)
    // 1e9 is outside the (x*2654435761 % 100000) image upper bound
    val out = FileIndex.readPrunedBloom(spark, dir, 1000000000L)
      .filter(col("u") === 1000000000L)
    assert(out.count() == 0L)
    assert(out.columns.toSeq == Seq("id", "u"))
  }

  test("manifest agrees with the bytes on disk (recomputed post-write)") {
    val dir = indexed(3000, 6)
    val m = spark.read.parquet(s"$dir/_index")
    assert(m.agg(sum("rows")).head().getLong(0) == 3000L)
    // per-file spans are disjoint under range clustering
    val spans = m.select("lo", "hi").orderBy("lo")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    spans.sliding(2).foreach {
      case Array((_, h1), (l2, _)) => assert(h1 < l2, s"overlap: $h1 >= $l2")
      case _ =>
    }
  }
}

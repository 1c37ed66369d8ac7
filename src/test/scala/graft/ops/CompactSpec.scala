package graft.ops

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class CompactSpec extends SparkSpec {

  test("compaction shrinks the file count to the size-derived target and loses nothing") {
    val base = tempDir("graft_compact_spec").toString
    val src = Tables.load(spark, sf, "documents").select("doc_id", "source", "n_chars")
    src.repartition(32).write.parquet(s"$base/frag")

    val (nBefore, bytes) = Compact.layout(spark, s"$base/frag")
    assert(nBefore == 32, s"fixture should fragment to 32 files, got $nBefore")

    // target sized to want ~4 outputs for this fixture
    val target = math.max(1L, bytes / 4)
    val nOut = Compact.compact(spark, s"$base/frag", s"$base/packed", target)
    val (nAfter, _) = Compact.layout(spark, s"$base/packed")
    assert(nOut == math.ceil(bytes.toDouble / target).toInt)
    assert(nAfter == nOut, s"declared $nOut files, found $nAfter")
    assert(nAfter < nBefore)

    // lossless: same rows, same values (checksum over all columns)
    def sig(path: String) =
      spark.read.parquet(path)
        .agg(count(lit(1)), sum(hash(col("doc_id"), col("source"), col("n_chars")).cast("long")))
        .head()
    assert(sig(s"$base/frag") == sig(s"$base/packed"))
  }

  test("compact refuses a non-positive target") {
    intercept[IllegalArgumentException] {
      Compact.compact(spark, "/nonexistent", "/tmp/x", 0L)
    }
  }
}

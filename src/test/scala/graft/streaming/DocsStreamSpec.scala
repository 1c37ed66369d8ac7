package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.llm.Dedup

class DocsStreamSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int) = {
    val words = Array("red", "blue", "green", "gold", "gray", "teal", "pink")
    (0 until n).map(i => (i.toLong,
      (0 until 20).map(j => words((i * 11 + j * 3) % words.length)).mkString(" ")))
      .toDF("id", "text")
  }

  test("dedupBatch retry is idempotent: a torn batch re-run reproduces identical output") {
    val base = tempDir("docs_retry")
    val stateBase = base.resolve("state").toString
    val pairs = base.resolve("pairs").toString
    val a = corpus(15)
    Dedup.minhashState(a, "id", "text")
      .write.parquet(s"$stateBase/v-1")
    val batch = a.select((col("id") + 100).as("id"), col("text")) // exact copies
    // first attempt commits pairs/b0 and state v0...
    DocsStream.dedupBatch(batch, 0L, stateBase, pairs, 8, 4, 0.5)
    val firstPairs = spark.read.parquet(s"$pairs/b0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val firstState = spark.read.parquet(s"$stateBase/v0").count()
    // ...then the checkpoint commit "fails" and the batch re-runs:
    // it must read v-1 again (strictly below 0), not its own v0
    DocsStream.dedupBatch(batch, 0L, stateBase, pairs, 8, 4, 0.5)
    val retryPairs = spark.read.parquet(s"$pairs/b0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(retryPairs == firstPairs)
    assert(spark.read.parquet(s"$stateBase/v0").count() == firstState)
    // every original pairs with its copy at est 10000
    assert(firstPairs.count(_._3 == 10000L) >= 15)
  }

  test("vacuumStateVersions keeps the newest N, deletes the rest, respects v-1 seeds") {
    val base = tempDir("docs_vacuum")
    val stateBase = base.resolve("state").toString
    val a = corpus(8)
    Dedup.minhashState(a, "id", "text").write.parquet(s"$stateBase/v-1")
    DocsStream.dedupBatch(a.select((col("id") + 100).as("id"), col("text")),
      0L, stateBase, base.resolve("p").toString, 8, 4, 0.5)
    DocsStream.dedupBatch(a.select((col("id") + 200).as("id"), col("text")),
      1L, stateBase, base.resolve("p").toString, 8, 4, 0.5)
    // three versions on disk: v-1, v0, v1 -> keep 2 deletes only v-1
    val deleted = EventsStream.vacuumStateVersions(spark, stateBase, keep = 2)
    assert(deleted.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("v-1"))
    // the newest version still resolves and holds all three generations' sigs
    val cur = EventsStream.currentStateVersion(spark, stateBase).get
    assert(cur.endsWith("v1"))
    assert(spark.read.parquet(cur).count() == 24)
    // vacuum on a missing dir is a no-op, keep=0 rejected
    assert(EventsStream.vacuumStateVersions(spark, s"$stateBase/nope", 1).isEmpty)
    intercept[IllegalArgumentException](
      EventsStream.vacuumStateVersions(spark, stateBase, 0))
  }

  test("two-batch stream state accumulates: batch 1 pairs against batch 0's docs") {
    val base = tempDir("docs_accum")
    val stateBase = base.resolve("state").toString
    val pairs = base.resolve("pairs").toString
    val a = corpus(10)
    Dedup.minhashState(a, "id", "text").write.parquet(s"$stateBase/v-1")
    // batch 0: fresh docs unrelated to the corpus; batch 1: copies of BATCH 0
    val b0 = corpus(10).select((col("id") + 500).as("id"),
      concat(lit("novel "), col("text"), lit(" words")).as("text"))
    val b1 = b0.select((col("id") + 100).as("id"), col("text"))
    DocsStream.dedupBatch(b0, 0L, stateBase, pairs, 8, 4, 0.5)
    DocsStream.dedupBatch(b1, 1L, stateBase, pairs, 8, 4, 0.5)
    val got = spark.read.parquet(s"$pairs/b1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each b1 copy must have found its b0 original — which lives only
    // in the state version batch 0 committed
    (500L until 510L).foreach { id =>
      assert(got.contains((id, id + 100)), s"pair ($id, ${id + 100}) missing")
    }
  }
}

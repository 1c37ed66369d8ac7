package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract gates for the batch incremental-ingest ledger: the
  * at-least-once redelivery window (uncommitted files resurface) and
  * commit idempotence (committed files never resurface). */
class LedgerSpec extends SparkSpec {
  import spark.implicits._

  test("uncommitted files resurface; committed files never do; empty dir is a no-op") {
    val base = tempDir("ledger_spec")
    val in = base.resolve("in").toString
    val led = base.resolve("ledger").toString

    // nothing landed yet
    val (none, dfNone) = Ledger.newBatch(spark, in, led)
    assert(none.isEmpty && dfNone.isEmpty)

    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(2).write.mode("append").parquet(in)

    // discovered but NOT committed — the crash-before-commit window:
    // the same files must come back on the next run
    val (first, _) = Ledger.newBatch(spark, in, led)
    assert(first.size == 2, first)
    val (again, _) = Ledger.newBatch(spark, in, led)
    assert(again == first, s"$again vs $first")

    // committed — gone for good, even after new files land
    Ledger.commit(spark, led, first, runId = 1L)
    val (afterCommit, dfAfter) = Ledger.newBatch(spark, in, led)
    assert(afterCommit.isEmpty && dfAfter.isEmpty)

    Seq((3L, "c")).toDF("k", "v").coalesce(1).write.mode("append").parquet(in)
    val (fresh, freshDf) = Ledger.newBatch(spark, in, led)
    assert(fresh.size == 1 && !first.contains(fresh.head))
    assert(freshDf.get.agg(sum(col("k"))).head.getLong(0) == 3L)

    // the ledger doubles as an audit trail: run ids recorded
    Ledger.commit(spark, led, fresh, runId = 2L)
    val runs = spark.read.parquet(led).select("run_id").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(runs.toSeq == Seq(1L, 2L))
  }
}

package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Negative path for the Write-Audit-Publish gate: a candidate that
  * FAILS its audit must never be promoted — staging stays where it
  * is, the published path never appears, and the caller gets a
  * decisive error rather than a silently-bad table. */
class WapSpec extends SparkSpec {
  import spark.implicits._

  test("a failing audit blocks publication; staging is not promoted") {
    val base = tempDir("wap_neg")
    val staging = base.resolve("staging")
    val published = base.resolve("published")
    // candidate with a duplicate key AND a bad status value
    Seq((1L, "O"), (1L, "O"), (2L, "X"))
      .toDF("o_orderkey", "o_orderstatus")
      .write.parquet(staging.toString)
    val audit = Expectations.audit(spark.read.parquet(staging.toString), Seq(
      Expectations.inSet("o_orderstatus", Seq("O", "F", "P")),
      Expectations.Unique("unique:o_orderkey", Seq("o_orderkey"))))
    val nViolations = audit.agg(sum(col("n_violations"))).head.getLong(0)
    assert(nViolations == 2L, s"expected 2 violations, got $nViolations")
    // the promotion contract: only a clean audit moves staging
    if (nViolations == 0L) java.nio.file.Files.move(staging, published)
    assert(!java.nio.file.Files.exists(published))
    assert(java.nio.file.Files.exists(staging))
  }

  test("optimistic commit race: exactly ONE of two concurrent stagers promotes") {
    val table = tempDir("wap_cas").toString
    val a = Wap.stage(Seq((1L, "A")).toDF("k", "who"), table, "writerA")
    val b = Wap.stage(Seq((2L, "B")).toDF("k", "who"), table, "writerB")
    // both writers observed the same head before either committed
    val v0 = Wap.currentVersion(table)
    assert(v0 == 0L)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val results = Seq(a, b).map { path =>
      pool.submit(new java.util.concurrent.Callable[Either[Wap.Conflict, Long]] {
        def call() = {
          gate.await()
          try Right(Wap.tryPublish(table, v0, path))
          catch { case c: Wap.Conflict => Left(c) }
        }
      })
    }
    gate.countDown()
    val outcomes = results.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    val (losers, winners) = outcomes.partition(_.isLeft)
    assert(winners.size == 1 && losers.size == 1,
      s"expected exactly one winner, got $outcomes")
    assert(winners.head.toOption.get == 1L)
    assert(Wap.currentVersion(table) == 1L)
    // the loser rebases on the new head and succeeds at v2
    val loserPath = if (Wap.publishedPath(table).get == a) b else a
    assert(Wap.publishWithRetry(table, loserPath) == 2L)
    assert(Wap.publishedPath(table).get == loserPath)
    // readers only ever see a fully-published snapshot
    val snap = Wap.readPublished(spark, table).collect()
    assert(snap.length == 1)
  }

  test("a claimed-but-unpublished lock keeps the previous snapshot live; retry is bounded") {
    val table = tempDir("wap_lock").toString
    val p1 = Wap.stage(Seq((1L, "x")).toDF("k", "v"), table, "w1")
    assert(Wap.tryPublish(table, 0L, p1) == 1L)
    // simulate a writer that claimed v2 and crashed before the manifest
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(table).resolve("_commits").resolve("v2.lock"))
    assert(Wap.currentVersion(table) == 1L) // still the old head
    assert(Wap.readPublished(spark, table).count() == 1L)
    val p2 = Wap.stage(Seq((2L, "y")).toDF("k", "v"), table, "w2")
    val c = intercept[Wap.Conflict](Wap.publishWithRetry(table, p2, maxAttempts = 3))
    assert(c.actual >= 2L) // surfaced, not spun forever
  }

  test("time travel reads any published version; unpublished versions fail loud") {
    val table = tempDir("wap_tt").toString
    Wap.publishWithRetry(table, Wap.stage(Seq((1L, "a")).toDF("k", "v"), table, "v1"))
    Wap.publishWithRetry(table,
      Wap.stage(Seq((1L, "a2"), (2L, "b")).toDF("k", "v"), table, "v2"))
    assert(Wap.currentVersion(table) == 2L)
    assert(Wap.readVersion(spark, table, 1L).collect().toSet ==
      Set(org.apache.spark.sql.Row(1L, "a")))
    assert(Wap.readVersion(spark, table, 2L).count() == 2L)
    // head read ≡ readVersion(head)
    assert(Wap.readPublished(spark, table).collect().toSet ==
      Wap.readVersion(spark, table, 2L).collect().toSet)
    intercept[IllegalStateException](Wap.readVersion(spark, table, 3L))
    // a claimed-but-crashed lock is not readable history either
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(table).resolve("_commits").resolve("v3.lock"))
    intercept[IllegalStateException](Wap.readVersion(spark, table, 3L))
  }

  test("rollback re-publishes an old snapshot as a NEW head; history stays append-only") {
    val table = tempDir("wap_rb").toString
    Wap.publishWithRetry(table, Wap.stage(Seq((1L, "good")).toDF("k", "v"), table, "v1"))
    Wap.publishWithRetry(table, Wap.stage(Seq((9L, "bad")).toDF("k", "v"), table, "v2"))
    val head = Wap.rollbackTo(table, 1L)
    assert(head == 3L)
    assert(Wap.readPublished(spark, table).collect().toSet ==
      Set(org.apache.spark.sql.Row(1L, "good")))
    // the bad version is still auditable via time travel
    assert(Wap.readVersion(spark, table, 2L).collect().toSet ==
      Set(org.apache.spark.sql.Row(9L, "bad")))
  }

  test("change feed classifies insert/delete/update/unchanged; NULL flips are updates") {
    val table = tempDir("wap_cdf").toString
    val v1 = Seq((1L, Option("keep"), 10), (2L, Option("old"), 20),
      (3L, Option("gone"), 30), (5L, None: Option[String], 50))
      .toDF("k", "s", "n")
    val v2 = Seq((1L, Option("keep"), 10), (2L, Option("new"), 20),
      (4L, Option("born"), 40), (5L, Option("was-null"), 50))
      .toDF("k", "s", "n")
    Wap.publishWithRetry(table, Wap.stage(v1, table, "v1"))
    Wap.publishWithRetry(table, Wap.stage(v2, table, "v2"))
    val got = Wap.changesBetween(spark, table, 1L, 2L, Seq("k"))
      .select("k", "change_type", "s", "n").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getInt(3)))
      .toMap
    assert(got(1L) == (("unchanged", "keep", 10)))
    assert(got(2L) == (("update", "new", 20)))
    assert(got(3L) == (("delete", "gone", 30)))
    assert(got(4L) == (("insert", "born", 40)))
    assert(got(5L) == (("update", "was-null", 50))) // null -> value IS a change
    assert(got.size == 5)
  }

  test("expire: ref-counted reclaim, tombstones, head protection") {
    val table = graft.core.Scratch.dir("wap_exp_spec").resolve("t").toString
    def pub(rows: Seq[(Long, String)], tok: String): Long =
      Wap.publishWithRetry(table,
        Wap.stage(rows.toDF("k", "v"), table, tok))
    pub(Seq((1L, "a")), "d1")              // v1
    pub(Seq((2L, "b")), "d2")              // v2
    Wap.rollbackTo(table, 1L)              // v3 shares v1's data path
    pub(Seq((3L, "c")), "d4")              // v4 (head)
    val p1 = Wap.pathForVersion(table, 1L)
    val p2 = Wap.pathForVersion(table, 2L)

    // keepFrom beyond the head is rejected outright
    intercept[IllegalArgumentException](Wap.expireBefore(table, 5L))

    val (nExp, nRec) = Wap.expireBefore(table, 3L)
    assert((nExp, nRec) == ((2L, 1L)))
    // v1's data survives via the v3 reference; v2's directory is gone
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p1)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p2)))
    // expired versions fail loud; survivors still read
    intercept[IllegalStateException](Wap.readVersion(spark, table, 1L))
    intercept[IllegalStateException](Wap.readVersion(spark, table, 2L))
    assert(Wap.readVersion(spark, table, 3L).count() == 1L)
    assert(Wap.readPublished(spark, table).count() == 1L) // head v4 intact
    // tombstones remain as the audit trail
    val commits = java.nio.file.Paths.get(table).resolve("_commits")
    assert(java.nio.file.Files.exists(commits.resolve("v1.expired")))
    assert(java.nio.file.Files.exists(commits.resolve("v2.expired")))
    // expiring again below the same floor is a no-op
    assert(Wap.expireBefore(table, 3L) == ((0L, 0L)))
  }
}

package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gates for the r21 Σ bucket² verify budget in Dedup.lshCandidates:
  * the s* size-class selection must match an in-memory reference of
  * the same algebra, whole size classes must drop atomically, a
  * budget that never binds must be a byte-identical no-op, and the
  * budgeted `dedup_minhash_cjk` gate must not bind at the test scale. */
class LshBudgetSpec extends SparkSpec {
  import spark.implicits._

  // A corpus where constant boilerplate dominates: 60 docs share one
  // long phrase (hot buckets), plus 20 distinct docs and 5 planted
  // near-dup pairs.
  private def docs: Seq[(Long, String)] = {
    val boiler = "all rights reserved contact us terms of service privacy policy"
    val rnd = new scala.util.Random(7L)
    def rand(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(9)).toChar).mkString(" ")
    (1L to 60L).map(i => i -> s"${rand(4)} $boiler") ++
      (100L to 119L).map(i => i -> rand(12)) ++
      (200L to 204L).flatMap(i =>
        Seq(i -> rand(15), (i + 1000) -> (rand(1) + " " + rand(14))))
  }

  private def bandRows(k: Int, bands: Int): Seq[(Long, Long)] = {
    val sh = Dedup.shingles(docs.toDF("id", "text"), "id", "text")
    Dedup.lshBands(Dedup.minhashSignatures(sh, k), k, bands)
      .select(col("id"), xxhash64(col("bk")).as("bk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** In-memory reference of the cap + budget algebra. */
  private def reference(rows: Seq[(Long, Long)], maxBucket: Long,
      budget: Long): Set[(Long, Long)] = {
    val buckets = rows.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val eligible = buckets.filter(_._2.size <= maxBucket)
    val hist = eligible.values.groupBy(_.size).view
      .mapValues(bs => bs.map(b => b.size.toLong * b.size).sum).toSeq.sortBy(_._1)
    val sStar = hist.scanLeft((0, 0L)) { case ((_, cum), (bn, w2)) => (bn, cum + w2) }
      .tail.filter(_._2 <= budget).map(_._1).maxOption.getOrElse(0)
    eligible.filter(_._2.size <= sStar).values.flatMap { members =>
      for (a <- members; b <- members if a < b) yield (a, b)
    }.toSet
  }

  test("budget == in-memory reference when it binds; size classes drop whole") {
    val rows = bandRows(8, 4)
    val bandsDf = docs.toDF("id", "text")
      .transform(d => Dedup.lshBands(
        Dedup.minhashSignatures(Dedup.shingles(d, "id", "text"), 8), 8, 4))
    val sizes = rows.groupBy(_._2).values.map(_.size).toSeq
    val sumSq = sizes.map(s => s.toLong * s).sum
    val budget = sumSq / 3 // force the budget to bind
    assert(budget >= 1, s"degenerate fixture: sumSq=$sumSq")
    val got = Dedup.lshCandidates(bandsDf, 10000L, budget)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = reference(rows, 10000L, budget)
    assert(got == want,
      s"only-engine=${(got -- want).take(3)} only-ref=${(want -- got).take(3)}")
    assert(got.nonEmpty, "budget dropped everything — fixture too hot")
    val unbudgeted = Dedup.lshCandidates(bandsDf, 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(unbudgeted) && got != unbudgeted,
      "binding budget must strictly shrink the candidate set")
  }

  test("non-binding budget is a no-op; sub-minimum budget drops all") {
    val bandsDf = docs.toDF("id", "text")
      .transform(d => Dedup.lshBands(
        Dedup.minhashSignatures(Dedup.shingles(d, "id", "text"), 8), 8, 4))
    val plain = Dedup.lshCandidates(bandsDf, 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loose = Dedup.lshCandidates(bandsDf, 10000L, Long.MaxValue / 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == plain)
    val none = Dedup.lshCandidates(bandsDf, 10000L, 0L).collect()
    assert(none.isEmpty)
  }

  test("dedup_minhash_cjk's budget never binds at sf0.001: gate == unbudgeted") {
    import graft.packs.DedupPack
    assert(DedupPack.CjkVerifyBudget < Long.MaxValue,
      "the gate must run budgeted for this comparison to mean anything")
    val gate = graft.SparkEntry.queries("dedup_minhash_cjk")(spark, sf)
      .collect().map(_.toSeq).toSet
    val plain = Dedup.withMinhashDupPairs(DedupPack.corpusCjk(spark, sf), "id", "text",
        DedupPack.K, DedupPack.BANDS, 0.5, cjkAware = true) { pairs =>
      pairs.collect().map(_.toSeq).toSet
    }
    assert(gate.nonEmpty)
    assert(gate == plain,
      s"only-gate=${(gate -- plain).take(3)} only-unbudgeted=${(plain -- gate).take(3)}")
  }
}

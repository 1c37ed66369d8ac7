package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The bucket-capped candidate join under every near-dup join: MinHash
  * LSH, the prefix filter, banded Hamming, cross-corpus and incremental
  * ingest. Rows carry an `id` and pair when they share every `keys`
  * value (a band key, a prefix token, a band value).
  *
  * CAP-AND-BUDGET CONTRACT, the one rule that bounds candidate work:
  *  - Per-bucket cap: a key held by more than `maxBucket` rows drops
  *    before the join (one count aggregate, then an inner join against
  *    the under-cap key set), so the worst bucket costs ≤ maxBucket²
  *    comparisons at any corpus size. Rows in a dropped bucket still
  *    pair through their other keys; with every key saturated they are
  *    exact-dup-scale identical and belong to exact dedup. Production
  *    caps at [[Candidates.MaxBucket]]; the constructor argument is only
  *    a seam for tests.
  *  - The cap counts the one relation of an a < b self-join
  *    ([[selfPairs]]), each side of a bipartite join on its own
  *    ([[crossPairs]]), and old ∪ new for incremental ingest
  *    ([[incrementalPairs]]: a bucket hot across corpus and batch is as
  *    quadratic as one hot within a single run).
  *  - Σ bn² verify budget ([[okKeys]]; self-join only, off by default):
  *    the cap bounds the worst bucket, not the total — constant
  *    boilerplate dominating many under-cap keys (the CJK fixture: 13M
  *    candidates at 10× data) is still quadratic. The budget keeps the
  *    SMALLEST buckets first: s* is the largest bucket size whose
  *    ascending-cumulative Σ bn² over the size-class histogram fits the
  *    budget, and buckets with bn ≤ s* survive. Whole size classes drop,
  *    so the result is enumeration-order-free and the opted-in oracle
  *    twins mirror it arm for arm; pairs found only through dropped
  *    buckets are lost, the recall trade that bounds verify volume. */
private[llm] class Candidates(maxBucket: Long) {

  /** The under-cap (and under-budget) key set of `rows`. */
  private def okKeys(rows: DataFrame, keys: Seq[String],
      verifyBudget: Long = Long.MaxValue): DataFrame = {
    val sizes = rows.groupBy(keys.head, keys.tail: _*)
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket)
    val kept =
      if (verifyBudget == Long.MaxValue) sizes
      else {
        // The size-class histogram (≤ maxBucket rows) is collected to
        // the driver: a plan-side cumulative window measured 21–23 s vs
        // ~8 s unbudgeted at sf0.1 (OPTIMIZATION_r21.md), and this way
        // the final plan keeps the unbudgeted aggregate→filter shape.
        val hist = sizes.groupBy("bn")
          .agg(sum(col("bn") * col("bn")).as("w2"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val fits = hist.scanLeft((0L, 0L)) { case ((_, cum), (bn, w2)) =>
          (bn, cum + w2) }.tail.takeWhile(_._2 <= verifyBudget)
        sizes.filter(col("bn") <= fits.lastOption.fold(0L)(_._1))
      }
    kept.select(keys.head, keys.tail: _*)
  }

  private def keysMatch(keys: Seq[String]): Column =
    keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)

  /** Distinct (a, b), a < b, from the capped self-join of `rows`;
    * `extra` columns over the `x`/`y` sides ride along. */
  def selfPairs(rows: DataFrame, keys: Seq[String], extra: Seq[Column] = Nil,
      verifyBudget: Long = Long.MaxValue): DataFrame = {
    val capped = rows.join(okKeys(rows, keys, verifyBudget), keys)
    val x = capped.as("x"); val y = capped.as("y")
    x.join(y, keysMatch(keys) && col("x.id") < col("y.id"))
      .select(Seq(col("x.id").as("a"), col("y.id").as("b")) ++ extra: _*)
      .distinct()
  }

  /** Distinct bipartite (a ∈ left, b ∈ right), each side capped alone. */
  def crossPairs(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    def capped(rows: DataFrame) = rows.join(okKeys(rows, keys), keys)
    capped(left).as("x").join(capped(right).as("y"), keysMatch(keys))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
  }

  /** Distinct (a ∈ old ∪ fresh, b ∈ fresh), capped over old ∪ fresh:
    * old×old never pairs, fresh×fresh pairs once with a < b. */
  def incrementalPairs(old: DataFrame, fresh: DataFrame,
      keys: Seq[String]): DataFrame = {
    val freshT = fresh.withColumn("is_new", lit(true))
    val all = old.withColumn("is_new", lit(false)).unionByName(freshT)
    val ok = okKeys(all, keys)
    val x = all.join(ok, keys).as("x")
    val y = freshT.join(ok, keys).as("y")
    x.join(y, keysMatch(keys) && col("x.id") =!= col("y.id") &&
        (!col("x.is_new") || col("x.id") < col("y.id")))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }
}

/** The production candidate join. */
private[llm] object Candidates extends Candidates(Candidates.MaxBucket) {
  final val MaxBucket = 10000L
}

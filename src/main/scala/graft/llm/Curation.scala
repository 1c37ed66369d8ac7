package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and tokenization: per-domain caps, sequence packing,
  * and benchmark-contamination checks. The reference has no analogue
  * (its pipeline stops at workbook compare/mask); these extend the
  * LLM-pipeline stack (SURVEY §2 extensions) in the same oracle-gated
  * style as Dedup/TextAnalysis.
  *
  * Scale notes are per-operator; the common theme is that nothing here
  * sorts globally — every window is keyed by a shard column (source /
  * domain), so partitions stay bounded by shard size, not corpus size.
  */
object Curation {

  /** Keep at most `k` rows per key, ranked by `ord` (ties broken by the
    * caller folding a unique id into `ord`). The crawl-curation cap:
    * "at most k documents per domain, best first".
    *
    * Two-phase so a hot key (a domain with 10^8 pages at 100 TB) never
    * lands in one window partition's sort:
    * phase 1 ranks within (key, salt) — `salt` buckets keyed by
    * `saltOn` (any roughly-uniform column, e.g. the doc id) —
    * and keeps each bucket's top k, shrinking a hot key to `salt × k`
    * rows; phase 2 ranks the survivors per key. Any row in the true
    * global top-k of its key is also in the top-k of its salt bucket
    * (rank only shrinks when rows are removed), so the two-phase result
    * is exactly the single-window result — at ~2× the shuffle of the
    * naive window but 1/salt'th the peak partition. */
  def topKPerKey(df: DataFrame, keyCol: String, ord: Seq[org.apache.spark.sql.Column],
      saltOn: org.apache.spark.sql.Column, k: Int, salt: Int = 16): DataFrame = {
    require(k > 0 && salt > 0, s"topKPerKey: k=$k and salt=$salt must be positive")
    val bucketed = df.withColumn("_salt", pmod(hash(saltOn), lit(salt)))
    val partial = bucketed
      .withColumn("_prk", row_number().over(
        Window.partitionBy(col(keyCol), col("_salt")).orderBy(ord: _*)))
      .filter(col("_prk") <= k)
      .drop("_salt", "_prk")
    partial
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(ord: _*)))
      .filter(col("rk") <= k)
  }

  /** Concat-and-chunk sequence packing: the standard pretraining shape
    * (documents concatenate in a deterministic shard order; a document
    * belongs to the sequence its first token lands in). Output adds
    * `n_tok` (whitespace tokens) and `seq` (0-based sequence index
    * within the shard).
    *
    * Packing is per-shard (`shardCol`) on purpose — real pipelines pack
    * within a shard/file, never globally, precisely so the running sum
    * is a partition-local window: shuffle by shard, sort by `orderCol`
    * within it, one pass. A global pack would serialize the corpus
    * through one task. */
  def packSequences(docs: DataFrame, shardCol: String, orderCol: String,
      textCol: String, budget: Int): DataFrame =
    packSequencesByCount(
      docs.withColumn("n_tok", size(split(col(textCol), "\\s+"))),
      shardCol, orderCol, "n_tok", budget)

  /** [[packSequences]] over a caller-supplied TRUE token count — the
    * whitespace proxy mis-budgets CJK text 3-4× (a Hangul syllable
    * run is one "word" but many BPE tokens), and sequence budget is
    * THE unit a pretraining pipeline packs by. Compose with the
    * persisted tokenizer: per-word `n_toks` from
    * [[Bpe.encode]] (byte-level) broadcast-joined to the
    * corpus's words and summed per doc (the `llm_pipeline_tokens`
    * join shape), then this window over that column. Same scale
    * shape as [[packSequences]]: the running sum is per-shard,
    * partition-local — nothing serializes through one task. */
  def packSequencesByCount(docs: DataFrame, shardCol: String,
      orderCol: String, nTokCol: String, budget: Int): DataFrame = {
    require(budget > 0, s"packSequencesByCount: budget=$budget must be positive")
    val w = Window.partitionBy(shardCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("seq",
      ((sum(col(nTokCol)).over(w) - col(nTokCol)) / budget).cast("long"))
  }

  /** Benchmark-contamination check: corpus documents sharing ≥1 word
    * n-gram with the eval set, with the overlap count. Inputs are
    * (id, text) projections; output (id, n_overlap) for hits only.
    *
    * The eval side is DISTINCT shingles of the (small) benchmark suite —
    * broadcast it: at 100 TB the corpus side never shuffles, each task
    * streams its shingles against the in-memory eval set. The shingle
    * scan itself is the codegen'd word_shingles kernel shared with
    * MinHash. */
  def contaminatedDocs(corpus: DataFrame, eval: DataFrame,
      cjkAware: Boolean = false): DataFrame = {
    def sh0(d: DataFrame) =
      if (cjkAware) Dedup.shinglesCjk(d, "id", "text")
      else Dedup.shingles(d, "id", "text")
    val corpusSh = sh0(corpus)
    val evalSh = sh0(eval).select(col("sh")).distinct()
    corpusSh.join(broadcast(evalSh), "sh")
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
  }

  /** Contamination SCORE — the fraction form of [[contaminatedDocs]]:
    * per corpus document, the share of its distinct shingles present
    * in the (broadcast) eval shingle set, for every document including
    * clean ones. A boolean flag forces a single global threshold; the
    * fraction lets release policy grade by severity (drop >50%,
    * quarantine >5%, log the rest). Ratio of two longs through
    * scale4 — IEEE-exact on both engines. Same scale shape as the
    * flag: one broadcast semi-ish join + two keyed aggregates. */
  def contaminationScore(corpus: DataFrame, eval: DataFrame,
      cjkAware: Boolean = false): DataFrame = {
    def sh0(d: DataFrame) =
      if (cjkAware) Dedup.shinglesCjk(d, "id", "text")
      else Dedup.shingles(d, "id", "text")
    val corpusSh = sh0(corpus)
    val evalSh = sh0(eval).select(col("sh")).distinct()
    val tot = corpusSh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val ov = corpusSh.join(broadcast(evalSh), Seq("sh"))
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    tot.join(ov, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        graft.functions.F.scale4(
          coalesce(col("n_overlap"), lit(0L)).cast("double") /
            col("n_shingles").cast("double")).as("frac_x1e4"))
  }

  /** Deterministic hash-threshold sampler: keep a row iff its keyed
    * 32-bit hash falls below `rate`·2³². The sampling primitive every
    * curation stage shares (stratified sampling, corpus mixing):
    * a NARROW filter — no shuffle, no RNG state, idempotent under task
    * retry/speculation (same rows survive every re-run), and the kept
    * set is monotone in `rate` (raising a stratum's rate only adds
    * rows — reproducible ablations). `rate` may be any per-row Column
    * (a literal, a CASE over strata, a joined-in per-source rate). */
  def hashSample(df: DataFrame, keyCol: String, seed: String,
      rate: org.apache.spark.sql.Column, tag: String = "strat"): DataFrame =
    df.filter(graft.functions.F.hash32(col(keyCol), seed, tag) <
      floor(rate * lit(4294967296.0)).cast("long"))

  /** Deterministic train/val/test assignment: each row's keyed hash
    * buckets it into exactly one split per `fractions` (which must sum
    * to ~1). The properties a training pipeline actually needs, all by
    * construction: DISJOINT (one hash, contiguous bucket ranges),
    * EXHAUSTIVE (ranges cover [0, 2³²)), STABLE (a row's split never
    * changes when other rows come or go — no shuffle/RNG, safe under
    * retries, and an incremental corpus refresh keeps every old row's
    * assignment). A narrow projection; the corpus never shuffles. */
  def assignSplits(df: DataFrame, keyCol: String, seed: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0),
      "assignSplits: non-negative fractions required")
    val total = fractions.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"assignSplits: fractions sum to $total, expected 1")
    val h = graft.functions.F.hash32(col(keyCol), seed, "split")
    val bounds = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }
    // nested whens over CUMULATIVE upper bounds, smallest first — the
    // first true branch wins, so bucket ranges are contiguous and the
    // final otherwise() absorbs the last split's range up to 2^32
    val assigned = fractions.init.zipWithIndex.foldRight(
        lit(fractions.last._1): org.apache.spark.sql.Column) {
      case (((name, _), i), rest) =>
        when(h < floor(lit(bounds(i + 1) * 4294967296.0)).cast("long"), lit(name))
          .otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  /** Corpus mixing: downsample each `groupCol` stratum toward a target
    * composition. `weights` maps stratum → target weight; a stratum's
    * keep-rate is `min(1, weight · budgetRows / stratumCount)` — i.e.
    * the mix that `budgetRows · weight` rows per stratum would need,
    * capped where the stratum is too small (the standard
    * sampling-with-cap mix, cf. the public Pile/ROOTS recipes).
    *
    * Scale shape: one small per-stratum count aggregate (|strata|
    * rows, broadcast back), then the narrow hashSample filter — the
    * corpus itself never shuffles. Missing strata default to weight 0
    * (dropped), so an unexpected source can't flood the mix. */
  def weightedMix(df: DataFrame, groupCol: String, keyCol: String, seed: String,
      weights: Map[String, Double], budgetRows: Long): DataFrame = {
    require(budgetRows > 0, s"weightedMix: budgetRows=$budgetRows must be positive")
    require(weights.values.forall(_ >= 0), "weightedMix: negative weight")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("_mix_n"))
    val weight = weights.foldLeft(lit(0.0)) { case (acc, (k, w)) =>
      when(col(groupCol) === k, lit(w)).otherwise(acc)
    }
    val rated = df.join(broadcast(counts), groupCol)
      .withColumn("_mix_rate",
        least(lit(1.0), weight * lit(budgetRows.toDouble) / col("_mix_n")))
    hashSample(rated, keyCol, seed, col("_mix_rate"), tag = "mix")
  }

  /** URL canonicalization — the URL-level dedup key a web-corpus
    * pipeline computes BEFORE any text-level dedup (two crawls of the
    * same page should collapse on the URL, never reach MinHash):
    * lowercase scheme and host, strip the scheme's default port
    * (`:80`/`:443`), drop the fragment, strip tracking query params
    * (`utm_*`, `fbclid`, `gclid`, `ref`), sort the surviving params,
    * and collapse/strip trailing slashes (empty path → `/`).
    *
    * Built entirely from codegen'd string built-ins + one array HOF —
    * a narrow per-row projection, no shuffle; the dedup it feeds is
    * the usual single hash aggregate on the canonical key. Every step
    * is expressible in portable SQL, so the oracle mirrors it
    * operation-for-operation. */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = lower(regexp_extract(rest, "^([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val pathq = regexp_replace(rest, "^[^/?#]*", "")
    val trimmedPath = regexp_replace(regexp_extract(pathq, "^([^?#]*)", 1), "/+$", "")
    val path = when(trimmedPath === "", lit("/")).otherwise(trimmedPath)
    val query = regexp_extract(pathq, "\\?([^#]*)", 1)
    val keep = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)(=|$)"))
    val sortedQ = array_join(array_sort(keep), "&")
    concat(scheme, lit("://"), host, path,
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** Training-shard delivery — the pipeline's last mile: every
    * document lands in a deterministic (split, shard) cell — split via
    * [[assignSplits]], shard via the keyed hash mod `nShards` — and
    * the corpus writes as hive-partitioned parquet
    * (`out/split=…/shard=…/`), returning the manifest a training job
    * consumes: (split, shard, n_docs, n_tokens), aggregated from the
    * files actually written (read back from `outDir`, so the manifest
    * proves the write, not the plan).
    *
    * Scale shape: assignment is the narrow keyed-hash projection both
    * parents use — stable under corpus refresh, so an incremental
    * re-delivery moves no old document between cells — and the single
    * shuffle is `repartition(split, shard)` so each task writes into
    * few partition dirs (the small-files guard: without it every task
    * appends a fragment to every cell, splits × shards × tasks files).
    * Shard count is per-split-uniform by design — the hash is
    * independent of the split hash (different tag), so cells stay
    * balanced. */
  def writeShards(docs: DataFrame, keyCol: String, textCol: String,
      seed: String, fractions: Seq[(String, Double)], nShards: Int,
      outDir: String): DataFrame = {
    require(nShards > 0, s"writeShards: nShards=$nShards must be positive")
    assignSplits(docs, keyCol, seed, fractions)
      .withColumn("shard",
        pmod(graft.functions.F.hash32(col(keyCol), seed, "shard"),
          lit(nShards.toLong)).cast("int"))
      .withColumn("n_tok", size(split(col(textCol), "\\s+")))
      .repartition(col("split"), col("shard"))
      .write.mode("overwrite").partitionBy("split", "shard").parquet(outDir)
    docs.sparkSession.read.parquet(outDir)
      .groupBy("split", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
  }

  /** Multi-label public suffixes the [[registrableDomain]] heuristic
    * recognizes — a compiled-in subset of the Public Suffix List
    * covering the common ccTLD second levels and hosted-platform
    * suffixes. A production deployment swaps in the full PSL (same
    * shape, the literal set is just longer); the heuristic's default
    * rule (last two labels) matches the PSL's `*` fallback. */
  val MultiSuffixes: Seq[String] = Seq(
    "ac.uk", "co.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "or.jp",
    "co.kr", "go.kr", "com.au", "net.au", "org.au", "com.br", "com.cn",
    "com.mx", "com.tw", "co.in", "co.nz", "github.io", "gitlab.io",
    "blogspot.com")

  /** Registrable domain (eTLD+1) from a hostname — the grouping key
    * for per-domain caps and crawl statistics (`www.example.co.uk`,
    * `a.b.example.co.uk` and `example.co.uk` must all cap under ONE
    * domain, which raw-host grouping gets wrong for every ccTLD):
    * the last two labels, or three when the last two are a recognized
    * multi-label suffix; hosts of ≤2 labels pass through. A narrow
    * codegen'd projection — the suffix set compiles into the plan as
    * an array literal; no shuffle. The CASE branch order keeps every
    * negative element_at in bounds under ANSI evaluation. */
  def registrableDomain(host: org.apache.spark.sql.Column,
      multiSuffixes: Seq[String] = MultiSuffixes): org.apache.spark.sql.Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val last3 = concat_ws(".", element_at(labels, -3), element_at(labels, -2),
      element_at(labels, -1))
    when(n <= 2, host)
      .when(array_contains(typedLit(multiSuffixes), last2), last3)
      .otherwise(last2)
  }

  /** C4-style inter-document boilerplate removal: drop every line whose
    * normalized form (lower + trim) occurs in at least `minDocs`
    * DISTINCT documents — cookie banners, nav menus, subscribe footers
    * repeat across a site's every page, while real content lines are
    * (near-)unique. Output keeps one row per input document:
    * `text_clean` (surviving lines rejoined on `sep`, original order),
    * `n_kept`, `n_dropped`. A document whose every line is boilerplate
    * survives with empty text — the caller decides whether to drop it
    * (e.g. via gopherRules' min-words flag).
    *
    * Scale shape, in corpus order: the line explode is NARROW; the
    * line-frequency pass is ONE hash aggregate keyed by the normalized
    * line, where map-side partial agg collapses the heavy repeats
    * (boilerplate is by definition the high-frequency mass) before the
    * shuffle; the offending-line set — small by construction, only
    * lines crossing the cross-doc threshold — broadcasts back, so
    * tagging is narrow; reassembly is one groupBy(id) shuffle. Two
    * keyed shuffles total, no global sort. Grouping is on the
    * normalized string itself, not a hash — collision-free and
    * oracle-exact; a 100 TB deployment could pre-bucket on xxhash64 to
    * shrink the first shuffle's keys at the cost of that exactness. */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long, sep: String = "\n"): DataFrame = {
    require(minDocs > 1, s"stripBoilerplate: minDocs=$minDocs must exceed 1")
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .withColumn("_n", lower(trim(col("line"))))
    val bad = lines.groupBy("_n")
      .agg(countDistinct(col(idCol)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select(col("_n").as("_badn"))
    lines
      .join(broadcast(bad), col("_n") === col("_badn"), "left")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("line"),
        col("_badn").isNull.as("keep")))).as("_p"))
      .select(col(idCol),
        array_join(transform(filter(col("_p"), p => p("keep")),
          p => p("line")), sep).as("text_clean"),
        size(filter(col("_p"), p => p("keep"))).cast("long").as("n_kept"),
        (size(col("_p")) - size(filter(col("_p"), p => p("keep"))))
          .cast("long").as("n_dropped"))
  }

  /** Integer-exact PageRank — domain authority as a curation weight
    * (crawl frontiers and quality priors both want "how linked-to is
    * this domain"). Fixed-point arithmetic throughout (ranks scaled to
    * `scale`, contributions `rank div out_degree`, damping applied as
    * `(85 · Σ) div 100`): every operation is integer, so the result is
    * independent of float summation order — the property that lets a
    * distributed aggregation match the oracle bit-for-bit, and the
    * same trick as rarityScores. Standard simplifications, documented:
    * dangling nodes leak their mass (no redistribution), and the
    * per-division floor loses ≤1 unit per edge per iteration —
    * acceptable for a WEIGHT, not for probability-sum invariants.
    *
    * Scale shape per iteration: one equi-join (edges × ranks on src,
    * out-degrees folded in), one keyed aggregate, one left join back
    * to the node set — all on the node/src key; `iters` is a handful
    * (authority stabilizes fast), so the loop materializes each
    * generation and releases the last, like dupClusters. */
  def pageRankInt(edges: DataFrame, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"pageRankInt: iters=$iters")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col("src"), col("dst")).distinct()
      .persist(MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
      .persist(MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outd"))
    var ranks = nodes.select(col("id"), lit(scale).as("rank"))
      .persist(MEMORY_AND_DISK)
    var prev = ranks
    (1 to iters).foreach { _ =>
      val contrib = e
        .join(deg, Seq("src"))
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), expr("rank div outd").as("c"))
      val sums = contrib.groupBy("dst").agg(sum(col("c")).as("s"))
      val next = nodes
        .join(sums.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (lit(scale * 15L / 100L) +
            expr("(85 * coalesce(s, 0)) div 100")).as("rank"))
        .persist(MEMORY_AND_DISK)
      next.count(): Unit // materialize before releasing the parent
      prev.unpersist(blocking = false)
      prev = next
      ranks = next
    }
    // The fixpoint is already materialized by the per-iteration counts;
    // hand it back as an eager checkpoint and release every internal
    // cache (edges, node set, final generation) so nothing stays pinned
    // in the CacheManager after the caller consumes the ranks.
    graft.core.Materialize.drained(ranks, prev, nodes, e)
  }

  /** Token-window document chunking — the step between cleaning and
    * packing: long documents become overlapping `chunkTokens`-sized
    * windows so no training example is truncated mid-context.
    *
    * Window rule (the common "stride with tail snap"): starts at every
    * `chunkTokens - overlapTokens` stride, plus a final start snapped
    * to `len - chunkTokens` so the tail is always covered by one
    * full-width chunk (the last two chunks may overlap more than
    * `overlapTokens`). Documents with zero tokens yield zero chunks.
    * `chunk_id` is derived arithmetically from the start offset
    * (`ceil(start / stride)`), not from an explode ordinal — keeps the
    * whole operator a pure per-row expression chain.
    *
    * Scale shape: tokenize → explode → slice is entirely NARROW (no
    * shuffle, no UDF, whole-stage codegen throughout); output order is
    * the caller's concern. Tokens are split on explicit ASCII
    * whitespace ([ \t\r\n]+) — the same class the oracle's RE2 engine
    * implements, sidestepping the Java-vs-RE2 `\s` divergence. */
  /** DSIR-style contrastive selection score (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" — the
    * hashed-feature scale-up of Moore & Lewis 2010 cross-entropy
    * difference): fit two bag-of-hashed-unigram models — p over the
    * TARGET slice (the distribution you want more of: a trusted
    * domain, a language, a curated seed set) and q over the whole raw
    * pool — and score each document by its mean per-token
    * log p(b) − log q(b). High scores mark documents that look like
    * the target and unlike the pool average; selection is then a
    * threshold or top-k over the score.
    *
    * Integer-exact surrogate (the rarity/surprisal bit-length family):
    * one token in bucket b contributes
    *   bitlength((Nq + B) div (cq(b) + 1)) − bitlength((Np + B) div (cp(b) + 1))
    * — surprisal under the pool minus surprisal under the target, with
    * Laplace (+1 count, +B total) smoothing so unseen-in-target
    * buckets stay defined. Doc score = ×100 floor mean (negative for
    * pool-typical docs; Spark `div` and DuckDB `//` truncate
    * identically on negatives — the Holt-established contract).
    * Buckets come from the md5-backed [[graft.functions.F.hash32]],
    * the cross-engine keyed hash, so the DuckDB twin reproduces
    * collisions exactly.
    *
    * Scale shape: tokenize+bucket is NARROW, and the hashed token
    * stream is cached for the query's single run (the Materialize
    * lifecycle) so the corpus tokenizes+md5s ONCE; BOTH models land in
    * one hash aggregate (per-bucket (cp, cq) with the target count as
    * a conditional sum — at most `buckets` rows, broadcast-sized by
    * construction, that is the point of feature hashing) whose totals
    * are a sum OVER THE MODEL, not another corpus pass; scoring is one
    * broadcast equi-join on the bucket id plus a single-row total.
    * Nothing grows with corpus size except the one token-stream pass.
    * Output (id, n_tokens, dsir_x100). */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column, buckets: Int = 8192,
      seed: String = "dsir"): DataFrame =
    graft.core.Materialize.withCached(docs
      .select(col(idCol).as("id"), targetPred.as("is_target"),
        explode(filter(split(col(textCol), " "), x => x =!= "")).as("tok"))
      .select(col("id"), col("is_target"),
        pmod(graft.functions.F.hash32(col("tok"), seed, "b"),
          lit(buckets.toLong)).as("b"))) { toks =>
      val model = toks.groupBy("b").agg(
        sum(when(col("is_target"), lit(1L)).otherwise(lit(0L))).as("cp"),
        count(lit(1)).as("cq"))
      val totals = model.agg(sum("cp").as("np"), sum("cq").as("nq"))
      toks
        .join(broadcast(model), Seq("b"))
        .crossJoin(broadcast(totals))
        .select(col("id"),
          (expr(s"length(bin((nq + $buckets) div (cq + 1)))")
            - expr(s"length(bin((np + $buckets) div (cp + 1)))")).as("ml"))
        .groupBy("id")
        .agg(count(lit(1)).as("n_tokens"),
          expr("(sum(ml) * 100) div count(1)").as("dsir_x100"))
    }

  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkDocuments: chunkTokens=$chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"chunkDocuments: overlap=$overlapTokens must be in [0, $chunkTokens)")
    val stride = chunkTokens - overlapTokens
    docs
      .select(col(idCol),
        filter(split(col(textCol), "[ \t\r\n]+"), t => t =!= "").as("_toks"))
      .withColumn("_len", size(col("_toks")))
      .filter(col("_len") > 0)
      .withColumn("_m", greatest(col("_len") - chunkTokens, lit(0)))
      .select(col(idCol), col("_toks"), col("_len"),
        explode(array_distinct(concat(
          sequence(lit(0), col("_m"), lit(stride)),
          array(col("_m"))))).as("_start"))
      .select(col(idCol),
        expr(s"(_start + ${stride - 1}) div $stride").cast("int")
          .as("chunk_id"),
        least(lit(chunkTokens), col("_len") - col("_start")).as("n_tokens"),
        array_join(slice(col("_toks"), col("_start") + 1, lit(chunkTokens)), " ")
          .as("chunk"))
  }
}

package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH (banded candidate generation —
  * never all-pairs), SimHash fingerprints, and exact Jaccard
  * verification of candidate pairs.
  *
  * Scale design:
  *  - Exact dedup is one hash aggregate on md5(text) — partial+final,
  *    one shuffle keyed on the digest.
  *  - MinHash: shingling and per-permutation hashing are narrow maps;
  *    signatures are one groupBy(doc). LSH candidates come from a
  *    self-join on band keys, so cost is Σ bucket² — bounded by banding,
  *    never |docs|². Jaccard verification joins shingles only for
  *    candidate pairs.
  *  - All hash functions are keyed md5 constructions (no rand()), so
  *    task retries are idempotent and the DuckDB oracle reproduces
  *    every value.
  */
object Dedup {

  /** 32-bit hash of a string column under a tag (portable md5 scheme,
    * same construction as graft.functions.F.hash32):
    * `conv(substring(md5(concat(c, ':tag')), 1, 8), 16, 10)` —
    * computed by the low-allocation [[graft.functions.Md5Hash32]]
    * kernel (r21; bit-identical, null-propagating like concat, see
    * Md5Kernels' rationale: this hash runs per TOKEN in the SimHash
    * votes and per resample draw in the bootstrap). */
  def hash32(c: Column, tag: String): Column =
    graft.functions.F.toColumn(graft.functions.Md5Hash32(
      graft.functions.F.toExpr(c), s":$tag"))

  /** Distinct word n-gram shingles per document: (id, sh).
    * Documents shorter than n words contribute their whole text as a
    * single shingle. Shingle construction runs through the codegen'd
    * WordShingles kernel — the equivalent transform/sequence/concat_ws
    * HOF chain is CodegenFallback and pays an interpreted lambda per
    * shingle, and this is the first stage of every dedup corpus scan. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    import graft.functions.F
    docs
      .select(col(idCol).as("id"),
        explode(F.toColumn(graft.functions.WordShingles(F.toExpr(col(textCol)), n))).as("sh"))
      .distinct()
  }

  /** CJK pre-spacing ahead of the word-token kernels (the
    * [[TextAnalysis.cjkAwareTerms]] convention wired into dedup):
    * every Han / Hiragana / Katakana / Hangul codepoint becomes its
    * own word — one codegen'd regexp_replace — then whitespace runs
    * collapse to single spaces and the ends trim, so the
    * split-on-single-space shingle/token kernels downstream see
    * clean words. Without this a spaceless Korean/Japanese document
    * shingles into ~one gram per sentence: near-dup recall and
    * benchmark decontamination silently degenerate for exactly the
    * content the reference app is built around (its notices are
    * Korean markdown — admin/page.tsx:38-46). Java spells the script
    * classes \p{IsHan}…; the DuckDB twins use RE2's \p{Han}… — the
    * same code-point sets (portability proved by the
    * text_top_terms_cjk oracle). */
  def cjkSpaced(c: Column): Column =
    trim(regexp_replace(regexp_replace(c,
      "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}])", " $1 "),
      "\\s+", " "))

  /** [[shingles]] over CJK-pre-spaced text ([[cjkSpaced]]) — the
    * shingle relation the cjkAware arms of MinHash / SimHash /
    * decontamination share. Same scale shape as [[shingles]]: the
    * pre-space is one more codegen'd projection before the explode,
    * nothing shuffles differently. */
  def shinglesCjk(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    shingles(docs.select(col(idCol), cjkSpaced(col(textCol)).as(textCol)),
      idCol, textCol, n)

  /** Permutation hash i of a shingle: an md5 digest yields four
    * independent 32-bit values (hex slices), so k permutations cost
    * ⌈k/4⌉ digests per shingle instead of k — the digest is the
    * dominant cost of MinHash at corpus scale. (The Column form is the
    * portable definition the oracle mirrors; the hot path computes all
    * k values via [[graft.functions.MinhashLongs]], bit-identical.) */
  def permHash(c: Column, i: Int): Column = {
    val block = i / 4
    val slice = (i % 4) * 8 + 1
    conv(substring(md5(concat(c, lit(s":mhb$block"))), slice, 8), 16, 10).cast("long")
  }

  /** MinHash signatures: k permutations → k min-hash columns m0..m{k-1}.
    * One shuffle (groupBy id) with map-side partial mins. The k hashes
    * come from ONE [[graft.functions.MinhashLongs]] kernel call per
    * shingle (r21; element i ≡ [[permHash]](sh, i) bit-for-bit): the
    * former per-column md5→hex→substring→conv chains relied on
    * subexpression elimination to share the ⌈k/4⌉ digests but still
    * allocated hex strings and conv parses per hash — per SHINGLE of
    * the corpus, the allocation churn behind the dedup family's
    * 32-core anti-scaling (r20 verdict finding #1). */
  def minhashSignatures(sh: DataFrame, k: Int = 8): DataFrame = {
    import graft.functions.F
    sh.select(col("id"),
        F.toColumn(graft.functions.MinhashLongs(F.toExpr(col("sh")), k)).as("hs"))
      .select(col("id") +: (0 until k).map(i => col("hs").getItem(i).as(s"h$i")): _*)
      .groupBy("id")
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*)
  }

  /** LSH band keys: k columns split into `bands` bands of k/bands rows;
    * band key = bandIndex + its min-hashes. Output (id, bk).
    * `bands` must divide `k` — otherwise the trailing k mod bands
    * signature rows would silently drop out of every band key,
    * weakening candidate recall with no error. */
  def lshBands(sigs: DataFrame, k: Int = 8, bands: Int = 4): DataFrame = {
    require(k % bands == 0,
      s"lshBands: bands=$bands must divide k=$k — otherwise the trailing " +
        s"${k % bands} signature rows would be silently excluded from every band")
    val rows = k / bands
    val keys = (0 until bands).map { b =>
      concat_ws("_", lit(b) +: (0 until rows).map(r => col(s"m${b * rows + r}")): _*)
    }
    sigs.select(col("id"), explode(array(keys: _*)).as("bk"))
  }

  /** Candidate pairs (a < b) sharing ≥1 band key: the capped self-join
    * of [[Candidates]] (its scaladoc holds the cap-and-budget contract).
    * `verifyBudget` bounds Σ bn² over the kept buckets; default
    * Long.MaxValue = off. */
  def lshCandidates(bandsDf: DataFrame,
      verifyBudget: Long = Long.MaxValue): DataFrame =
    Candidates.selfPairs(digestBands(bandsDf), Seq("bk"),
      verifyBudget = verifyBudget)

  /** r20: band keys digest to 64-bit before the cap aggregate and the
    * candidate join — the concat_ws band string exists only to define
    * equality classes, and xxhash64 preserves them (same negligible-
    * collision contract as the verify stage's digests), so candidates
    * are unchanged while the hot join shuffles/compares longs. */
  private def digestBands(bandsDf: DataFrame): DataFrame =
    bandsDf.select(col("id"), xxhash64(col("bk")).as("bk"))

  /** Exact Jaccard over distinct shingle sets, computed only for the
    * given candidate pairs. Output (a, b, jacc).
    *
    * Shingles are digested to 64-bit xxhash BEFORE the intersection
    * joins (the same pre-shuffle digesting [[ngramSpanStats]] does):
    * the two shuffles then carry an 8-byte key instead of
    * arbitrary-length shingle text — at corpus scale that halves-plus
    * the verify-stage shuffle bytes. Distinct shingles map 1:1 to
    * digests (64-bit collisions are ~n²/2⁶⁵ — negligible at any
    * per-document shingle count), so set sizes and intersection
    * counts are unchanged.
    *
    * ONE shingle scan: the earlier form derived `sh` three times
    * (sizes + both join sides), so an uncached caller paid the
    * split+explode+distinct corpus scan three times — the r15
    * blocking-metrics breach class. Here each candidate pair is
    * unrolled to its two member ids with a narrow generate (one pass
    * over `cand`), joined against the digested shingles ONCE, and
    * sizes/intersection both come out of the same two-level
    * aggregate: |A| = side-0 rows of the pair, |A∩B| = digests seen
    * from both sides. */
  def jaccard(cand: DataFrame, sh: DataFrame): DataFrame =
    pairShingleStats(cand, sh)
      .select(col("a"), col("b"), graft.functions.F.scale4(
        col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jacc_x1e4"))

  /** [[jaccard]] over ALL candidate pairs, including those sharing no
    * shingle (jacc_x1e4 = 0) — exactly one output row per distinct
    * candidate pair. This is the telemetry form: blocking-quality
    * counters (n_candidates, n_verified) come out of ONE aggregate
    * over one pipeline, with `cand` referenced once — no second
    * branch that could recompute the candidate generation (the r15
    * breach class) and no eager materialization needed. */
  def jaccardAll(cand: DataFrame, sh: DataFrame): DataFrame =
    pairShingleStats(cand, sh, keepEmpty = true)
      .select(col("a"), col("b"), graft.functions.F.scale4(
        col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jacc_x1e4"))

  /** Shared kernel of [[jaccard]]/[[containment]]: per candidate pair,
    * the two set sizes and the intersection count over digested
    * shingles, from a SINGLE scan of `sh`. Pairs sharing no shingle
    * are dropped (i ≥ 1), matching the historical inner-join shape —
    * unless `keepEmpty` (the telemetry form: every pair reported,
    * i = 0 rows included; every doc has ≥ 1 shingle, so no pair can
    * vanish from the inner id-join). */
  private def pairShingleStats(cand: DataFrame, sh: DataFrame,
      keepEmpty: Boolean = false): DataFrame = {
    val d = sh.select(col("id"), xxhash64(col("sh")).as("shd"))
    val unrolled = cand
      .select(col("a"), col("b"),
        explode(array(
          struct(col("a").as("id"), lit(0).as("side")),
          struct(col("b").as("id"), lit(1).as("side")))).as("m"))
      .select(col("a"), col("b"), col("m.id").as("id"), col("m.side").as("side"))
    unrolled.join(d, "id")
      .groupBy("a", "b", "shd")
      .agg(max(when(col("side") === 0, 1L).otherwise(0L)).as("ina"),
        max(when(col("side") === 1, 1L).otherwise(0L)).as("inb"))
      .groupBy("a", "b")
      .agg(sum(col("ina")).as("na"), sum(col("inb")).as("nb"),
        sum(col("ina") * col("inb")).as("i"))
      .filter(if (keepEmpty) lit(true) else col("i") >= 1L)
  }

  /** PPJoin-style PREFIX-FILTER set-similarity self-join (Chaudhuri
    * et al. ICDE'06 SSJoin; Xiao et al. WWW'08 PPJoin): the LOSSLESS
    * alternative to MinHash-LSH at high thresholds — no hashing, no
    * probabilistic recall. Give every token a global total order
    * (ascending corpus frequency, ties by token: rarest first); two
    * sets with Jaccard >= tau MUST share a token inside their
    * (n - ceil(tau*n) + 1)-token prefixes under ANY fixed total
    * order, so candidates come from an equi-join on prefix tokens
    * only. Rare-first ordering makes those prefix postings the
    * shortest lists in the corpus — join fan-out concentrates where
    * buckets are smallest, the opposite of a hot-key self-join; the
    * [[Candidates]] bucket cap guards the degenerate token anyway.
    * Verification is the digest-keyed exact [[jaccard]] restricted to
    * candidates, and the threshold compares the x1e4 integer, so both
    * engines branch on the same value.
    *
    * `sh` = DISTINCT (id, sh) shingle rows (the [[shingles]] output);
    * prefix length arithmetic is all-integer: ceil(tau*n) =
    * (n*tau + 9999) div 10000 at x1e4 fixed point. The recall
    * guarantee is for TRUE Jaccard >= tau; the output filter compares
    * the half-up-rounded x1e4 value, which can additionally admit a
    * pair sitting within 0.5e-4 below tau when its sets are huge
    * (>10k shingles) — a reporting-rounding nuance, not a loss. */
  def prefixFilterPairs(sh: DataFrame, tauX1e4: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r20: every join/group key below is the 64-bit shingle digest,
    // not the shingle string — the same pre-shuffle digesting the
    // verify stage ([[jaccard]]) already standardizes, with the same
    // negligible-collision contract. 5-gram shingles average tens of
    // bytes; at Σ posting² self-join fan-out the 8-byte key is the
    // difference between shuffling/comparing strings and longs. The
    // PREFIX ORDER is unchanged — still (tf, shingle string) — so the
    // candidate set is byte-for-byte the one the oracle's mirrored
    // algebra derives (the digest only renames the join key).
    val dg = sh.select(col("id"), col("sh"), xxhash64(col("sh")).as("shd"))
    val freq = dg.groupBy("shd").agg(count(lit(1)).as("tf"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val ranked = dg.join(freq, "shd")
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy(col("tf"), col("sh"))))
    val pref = ranked.join(sizes, "id")
      .filter(col("pos") <=
        col("n") - floor((col("n") * tauX1e4 + 9999L) / 10000L) + 1L)
      .select("id", "shd")
    jaccard(Candidates.selfPairs(pref, Seq("shd")), sh)
      .filter(col("jacc_x1e4") >= tauX1e4)
  }

  /** Asymmetric n-gram CONTAINMENT per candidate pair: |A∩B| / |A|
    * and |A∩B| / |B| — the sub-document duplication signal Jaccard
    * misses. A short quote embedded verbatim in a long article has
    * near-zero Jaccard (the union is article-sized) but containment
    * ≈ 1 from the quote's side; training-data curation needs exactly
    * that direction to catch excerpt/boilerplate reuse. Same
    * candidates-only cost shape as [[jaccard]]: one digest-keyed
    * intersection aggregate plus two size joins — containment never
    * touches non-candidate pairs. */
  def containment(cand: DataFrame, sh: DataFrame): DataFrame =
    // same single-scan kernel as [[jaccard]]
    pairShingleStats(cand, sh)
      .select(col("a"), col("b"),
        graft.functions.F.scale4(col("i").cast("double") / col("na"))
          .as("cont_a_x1e4"),
        graft.functions.F.scale4(col("i").cast("double") / col("nb"))
          .as("cont_b_x1e4"))

  /** C4-style LINE-level corpus deduplication (Raffel et al. 2020
    * §2.2 — "we discarded all but one of any three-sentence span
    * occurring more than once", here at the line grain the C4 code
    * actually dedups on): across the WHOLE corpus, keep only the
    * globally-first occurrence (document id, then line position) of
    * every distinct line; drop repeats everywhere else; reassemble
    * each document from its surviving lines in original order. This
    * is the boilerplate killer exact doc-level dedup misses — nav
    * text, license headers, templated footers repeat across documents
    * that are globally unique.
    *
    * Scale shape: one narrow posexplode; lines digest to 64-bit
    * xxhash BEFORE the shuffle (8-byte keys, the standard pre-shuffle
    * digesting); the first-occurrence winner is one hash aggregate —
    * a lexicographic `min(struct(id, pos))`, never a corpus-wide
    * window and never an arithmetic packed key (the old id·10⁶+pos
    * form carried an unenforced pos < 10⁶ caller contract that a
    * million-line document would corrupt SILENTLY; struct min has no
    * contract to break); one equi-join back on the digest; one
    * groupBy(doc) reassembly whose ordered concat runs inside the
    * aggregate (array_sort over (pos, line) structs — per-document
    * state, no global sort anywhere). Deterministic under retries;
    * the oracle reproduces every surviving line bit-for-bit.
    *
    * Output: (id, n_lines, n_dropped, clean_text). `sep` splits AND
    * rejoins, so `n_dropped = 0` round-trips the text unchanged. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val keyed = lines
      .select(col("id"), col("pos"), col("line"),
        xxhash64(col("line")).as("lh"))
    val first = keyed.groupBy("lh")
      .agg(min(struct(col("id"), col("pos"))).as("fo"))
    keyed.join(first, "lh")
      .withColumn("keep",
        col("id") === col("fo.id") && col("pos") === col("fo.pos"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          sep).as("clean_text"))
  }

  /** C4's ACTUAL dedup grain (Raffel et al. 2020 §2.2 — "we discarded
    * all but one of any three-sentence span occurring more than
    * once"): a sliding k-sentence window over each document. Every
    * window of k consecutive sentences is a span; for each span
    * occurring more than once corpus-wide, the globally-first
    * occurrence (lexicographic (id, pos), same struct-min winner as
    * [[lineDedup]]) survives and every other occurrence is REMOVED —
    * its k sentences drop, so templated passages that repeat across
    * documents vanish even when no single line is the unit of reuse.
    * Coarser than the line grain where it should be: an isolated
    * repeated sentence (a common word, a short quote) never drops
    * unless a full k-sentence run repeats around it.
    *
    * Scale shape: one narrow posexplode; spans digest to 64-bit
    * xxhash from per-DOCUMENT lead() windows (partitioned by id —
    * never a corpus-wide window); the winner is one struct-min hash
    * aggregate on the 8-byte digest; removed occurrences explode to
    * at most k covered positions each and anti-join back — every join
    * is an equi-join on (id, pos) or the digest. Deterministic under
    * retries; the oracle reproduces every surviving sentence.
    *
    * Output: (id, n_sentences, n_dropped, clean_text); documents with
    * fewer than k sentences have no spans and round-trip unchanged. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", k: Int = 3): DataFrame = {
    require(k >= 2, s"span grain needs k >= 2 sentences (got $k)")
    val lines = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    val nexts = (1 until k).map(i => lead(col("line"), i).over(w).as(s"n$i"))
    val spans = lines.select(Seq(col("id"), col("pos"), col("line")) ++ nexts: _*)
      .filter((1 until k).map(i => col(s"n$i").isNotNull).reduce(_ && _))
      .select(col("id"), col("pos"),
        xxhash64(col("line") +: (1 until k).map(i => col(s"n$i")): _*).as("sh"))
    val first = spans.groupBy("sh")
      .agg(min(struct(col("id"), col("pos"))).as("fo"))
    // non-first occurrences exist iff the span occurs > once; each
    // covers positions [pos, pos+k-1] in its document
    val covered = spans.join(first, "sh")
      .filter(!(col("id") === col("fo.id") && col("pos") === col("fo.pos")))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
      .withColumn("drop", lit(true))
    lines.join(covered, Seq("id", "pos"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("drop"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(col("drop").isNull,
              struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          sep).as("clean_text"))
  }

  /** MinHash-LSH near-duplicate pairs with verified Jaccard ≥ threshold
    * (threshold compared on the scaled fixed-point value), handed to
    * `use`. Candidates come from [[lshCandidates]]; `verifyBudget` is
    * its Σ bn² budget (default off).
    *
    * CACHE LIFECYCLE: the pair plan reads a shingle relation persisted
    * inside this call (the split+explode+distinct scan — the most
    * expensive subtree — feeds the signature aggregate AND jaccard's
    * digest join, so it materializes once). It is RELEASED when `use`
    * returns, so a long-lived session does not accumulate a
    * MEMORY_AND_DISK relation per invocation. Every action on the
    * DataFrame handed to `use` must happen inside the callback; the
    * plan must not escape. */
  def withMinhashDupPairs[T](docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
      cjkAware: Boolean = false,
      verifyBudget: Long = Long.MaxValue)(use: DataFrame => T): T = {
    val sh = (if (cjkAware) shinglesCjk(docs, idCol, textCol)
      else shingles(docs, idCol, textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cand = lshCandidates(lshBands(minhashSignatures(sh, k), k, bands),
        verifyBudget)
      use(jaccard(cand, sh).filter(col("jacc_x1e4") >= (threshold * 10000).toLong))
    } finally sh.unpersist(blocking = true)
  }

  /** Cross-corpus near-dup join — fuzzy DECONTAMINATION: find every
    * training document that is a near-duplicate of something in a
    * held-out/eval corpus, so it can be dropped before training. The
    * n-gram contamination screen (Curation.contamination) catches
    * verbatim overlap; this catches the lightly-edited copies it
    * misses, at the same banded-LSH cost.
    *
    * Same signature/band algebra as [[withMinhashDupPairs]] (the hash
    * family is deterministic, so signatures computed per side are
    * identical to a union pass), but the candidate join is
    * train-band × eval-band — strictly BIPARTITE, never within a side:
    * cost is Σ_bk |T_bk|·|E_bk| with each side capped on its own
    * ([[Candidates.crossPairs]]), and the eval side is benchmark-sized
    * (tiny next to the corpus), so the join fans out only where an
    * eval band actually collides.
    * Verification is the digest-keyed exact [[jaccard]] over the
    * union shingle relation. Id spaces of the two sides MUST be
    * disjoint (caller contract — shift one side).
    *
    * Output (a = train id, b = eval id, jacc_x1e4 ≥ tauX1e4). */
  def crossCorpusPairs(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, k: Int = 8, bands: Int = 4, tauX1e4: Long = 5000L,
      cjkAware: Boolean = false): DataFrame = {
    def sh0(d: DataFrame) =
      if (cjkAware) shinglesCjk(d, idCol, textCol) else shingles(d, idCol, textCol)
    val shT = sh0(train)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shE = sh0(eval)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bandKeys(s: DataFrame) =
      digestBands(lshBands(minhashSignatures(s, k), k, bands))
    val cand = Candidates.crossPairs(bandKeys(shT), bandKeys(shE), Seq("bk"))
    // The result (contaminated pairs — eval-bounded, tiny next to the
    // corpus) materializes once and the shingle caches are released
    // with it: decontamination is a terminal scan, and leaving two
    // corpus-scale relations pinned in the CacheManager after it would
    // bleed memory across every later query in the session.
    graft.core.Materialize.drained(
      jaccard(cand, shT.unionAll(shE)).filter(col("jacc_x1e4") >= tauX1e4),
      shT, shE)
  }

  /** Resolve duplicate PAIRS into clusters: connected components with
    * the minimum member id as the canonical keeper — the step that
    * turns (a,b) near-dup evidence into a per-document keep/drop
    * decision. Min-label propagation: every node starts as its own
    * label, and each iteration takes the min label over direct
    * neighbors (one equi-join + one hash aggregate), so labels travel
    * one hop per iteration and the loop converges in graph-diameter
    * iterations — near-dup graphs are short chains in practice, and
    * `maxIter` caps pathological components. Each iteration persists
    * its labels and releases the previous generation.
    *
    * One Spark action per iteration: the previous label rides through
    * the propagation union as a null-padded `prev` column (min ignores
    * nulls; each id has exactly one labels row, so min(prev) IS the
    * previous label), and the convergence count filters the persisted
    * result directly — materializing the new generation and measuring
    * movement in the same job, with no second join against the old
    * labels. Output (id, cluster), CHECKPOINTED: the fixpoint is
    * already materialized by the convergence counts, so the final
    * generation is handed back as an eager localCheckpoint and every
    * internal cache is released before returning — callers reuse the
    * materialized labels without anything staying pinned in the
    * CacheManager (the checkpoint blocks free themselves once the
    * result is unreachable).
    *
    * Fails loud if the fixpoint is not reached within `maxIter` —
    * silently returning split components would let near-duplicates
    * survive dedup; raise `maxIter` for graphs of larger diameter. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = pairs.select(col("a").as("x"), col("b").as("y"))
      .unionAll(pairs.select(col("b").as("x"), col("a").as("y")))
      .persist(MEMORY_AND_DISK)
    var labels = e.groupBy(col("x").as("id")).agg(min(col("y")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("cluster"))
      .persist(MEMORY_AND_DISK)
    var handle = labels
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val prop = e.join(labels.withColumnRenamed("id", "y2"), col("y") === col("y2"))
        .select(col("x").as("id"), col("cluster"),
          lit(null).cast("long").as("prev"))
      val next = labels.select(col("id"), col("cluster"), col("cluster").as("prev"))
        .unionAll(prop)
        .groupBy("id").agg(min(col("cluster")).as("cluster"), min(col("prev")).as("prev"))
        .persist(MEMORY_AND_DISK)
      // Labels only decrease (the old label is in the union), so the
      // count scans every partition — caching next — and counts movers
      // in the same single action.
      changed = next.filter(col("cluster") < col("prev")).count()
      handle.unpersist(blocking = false)
      handle = next
      labels = next.select("id", "cluster")
      it += 1
    }
    e.unpersist(blocking = false)
    if (changed > 0) {
      handle.unpersist(blocking = false)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIter iterations ($changed labels still moving) — " +
          "a component's diameter exceeds maxIter; raise it to cover the longest duplicate chain")
    }
    graft.core.Materialize.drained(labels, handle)
  }

  /** Apply cluster resolution: keep every document that is its own
    * cluster keeper (or belongs to no cluster). One broadcast-able
    * anti-join against the non-keeper id set — the final "write the
    * deduplicated corpus" step. */
  def keepAfterDedup(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val drop = clusters.filter(col("id") =!= col("cluster")).select(col("id"))
    docs.join(drop, docs(idCol) === drop("id"), "left_anti")
  }

  /** Exact duplicate groups: digest → group size + keeper (min id). */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keeper"))
      .filter(col("cnt") > 1)

  /** Cross-document duplicated n-gram statistics — the exact-substring
    * half of training-data dedup (the "dedup by duplicated spans"
    * family): a document whose text is mostly n-grams that also occur
    * in OTHER documents is a near-copy even when no whole-text hash
    * matches and MinHash similarity sits below the pair threshold.
    *
    * Granularity is the DISTINCT n-gram: per document, the share of
    * its distinct n-grams that occur in ≥2 distinct documents, as ×1e4
    * integer basis points (no float division crosses engines). Output:
    * (id, n_grams, n_dup_grams, dup_bps).
    *
    * Scale shape: one shingle scan (codegen'd WordShingles), grams
    * digested to the fixed-width 64-bit xxhash BEFORE the shuffle (the
    * shuffle carries 8-byte keys, not arbitrary-length text), one hash
    * aggregate for document frequencies, one equi-join back on the
    * digest, one per-doc aggregate. Never all-pairs; the frequency
    * table has vocabulary cardinality, same as the postings index. */
  def ngramSpanStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // r20: digest with the 8-byte xxhash64 instead of 32-char md5 hex
    // (the verify-stage idiom — same negligible-collision contract,
    // the digest never leaves this query), and cache the digested
    // shingle relation for its TWO consumers (frequency aggregate +
    // join-back) instead of re-running the shingle scan per consumer.
    val g = shingles(docs, idCol, textCol, n)
      .select(col("id"), xxhash64(col("sh")).as("gh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = g.groupBy("gh").agg(count(lit(1)).as("ndocs"))
    graft.core.Materialize.drained(
      g.join(freq, "gh")
        .groupBy("id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
        .withColumn("dup_bps", expr("n_dup_grams * 10000 DIV n_grams")),
      g)
  }

  /** Exact duplicated-SUBSTRING spans at character granularity — the
    * suffix-array-family complement of [[ngramSpanStats]] (word grams,
    * per-doc ratios): emit every MAXIMAL span whose text participates
    * in a verbatim repeat of ≥ `minLen` characters anywhere in the
    * corpus (including elsewhere in the same document) — the published
    * standard for verbatim-contamination removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", which
    * builds a suffix array for exactly this query).
    *
    * Reduction that makes it exact: a duplicated substring of length
    * ≥ L covers starts whose length-L windows are all duplicated, and
    * any duplicated L-window is itself a ≥L duplicate — so the union
    * of duplicated-L-window starts, merged into islands (consecutive
    * starts ≤ L apart), IS the set of maximal duplicated spans. The
    * property spec proves this against an in-memory suffix array + LCP
    * reference on random corpora.
    *
    * Scale shape — PREFIX DOUBLING OVER DIGESTED SUFFIXES, the
    * distributed suffix-array construction specialised to equality
    * (ranks exist only to compare; for duplicate detection a 64-bit
    * digest compares for free, so the sort-based re-ranking each round
    * drops out):
    *  - positions explode ONCE into overlap blocks of `blockChars`:
    *    a position's digest chain looks ahead at most L-1 chars, so
    *    each block carries the next block's first L-1 positions as
    *    context rows and every block computes INDEPENDENTLY — bounded
    *    partitions, no giant-document skew, and the whole chain rides
    *    one exchange (partition by (doc, block));
    *  - round k is one window `lead(d, 2^(k-1))`:
    *    d_k(i) = xxhash64(d_(k-1)(i), d_(k-1)(i + 2^(k-1))) — the
    *    doubling recurrence over 8-BYTE DIGESTS; the corpus never
    *    materializes L-byte grams (the naive gram pipeline hashes
    *    O(n·L) bytes; this hashes O(n·log L) fixed-width pairs);
    *  - the exact-L key is the classic sparse-table O(1) comparison:
    *    key(i) = xxhash64(d_K(i), d_K(i + L - 2^K)), 2^K ≤ L < 2^(K+1);
    *    nulls propagate so suffixes shorter than L key as null;
    *  - ONE corpus-wide aggregate marks keys occurring ≥ 2 times, an
    *    equi-join back selects duplicated starts (duplication-sized,
    *    sparse), and a per-doc gaps-and-islands window merges them.
    *
    * Characters are UTF-16 code units (`split("")`) — identical to
    * code points on ASCII/BMP text; the oracle-gated fixture filters
    * to ASCII so both engines index identically. Collision risk of the
    * 64-bit digests is n²/2^64 — immaterial below ~10^8 positions per
    * digest domain, and keyed per round.
    *
    * Output (id, span_start 1-based, span_end exclusive, span_len,
    * n_dup_windows). */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, blockChars: Int = 4096): DataFrame = {
    require(minLen >= 2 && minLen <= (1 << 20),
      s"duplicateSpans: minLen=$minLen out of [2, 2^20]")
    require(blockChars >= minLen,
      s"duplicateSpans: blockChars=$blockChars must be >= minLen=$minLen")
    import org.apache.spark.sql.expressions.Window
    val K = 63 - java.lang.Long.numberOfLeadingZeros(minLen.toLong) // 2^K <= L
    val half = 1L << K
    val tail = minLen - half // L - 2^K, in [0, 2^K)
    // one explode: (id, pos 1-based, ch) × the 1–2 blocks that need it
    // (home block, plus the PREVIOUS block when pos falls in its
    // look-ahead context window)
    val b = lit(blockChars.toLong)
    val positions = docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "")).as(Seq("p0", "ch")))
      .select(col("id"), (col("p0") + 1L).as("pos"), col("ch"),
        expr(s"CAST(p0 div $blockChars AS BIGINT)").as("home"))
      .select(col("id"), col("pos"), col("ch"), col("home"),
        explode(when(col("home") > 0 && (col("pos") - lit(1L)) % b < lit(minLen.toLong - 1L),
          array(col("home"), col("home") - 1L)).otherwise(array(col("home")))).as("blk"))
    val w = Window.partitionBy("id", "blk").orderBy("pos")
    // doubling rounds d_0 .. d_K over the block window; a null lead
    // means the window runs off the block's context — for HOME rows
    // that only happens when the suffix itself is shorter than 2^k
    val d0 = positions.withColumn("d", xxhash64(col("ch")))
    val dK = (1 to K).foldLeft(d0) { (df, k) =>
      val h = 1L << (k - 1)
      df.withColumn("d",
        when(lead(col("d"), h.toInt).over(w).isNotNull,
          xxhash64(col("d"), lead(col("d"), h.toInt).over(w))))
    }
    // sparse-table combine to the exact-L key, home rows only.
    // r20: the keyed relation feeds TWO consumers (the corpus-wide
    // duplicate-count aggregate and the join-back) and its lineage is
    // the whole K-round doubling window chain over every character
    // position — cache it once for the single materializing run
    // instead of running the doubling twice (scoped Materialize
    // lifecycle; the result is the sparse span list).
    val keyed = dK
      .withColumn("lkey",
        if (tail == 0L) col("d")
        else when(lead(col("d"), tail.toInt).over(w).isNotNull,
          xxhash64(col("d"), lead(col("d"), tail.toInt).over(w))))
      .filter(col("blk") === col("home") && col("lkey").isNotNull)
      .select(col("id"), col("pos"), col("lkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus-wide duplicate marking: keys seen >= 2 times (any doc,
    // multiplicity counted — a within-doc repeat duplicates too)
    val dup = keyed.groupBy("lkey").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("lkey")
    val marked = keyed.join(dup, Seq("lkey")).select("id", "pos")
    // gaps-and-islands over the (sparse, duplication-sized) marked
    // starts: windows [i, i+L) touching or overlapping merge
    val wDoc = Window.partitionBy("id").orderBy("pos")
    graft.core.Materialize.drained(
      marked
        .withColumn("brk", when(lag(col("pos"), 1).over(wDoc).isNull ||
          col("pos") - lag(col("pos"), 1).over(wDoc) > minLen.toLong, 1L)
          .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(
          wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("id", "island")
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + minLen.toLong).as("span_end"),
          count(lit(1)).as("n_dup_windows"))
        .select(col("id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start")).as("span_len"),
          col("n_dup_windows")),
      keyed)
  }

  /** Content-defined chunking (CDC) duplicate detection — the
    * SHIFT-INVARIANT member of the exact-dedup family: split every
    * document at positions where a keyed rolling-window hash lands on
    * a fixed residue (boundary ⟺ h(text[i-w+1..i]) ≡ 0 mod divisor,
    * plus the document tail), then dedup CHUNKS by content digest.
    * Because boundaries depend only on local content, a copy with
    * inserted/prepended bytes re-synchronizes at the first shared
    * boundary and all later chunks hash identically — the duplicates
    * that fixed-offset blocking structurally misses (the rsync/LBFS/
    * FastCDC principle, applied to corpus dedup).
    *
    * Scale shape: the boundary scan is ONE narrow generate→project→
    * filter stage (positions with their w-char windows exist only
    * inside the generator stage — nothing corpus×w ever shuffles;
    * only the sparse boundary rows, ~len/divisor per doc, reach the
    * exchange); chunk assembly is a per-doc lag window over those
    * sparse rows plus one equi-join back for the chunk slices; chunk
    * dedup is one hash aggregate on the digest. Expected chunk length
    * = `divisor` chars. All hashing is the keyed md5 construction, so
    * the oracle reproduces boundaries and digests bit-for-bit.
    *
    * Output: duplicated chunks only — (id, chunk_start 1-based,
    * chunk_len, chunk_hash, n_docs) where n_docs = distinct docs
    * sharing the chunk content (≥ 2). */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 16, divisor: Long = 64L): DataFrame = {
    require(window >= 4 && window <= 256, s"cdcChunks: window=$window")
    require(divisor >= 2, s"cdcChunks: divisor=$divisor")
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    // r21: boundary detection is the CdcBoundaries kernel — one call
    // per document instead of one exploded row (and one
    // md5→hex→substring→conv chain) per CHARACTER of the corpus; the
    // kernel emits only the qualifying end positions, value-identical
    // to the old explode+filter (Md5KernelsSpec pins it). Docs shorter
    // than the window emit nothing from the kernel and contribute only
    // their tail boundary (the unionAll below), as before.
    val bpos = base
      .select(col("id"),
        explode(graft.functions.F.toColumn(graft.functions.CdcBoundaries(
          graft.functions.F.toExpr(col("text")), window, divisor))).as("b"))
      .unionAll(base.filter(length(col("text")) > 0)
        .select(col("id"), length(col("text")).cast("long").as("b")))
      .distinct()
    val w = Window.partitionBy("id").orderBy("b")
    val chunks = bpos
      .withColumn("cstart", coalesce(lag(col("b"), 1).over(w), lit(0L)) + 1L)
      .join(base, Seq("id"))
      .select(col("id"), col("cstart").as("chunk_start"),
        (col("b") - col("cstart") + 1L).as("chunk_len"),
        md5(expr("substring(text, CAST(cstart AS INT), CAST(b - cstart + 1 AS INT))"))
          .as("chunk_hash"))
    // r20: the chunk relation feeds the shared-count aggregate AND the
    // join-back, and its lineage (boundary generator + lag window +
    // text join + per-chunk md5) re-executed per consumer — cache it
    // once for the single materializing run (scoped lifecycle; the
    // cached rows are the sparse ~len/divisor boundary chunks, not the
    // corpus text).
    val chunksC = chunks
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = chunksC.groupBy("chunk_hash")
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
    graft.core.Materialize.drained(
      chunksC.join(shared, Seq("chunk_hash"))
        .select(col("id"), col("chunk_start"), col("chunk_len"),
          col("chunk_hash"), col("n_docs")),
      chunksC)
  }

  /** 16-bit SimHash per document: token-occurrence weighted bit votes.
    * Narrow map + one groupBy(doc) carrying 16 small sums. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String,
      cjkAware: Boolean = false): DataFrame = {
    val src = if (cjkAware) cjkSpaced(col(textCol)) else col(textCol)
    val toks = docs
      .select(col(idCol).as("id"), explode(split(src, " ")).as("tok"))
      .select(col("id"), hash32(col("tok"), "sh").as("h"))
    val votes = toks.groupBy("id")
      .agg(sum(when(expr("(h >> 0) & 1") === 1, 1).otherwise(-1)).as("s0"),
        (1 until 16).map(b =>
          sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b")): _*)
    votes.select(col("id"),
      (0 until 16).map(b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /** 64-bit SimHash per document: bits 0–31 vote with one 32-bit token
    * hash, bits 32–63 with a second independently-salted one. Same
    * narrow-map + one-groupBy shape as [[simhash16]], just 64 small
    * sums wide; bit 63's weight is `Long.MinValue`, so the bit-sum
    * reconstruction is exact two's-complement (no overflow on either
    * engine — the remaining bits sum below 2^63). */
  def simhash64(docs: DataFrame, idCol: String, textCol: String,
      cjkAware: Boolean = false): DataFrame = {
    val src = if (cjkAware) cjkSpaced(col(textCol)) else col(textCol)
    val toks = docs
      .select(col(idCol).as("id"), explode(split(src, " ")).as("tok"))
      .select(col("id"), hash32(col("tok"), "sh64a").as("h1"),
        hash32(col("tok"), "sh64b").as("h2"))
    def vote(src: String, b: Int, out: Int) =
      sum(when(expr(s"($src >> $b) & 1") === 1, 1).otherwise(-1)).as(s"s$out")
    val votes = toks.groupBy("id").agg(vote("h1", 0, 0),
      ((1 until 32).map(b => vote("h1", b, b)) ++
        (0 until 32).map(b => vote("h2", b, b + 32))): _*)
    votes.select(col("id"),
      (0 until 64).map(b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
        .as("simhash"))
  }

  /** Persistable MinHash state for incremental ingest: one row per
    * document, `k` signature columns m0..m{k-1} — k longs per doc, so
    * the state table for a 100 TB corpus is gigabytes, not terabytes.
    * Write this to parquet once; every future batch dedups against it
    * without touching old text. */
  def minhashState(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, cjkAware: Boolean = false): DataFrame =
    minhashSignatures(
      if (cjkAware) shinglesCjk(docs, idCol, textCol)
      else shingles(docs, idCol, textCol), k)

  /** Incremental near-dup ingest — the realistic shape at corpus
    * scale: a new batch is checked against the EXISTING corpus via its
    * compact signature state ([[minhashState]]), never by reprocessing
    * old text. Candidates are (old∪new) × new band matches — old×old
    * never re-pairs — and similarity is the standard MinHash estimate
    * (matching signature components / k, exact-integer scaled ×1e4),
    * so old shingle sets are never needed. Doc-id spaces of state and
    * batch must be disjoint.
    *
    * Output (a, b, est_x1e4): b is always a new doc; for new×new
    * pairs a < b. Candidates are [[Candidates.incrementalPairs]]: the
    * per-bucket cap counts the UNION's band table (a bucket hot across
    * corpus+batch is just as quadratic as one hot within a single
    * run); no Σ bn² budget applies. Append `minhashState(newDocs)` to
    * the state table afterwards — the two steps share the batch's
    * signature scan under one persist if the caller caches it. */
  def incrementalDupPairs(state: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.5): DataFrame =
    incrementalDupPairsFromSigs(state,
      minhashState(newDocs, idCol, textCol, k), k, bands, threshold)

  /** [[incrementalDupPairs]] with the batch's signatures already in
    * hand — the streaming path computes them once and feeds BOTH this
    * pair search and the state-version append from the same relation. */
  def incrementalDupPairsFromSigs(state: DataFrame, newSigs: DataFrame,
      k: Int = 8, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val allSigs = state.unionByName(newSigs)
    val cand = Candidates.incrementalPairs(digestBands(lshBands(state, k, bands)),
      digestBands(lshBands(newSigs, k, bands)), Seq("bk"))
    val matches = (0 until k)
      .map(i => when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(allSigs.as("sa"), col("sa.id") === col("a"))
      .join(newSigs.as("sb"), col("sb.id") === col("b"))
      .select(col("a"), col("b"),
        (matches.cast("long") * 10000L).as("_m10k"))
      .select(col("a"), col("b"),
        expr(s"_m10k div $k").as("est_x1e4"))
      .filter(col("est_x1e4") >= (threshold * 10000).toLong)
  }

  /** SimHash near-duplicate pairs via banded Hamming search — the
    * scale path that makes the fingerprint useful: the 64-bit simhash
    * splits into four 16-bit bands, candidates are pairs sharing ≥1
    * band value (equi-self-join, never all-pairs), and candidates are
    * verified with an exact popcount on the XOR. By pigeonhole, a pair
    * within `maxBits ≤ 3` differing bits cannot miss all four bands,
    * so for the default threshold the banded result is EXACTLY the
    * brute-force result (SimhashSpec property-checks this); above 3
    * bits the bands become a recall filter, documented not hidden.
    *
    * Candidates come from [[bandedHammingPairs]], whose band values
    * carry the [[Candidates]] per-bucket cap (no Σ bn² budget).
    * Output (a, b, dist), a < b. */
  def simhashBandedPairs(docs: DataFrame, idCol: String, textCol: String,
      maxBits: Int = 3, cjkAware: Boolean = false): DataFrame =
    // r20: the banded kernel consumes its signature input three times
    // (cap aggregate + both self-join arms) and the simhash subtree is
    // a full shingle scan + 64-sum vote aggregate — cache the 2-long
    // signature rows once for the single materializing run instead of
    // scanning the corpus per consumer (the before-plan carried the
    // shingle Generate 16 times). Scoped Materialize lifecycle.
    graft.core.Materialize.withCached(
      simhash64(docs, idCol, textCol, cjkAware)
        .select(col("id"), col("simhash").as("sig"))) { s =>
      bandedHammingPairs(s, maxBits)
    }

  /** Banded Hamming-radius self-join over ANY 64-bit signature column
    * — the shared kernel under [[simhashBandedPairs]] (text simhash)
    * and [[Multimodal.ahashNearDupPairs]] (image perceptual hash).
    * Input (id, sig); output (a, b, dist) with a < b and
    * dist = popcount(sig_a XOR sig_b) ≤ maxBits. Four 16-bit bands →
    * pairs within 3 bits cannot miss every band (pigeonhole), so the
    * default radius is exact; the [[Candidates]] per-bucket cap drops
    * degenerate band values (e.g. the all-black-image band) before the
    * join. */
  def bandedHammingPairs(sigs: DataFrame, maxBits: Int = 3): DataFrame = {
    require(maxBits >= 0 && maxBits <= 63, s"maxBits=$maxBits")
    // Lazy and pure by contract (plan-shape specs compose over it);
    // the band relation is consumed three times (cap aggregate + both
    // self-join arms), so CALLERS whose signature subtree is expensive
    // should hand in a cached `sigs` — [[simhashBandedPairs]] does
    // (its shingle scan is the whole query's cost), and the banded
    // explode itself is a 4-row narrow fan-out of two longs per doc.
    val bands = sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          expr(s"(sig >> ${16 * b}) & 65535").as("v"))): _*)).as("bv"))
      .select(col("id"), col("sig"),
        col("bv.band").as("band"), col("bv.v").as("v"))
    Candidates.selfPairs(bands, Seq("band", "v"),
        Seq(bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("dist")))
      .filter(col("dist") <= maxBits)
  }
}

package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.core.Tables
import graft.llm.Dedup

/** Oracle-checked dedup queries over `documents`.
  *
  * The corpus fixture doubles the table: originals plus a shifted copy
  * where every 50th doc is an exact duplicate and the rest get one
  * appended token (near-duplicates with high shingle Jaccard) — so both
  * the exact and the near-dup paths have known positives, reproducible
  * in SQL on both engines.
  */
object DedupPack extends QueryPack {

  private[graft] val K = 8
  private[graft] val BANDS = 4

  /** Σ bucket² verify budget for the CJK arm (the graft.llm.Candidates
    * scaladoc): the constant Korean phrases dominate enough band
    * keys that, at 10× the bench fixture, the capped buckets still
    * summed to Σ bn² = 30.8M (13M candidate pairs, ~4.3B verify rows —
    * OOM in the default 8 GiB bench JVM). 2M keeps the smallest size
    * classes up to s*; at sf0.1 and below the whole histogram fits
    * (sf0.1 measures Σ bn² = 323,376, max bucket 366), so the budget
    * NEVER fires at the driver's scale factors and those results are
    * byte-identical to the unbudgeted algebra — the oracle twin
    * mirrors the s* selection arm for arm either way. */
  private[graft] val CjkVerifyBudget = 2000000L

  /** Spaceless Korean phrases + a one-syllable near-dup plant for the
    * CJK dedup arm — under [[Dedup.cjkSpaced]] each syllable is its
    * own token, so the appended syllable is the CJK form of the
    * one-extra-token (' zzz9') near-duplicate. */
  private val cjkPhraseA = " 대규모 말뭉치 데이터정제파이프라인"
  private val cjkPhraseB = " 한국어 토크나이저 중복제거엔진"
  private val cjkExtra = "갑"

  /** 36-codepoint Korean span planted verbatim in two extra docs for
    * the exact-substring mixed-script arm (>= minLen 30). */
  private val cjkSpan = "반복되는 한국어 평문 구간이 말뭉치 전체에 그대로 복제되어 있다 "

  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    d.select(col("doc_id").as("id"), col("text"))
      .unionAll(d.select((col("doc_id") + 1000000).as("id"),
        when(col("doc_id") % 50 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zzz9"))).as("text")))
  }

  /** Mixed Korean/ASCII doubled corpus: every doc gains a spaceless
    * Korean phrase; the shifted copy appends one Hangul syllable
    * (near-dup under codepoint tokenization) except every 50th
    * (verbatim). Mirror of [[corpusCjkSql]]. */
  private[graft] def corpusCjk(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val ko = when(col("doc_id") % 2 === 0, lit(cjkPhraseA)).otherwise(lit(cjkPhraseB))
    d.select(col("doc_id").as("id"), concat(col("text"), ko).as("text"))
      .unionAll(d.select((col("doc_id") + 1000000).as("id"),
        concat(col("text"), ko,
          when(col("doc_id") % 50 === 0, lit(""))
            .otherwise(lit(" " + cjkExtra))).as("text")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDupGroups(corpus(s, dir), "id", "text").orderBy("h")),
    // Leak-free callback form: the verified pairs materialize inside
    // the callback (the action the contract requires) and the internal
    // shingle cache is released before the query returns — nothing
    // stays in the CacheManager after the gate's action.
    "dedup_minhash" -> ((s, dir) =>
      Dedup.withMinhashDupPairs(corpus(s, dir), "id", "text", K, BANDS, 0.5) {
        pairs => graft.core.Materialize.drained(pairs.orderBy("a", "b"))
      }),
    // CJK arm (r20): a mixed Korean/ASCII corpus with planted
    // near-dups — copies differ by ONE appended Hangul syllable,
    // which is one extra TOKEN only under the cjkAware codepoint
    // pre-spacing (Dedup.cjkSpaced); a space-split shingler would
    // fold the whole spaceless phrase into one word and the near-dup
    // signal would ride on the ASCII text alone. Same banded
    // pipeline, same leak-free callback form.
    "dedup_minhash_cjk" -> ((s, dir) =>
      Dedup.withMinhashDupPairs(corpusCjk(s, dir), "id", "text", K, BANDS,
        0.5, cjkAware = true, verifyBudget = CjkVerifyBudget) {
        pairs => graft.core.Materialize.drained(pairs.orderBy("a", "b"))
      }),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash16(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("id")),
    // Incremental ingest: the originals are the standing corpus (as a
    // compact signature state), the shifted copies arrive as the new
    // batch — pairs are (corpus ∪ batch) × batch only, similarity is
    // the integer-exact k-component MinHash estimate. Old ids all sit
    // below the batch's +1000000 shift, so the oracle's a<b ∧ b≥1e6
    // restriction is exactly the operator's old×new ∪ new×new set.
    "dedup_incremental" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val old = d.select(col("doc_id").as("id"), col("text"))
      val batch = d.select((col("doc_id") + 1000000).as("id"),
        when(col("doc_id") % 50 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zzz9"))).as("text"))
      Dedup.incrementalDupPairs(
          Dedup.minhashState(old, "id", "text", K), batch, "id", "text",
          K, BANDS, 0.5)
        .orderBy("a", "b")
    }),
    // The STREAMING twin of dedup_incremental: same corpus, same batch
    // of shifted copies, but delivered as a real file-source stream in
    // two micro-batches through DocsStream's versioned-state
    // foreachBatch loop. Union of per-batch emissions must equal the
    // single-shot result — so it shares the single-shot oracle SQL.
    "dedup_incremental_stream" -> ((s, dir) =>
      graft.streaming.DocsStream.incrementalDedupViaFileSink(s, dir)),
    // Banded Hamming near-dup over the doubled corpus: the appended-
    // token copies land within a few simhash bits of their originals,
    // the band self-join finds them without an all-pairs pass, and the
    // popcount verify keeps dist <= 3 (where banding is lossless by
    // pigeonhole). The oracle mirrors the band algebra arm for arm,
    // cap included.
    "dedup_simhash_banded" -> ((s, dir) =>
      Dedup.simhashBandedPairs(corpus(s, dir), "id", "text")
        .orderBy("a", "b")),
    // Pair→cluster resolution: connected components over a chain-shaped
    // pair list ((d, d+1) for doc_id % 10 < 3 → components of diameter
    // 3), so the gate exercises real multi-hop label propagation, not
    // just pair mirroring. Cluster = min member id (the keeper).
    "dedup_clusters" -> ((s, dir) => {
      val pairs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .filter(col("a") % 10 < 3)
      Dedup.dupClusters(pairs).orderBy("id")
    }),
    // The applied result: documents surviving cluster resolution
    // (keepers + never-paired docs) — the deduplicated corpus itself.
    "dedup_apply" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .filter(col("a") % 10 < 3)
      Dedup.keepAfterDedup(d, "doc_id", Dedup.dupClusters(pairs))
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Exact duplicated-span detection (the Lee-et-al-style exact
    // substring half of training-data dedup): per doc, the share of
    // its distinct 3-grams occurring in >= 2 documents — catches
    // template/boilerplate near-copies that sit below the MinHash
    // pair threshold. Grams are md5-digested BEFORE the shuffle.
    "dedup_ngram_spans" -> ((s, dir) =>
      Dedup.ngramSpanStats(Tables.load(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Exact duplicated-substring SPANS >= 30 chars via prefix doubling
    // over digested suffixes (Dedup.duplicateSpans — the suffix-array
    // construction specialised to equality): maximal verbatim-repeat
    // regions at character granularity, the Lee et al. 2022 semantics.
    // blockChars=256 exercises the overlap-block segmentation at gate
    // scale (the giant-document skew defence). The r20 mixed-script
    // arm plants a 36-codepoint Korean span shared by two extra docs:
    // positions come from split('') / string_split('') — CODEPOINT
    // indexed on both engines — so a verbatim CJK repeat must span-
    // detect exactly like ASCII, no fence needed.
    "dedup_exact_substring" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val corpus = d.filter(col("text").rlike("^[\\x20-\\x7E]*$"))
        .select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") < 2)
          .select((col("doc_id") + 9000000L).as("doc_id"),
            concat(lit(cjkSpan), col("text")).as("text")))
      Dedup.duplicateSpans(corpus, "doc_id", "text", minLen = 30,
          blockChars = 256)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_start")
    }),
    // The APPLIED release filter over the span family — the char-exact
    // analogue of dedup_ngram_prune: per doc, duplicated-character
    // share (Σ maximal-span lengths / doc length, ×1e4 bp) and the
    // ≥5000 bp flag a curation run acts on before writing shards.
    "dedup_span_prune" -> ((s, dir) => {
      // length > 0: the ASCII rlike matches the empty string, and an
      // empty doc would make the `div n_chars` below null (or throw
      // under ANSI) while the DuckDB `// length` errors outright.
      val d = Tables.load(s, dir, "documents")
        .filter(col("text").rlike("^[\\x20-\\x7E]*$") && length(col("text")) > 0)
      val per = Dedup.duplicateSpans(d, "doc_id", "text",
          minLen = 30, blockChars = 256)
        .groupBy(col("id").as("doc_id"))
        .agg(sum(col("span_len")).as("dup_chars"))
      d.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .join(per, Seq("doc_id"), "left")
        .na.fill(0L, Seq("dup_chars"))
        .withColumn("dup_bps", expr("dup_chars * 10000L div n_chars"))
        .withColumn("flagged", col("dup_bps") >= 5000L)
        .orderBy("doc_id")
    }),
    // Content-defined chunking (Dedup.cdcChunks) over a fixture built
    // to DEFEAT fixed-offset blocking: every 5th doc reappears with a
    // shifted prefix, so only content-defined boundaries re-align the
    // copies' chunks with the originals'.
    "dedup_cdc_chunks" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .filter(col("text").rlike("^[\\x20-\\x7E]*$"))
      val c = d.select(col("doc_id").as("id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000).as("id"),
            concat(lit("SHIFTED-PREFIX >> "), col("text")).as("text")))
      Dedup.cdcChunks(c, "id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_start")
    }),
    // The applied corpus filter: per-source kept/flagged counts at the
    // >= 8000 bps duplicated-gram threshold — the release-gate summary
    // a curation run reports before writing shards.
    "dedup_ngram_prune" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val stats = Dedup.ngramSpanStats(d, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
      d.select(col("doc_id"), col("source"))
        .join(stats, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dup_bps") >= 8000, 1L).otherwise(0L)).as("n_flagged"))
        .withColumn("n_kept", col("n_docs") - col("n_flagged"))
        .orderBy("source")
    }),
    // C4-style LINE-level corpus dedup (Dedup.lineDedup): keep the
    // globally-first occurrence of every distinct line, drop repeats
    // everywhere, reassemble docs in order. Fixture: docs sentence-ized
    // into 8-word chunks joined by '. ' (the corpus is single-line
    // word soup), then every 10th doc duplicated wholesale — its
    // copy must come back with every line dropped, while natural
    // cross-doc chunk repeats resolve identically on both engines.
    "dedup_lines" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val words = split(col("text"), " ")
      val chunked = d.select(col("doc_id"),
        array_join(transform(
          sequence(lit(0), ((size(words) - 1) / 8).cast("int")),
          i => array_join(slice(words, i * 8 + 1, lit(8)), " ")), ". ").as("text"))
      val corpus = chunked.unionAll(
        chunked.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.lineDedup(corpus, "doc_id", "text", ". ")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // C4's ACTUAL grain (Raffel et al. 2020 §2.2): three-sentence-SPAN
    // dedup (Dedup.spanDedup) — only repeats of a full 3-sentence run
    // drop, isolated repeated sentences survive. Fixture: the chunked
    // corpus plus (a) wholesale copies of every 10th doc — every span
    // duplicates, the copy empties — and (b) a variant of every 7th
    // doc embedding the original's first 4 chunks between unique
    // intro/outro sentences: the embedded run duplicates ACROSS the
    // variant's own line boundaries (2 spans covering 4 sentences
    // drop; intro and outro survive), the cross-line-boundary case
    // the line grain cannot express.
    "dedup_spans3" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val words = split(col("text"), " ")
      val chunked = d.select(col("doc_id"),
        array_join(transform(
          sequence(lit(0), ((size(words) - 1) / 8).cast("int")),
          i => array_join(slice(words, i * 8 + 1, lit(8)), " ")), ". ").as("text"))
      val parts = split(col("text"), java.util.regex.Pattern.quote(". "))
      val corpus = chunked
        .unionAll(chunked.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        .unionAll(chunked.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(lit("zz intro. "), array_join(slice(parts, 1, 4), ". "),
              lit(". qq outro")).as("text")))
      Dedup.spanDedup(corpus, "doc_id", "text", ". ")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // PPJoin-style prefix filtering (Dedup.prefixFilterPairs): the
    // LOSSLESS high-threshold near-dup join — candidates from an
    // equi-join on rare-first prefix tokens, verified by exact
    // digest-keyed Jaccard. Finds the original↔shifted-copy pairs
    // with zero probabilistic recall loss; the oracle mirrors the
    // freq-rank/prefix/cap algebra arm for arm. The gate runs on
    // 5-gram shingles at tau=0.8: prefix filtering lives off token
    // rarity, and this fixture's 31-word vocabulary makes every
    // 3-gram a hot token — 5-grams restore a sparse posting space
    // (the realistic regime; a Zipfian corpus gives it for free),
    // and the copies sit at Jaccard ~0.97, far above the threshold.
    "dedup_prefix_pairs" -> ((s, dir) =>
      graft.core.Materialize.withCached(
        Dedup.shingles(corpus(s, dir), "id", "text", n = 5)) { sh =>
        Dedup.prefixFilterPairs(sh, 8000L).orderBy("a", "b")
      }),
    // Cluster-size telemetry over the resolved duplicate components —
    // the release-report histogram (how many pairs, triples, … did
    // dedup collapse): two tiny aggregates on top of the cluster
    // labels; the corpus-sized work is all in dupClusters itself.
    "dedup_cluster_sizes" -> ((s, dir) => {
      val pairs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .filter(col("a") % 10 < 3)
      Dedup.dupClusters(pairs)
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    }),
    // Cross-corpus fuzzy DECONTAMINATION (Dedup.crossCorpusPairs): the
    // eval corpus is every 7th doc with one appended token — each must
    // pull its lightly-edited train original out through the bipartite
    // band join; the per-train-doc verdict is the drop list.
    "dedup_cross_corpus" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val train = d.select(col("doc_id").as("id"), col("text"))
      val eval = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("id"),
          concat(col("text"), lit(" zzz9")).as("text"))
      Dedup.crossCorpusPairs(train, eval, "id", "text", K, BANDS, 5000L)
        .groupBy(col("a").as("doc_id"))
        .agg(count(lit(1)).as("n_eval_matches"),
          max(col("jacc_x1e4")).as("max_jacc_x1e4"))
        .orderBy("doc_id")
    }),
    // Blocking-quality telemetry (the record-linkage release report):
    // reduction ratio (how many of the C(n,2) comparisons blocking
    // eliminated) and verification yield (what fraction of candidates
    // were real) over the SAME banded pipeline as dedup_minhash — the
    // two counters that justify a blocking scheme, computed without
    // ever materializing the quadratic pair space.
    "dedup_blocking_metrics" -> ((s, dir) => {
      val c = corpus(s, dir)
      graft.core.Materialize.withCached(
        Dedup.shingles(c, "id", "text")) { sh =>
        // ONE pipeline (the r15 4.98x-breach fix, r16 final form):
        // jaccardAll keeps every candidate pair (jacc 0 for empty
        // intersections), so n_candidates AND n_verified fall out of
        // a single aggregate over a single plan — `cand` is
        // referenced exactly once, so no branch scheduling order can
        // ever recompute the LSH candidate generation, and nothing
        // needs eager materialization. The only other branch is the
        // corpus row count.
        val cand = Dedup.lshCandidates(
          Dedup.lshBands(Dedup.minhashSignatures(sh, K), K, BANDS))
        val stats = Dedup.jaccardAll(cand, sh)
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("jacc_x1e4") >= 5000, 1L).otherwise(0L)).as("n_verified"))
        c.agg(count(lit(1)).as("n_docs"))
          .crossJoin(stats)
          .select(col("n_docs"),
            expr("n_docs * (n_docs - 1) div 2").as("n_total_pairs"),
            col("n_candidates"), col("n_verified"))
          .withColumn("reduction_x1e6",
            expr("(n_total_pairs - n_candidates) * 1000000L div n_total_pairs"))
          .withColumn("yield_x1e6",
            expr("CASE WHEN n_candidates = 0 THEN 0L " +
              "ELSE n_verified * 1000000L div n_candidates END"))
      }
    }),
    // MEASURED RECALL of the banded MinHash path against exact ground
    // truth — the honest quality gate for the approximate pipeline
    // (the LSH twin of ann_ivf_recall): on a BOUNDED sub-corpus where
    // exact truth is computable, truth = all pairs with jaccard ≥ τ
    // (complete via the shared-shingle join — a τ>0 pair must share a
    // shingle), found = the production banded pipeline's verified
    // pairs (a subset of truth by construction, since verification
    // applies the same exact jaccard). One scalar row:
    // (n_true, n_found, recall_x1e4).
    "dedup_minhash_recall" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").filter(col("doc_id") < 150)
      val c = d.select(col("doc_id").as("id"), col("text"))
        .unionAll(d.select((col("doc_id") + 1000000).as("id"),
          when(col("doc_id") % 50 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" zzz9"))).as("text")))
      graft.core.Materialize.withCached(
        Dedup.shingles(c, "id", "text")) { sh =>
        val truth = Dedup.jaccard(
          sh.as("x").join(sh.as("y"),
              col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
            .select(col("x.id").as("a"), col("y.id").as("b")).distinct(), sh)
          .filter(col("jacc_x1e4") >= 5000)
        val found = Dedup.jaccard(
          Dedup.lshCandidates(
            Dedup.lshBands(Dedup.minhashSignatures(sh, K), K, BANDS)), sh)
          .filter(col("jacc_x1e4") >= 5000)
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(found.agg(count(lit(1)).as("n_found")))
          .select(col("n_true"), col("n_found"),
            expr("n_found * 10000L div n_true").as("recall_x1e4"))
      }
    }),
    // Standalone exact n-gram Jaccard over a given pair list (the
    // known original↔shifted-copy pairs) — the verification primitive
    // of the LSH pipeline, gated directly.
    "text_ngram_jaccard" -> ((s, dir) => {
      val pairs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("a"), (col("doc_id") + 1000000).as("b"))
      // jaccard scans the shingle relation once (the r16 single-scan
      // kernel); the cache still saves the signature pipeline's reuse.
      graft.core.Materialize.withCached(
        Dedup.shingles(corpus(s, dir), "id", "text")) { sh =>
        Dedup.jaccard(pairs, sh).orderBy("a")
      }
    }),
    // Asymmetric containment — the sub-document/quote-reuse signal:
    // each doubled doc embeds its original plus a tail, so the
    // original's shingles are (near-)fully contained in the copy
    // while Jaccard alone under-reads the relationship. Same
    // candidates-only shape as the Jaccard gate.
    "text_ngram_containment" -> ((s, dir) => {
      val pairs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("a"), (col("doc_id") + 1000000).as("b"))
      graft.core.Materialize.withCached(
        Dedup.shingles(corpus(s, dir), "id", "text")) { sh =>
        Dedup.containment(pairs, sh).orderBy("a")
      }
    }),
  )

  // ---- DuckDB mirrors -------------------------------------------------

  private def h32(e: String, tag: String) =
    s"CAST(CONCAT('0x', substr(md5($e || ':$tag'), 1, 8)) AS BIGINT)"

  /** Mirror of Dedup.permHash: hex slice (i%4) of digest block i/4. */
  private def permHashSql(e: String, i: Int) = {
    val block = i / 4; val slice = (i % 4) * 8 + 1
    s"CAST(CONCAT('0x', substr(md5($e || ':mhb$block'), $slice, 8)) AS BIGINT)"
  }

  private val corpusSql =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    CASE WHEN doc_id % 50 = 0 THEN text ELSE text || ' zzz9' END
      |  FROM documents
      |)""".stripMargin

  /** words + distinct-shingles CTEs over `corpus`. */
  private val shingleSql =
    """words AS (SELECT id, string_split(text, ' ') AS w FROM corpus),
      |sh AS (SELECT DISTINCT id, unnest(
      |  CASE WHEN len(w) >= 3
      |  THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |  ELSE [array_to_string(w, ' ')] END) AS sh FROM words)""".stripMargin

  /** Korean-seasoned doubled corpus (mirror of [[corpusCjk]]): every
    * doc gains a spaceless Korean phrase by id parity; the shifted
    * copy is verbatim every 50th doc and one appended Hangul
    * SYLLABLE otherwise — under codepoint tokenization that is the
    * one-extra-token near-dup plant (the ' zzz9' trick, CJK form). */
  private val corpusCjkSql =
    s"""corpus AS (
       |  SELECT doc_id AS id,
       |    text || CASE WHEN doc_id % 2 = 0 THEN '$cjkPhraseA' ELSE '$cjkPhraseB' END AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    text || CASE WHEN doc_id % 2 = 0 THEN '$cjkPhraseA' ELSE '$cjkPhraseB' END ||
       |      CASE WHEN doc_id % 50 = 0 THEN '' ELSE ' $cjkExtra' END
       |  FROM documents
       |)""".stripMargin

  /** [[shingleSql]] with the CJK pre-space (Dedup.cjkSpaced): each
    * Han/Hiragana/Katakana/Hangul codepoint spaced out, whitespace
    * runs collapsed, ends trimmed — then the identical word-3-gram
    * construction. RE2 spells the script classes \p{Han}…; Java's
    * \p{IsHan}… twins cover the same code points. */
  private val shingleCjkSql =
    """words AS (SELECT id, string_split(trim(regexp_replace(regexp_replace(text,
      |  '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'),
      |  '\s+', ' ', 'g')), ' ') AS w FROM corpus),
      |sh AS (SELECT DISTINCT id, unnest(
      |  CASE WHEN len(w) >= 3
      |  THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |  ELSE [array_to_string(w, ' ')] END) AS sh FROM words)""".stripMargin

  /** shingleSql twin over `documents` directly (no corpus doubling),
    * grams digested to md5 like Dedup.ngramSpanStats. */
  private val docSpanSql =
    """words AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT id, unnest(
      |  CASE WHEN len(w) >= 3
      |  THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |  ELSE [array_to_string(w, ' ')] END) AS sh FROM words),
      |g AS (SELECT id, md5(sh) AS gh FROM sh),
      |freq AS (SELECT gh, count(*) AS ndocs FROM g GROUP BY gh),
      |per AS (SELECT id, count(*) AS n_grams,
      |    CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
      |  FROM g JOIN freq USING (gh) GROUP BY id)""".stripMargin

  /** The banded-MinHash pipeline SQL over pluggable corpus + shingle
    * CTEs — shared by the ASCII ([[minhashSql]]) and CJK
    * ([[minhashCjkSql]]) arms, which differ ONLY in those two CTEs and
    * (r21) the CJK arm's Σ bucket² verify budget: `verifyBudget`
    * mirrors graft.llm.Candidates' s* size-class selection — keep the
    * ascending size classes whose cumulative Σ bn² fits the budget —
    * arm for arm (None = the plain ≤10000 cap, byte-identical to the
    * pre-r21 twin). */
  private def minhashPipelineSql(corpusCte: String, shingleCte: String,
      verifyBudget: Option[Long] = None): String = {
    val hCols = (0 until K).map(i => s"${permHashSql("sh", i)} AS h$i").mkString(", ")
    val mins = (0 until K).map(i => s"min(h$i) AS m$i").mkString(", ")
    val bandArms = (0 until BANDS).map { b =>
      val parts = (0 until K / BANDS).map(r => s"CAST(m${b * (K / BANDS) + r} AS VARCHAR)")
      s"SELECT id, '${b}_' || ${parts.mkString(" || '_' || ")} AS bk FROM sig"
    }.mkString(" UNION ALL ")
    val bandOk = verifyBudget match {
      case None =>
        "band_ok AS (SELECT bk FROM band GROUP BY bk HAVING count(*) <= 10000)"
      case Some(budget) =>
        s"""band_sz AS (SELECT bk, count(*) AS bn FROM band GROUP BY bk HAVING count(*) <= 10000),
           |hist AS (SELECT bn, SUM(bn * bn) AS w2 FROM band_sz GROUP BY bn),
           |sstar AS (SELECT MAX(bn) AS s_star FROM (
           |  SELECT bn, SUM(w2) OVER (ORDER BY bn
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM hist) WHERE cum <= $budget),
           |band_ok AS (SELECT bk FROM band_sz, sstar WHERE bn <= COALESCE(s_star, 0))""".stripMargin
    }
    s"""WITH $corpusCte,
       |$shingleCte,
       |hs AS (SELECT id, sh, $hCols FROM sh),
       |sig AS (SELECT id, $mins FROM hs GROUP BY id),
       |band AS ($bandArms),
       |$bandOk,
       |bandc AS (SELECT band.id, band.bk FROM band JOIN band_ok USING (bk)),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bandc x JOIN bandc y ON x.bk = y.bk AND x.id < y.id),
       |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       |inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c
       |  JOIN sh sa ON sa.id = c.a
       |  JOIN sh sb ON sb.id = c.b AND sa.sh = sb.sh
       |  GROUP BY c.a, c.b)
       |SELECT t.a, t.b, t.jacc_x1e4 FROM (
       |  SELECT i2.a, i2.b,
       |    CAST(FLOOR(CAST(i2.i AS DOUBLE) / (na.n + nb.n - i2.i) * 10000 + 0.5) AS BIGINT) AS jacc_x1e4
       |  FROM inter i2
       |  JOIN sizes na ON na.id = i2.a
       |  JOIN sizes nb ON nb.id = i2.b) t
       |WHERE t.jacc_x1e4 >= 5000 ORDER BY t.a, t.b""".stripMargin
  }

  private val minhashSql: String = minhashPipelineSql(corpusSql, shingleSql)

  /** CJK arm: Korean-seasoned corpus + codepoint pre-spacing ahead of
    * the same shingle construction (RE2 \p{Han}… script classes — the
    * Java twin spells them \p{IsHan}…, same code-point sets). */
  private val minhashCjkSql: String =
    minhashPipelineSql(corpusCjkSql, shingleCjkSql, Some(CjkVerifyBudget))

  /** Recall of the banded pipeline vs exact shared-shingle truth over
    * the bounded (doc_id < 150) sub-corpus — same band algebra as
    * minhashSql, plus the exact side. */
  private val minhashRecallSql: String = {
    val hCols = (0 until K).map(i => s"${permHashSql("sh", i)} AS h$i").mkString(", ")
    val mins = (0 until K).map(i => s"min(h$i) AS m$i").mkString(", ")
    val bandArms = (0 until BANDS).map { b =>
      val parts = (0 until K / BANDS).map(r => s"CAST(m${b * (K / BANDS) + r} AS VARCHAR)")
      s"SELECT id, '${b}_' || ${parts.mkString(" || '_' || ")} AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH corpus AS (
       |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 150
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    CASE WHEN doc_id % 50 = 0 THEN text ELSE text || ' zzz9' END
       |  FROM documents WHERE doc_id < 150),
       |$shingleSql,
       |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       |excand AS (SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id),
       |exinter AS (SELECT c.a, c.b, count(*) AS i FROM excand c
       |  JOIN sh sa ON sa.id = c.a
       |  JOIN sh sb ON sb.id = c.b AND sa.sh = sb.sh
       |  GROUP BY c.a, c.b),
       |truth AS (SELECT a, b FROM (
       |    SELECT e.a, e.b,
       |      CAST(FLOOR(CAST(e.i AS DOUBLE) / (na.n + nb.n - e.i) * 10000 + 0.5) AS BIGINT) AS j
       |    FROM exinter e
       |    JOIN sizes na ON na.id = e.a
       |    JOIN sizes nb ON nb.id = e.b) WHERE j >= 5000),
       |hs AS (SELECT id, sh, $hCols FROM sh),
       |sig AS (SELECT id, $mins FROM hs GROUP BY id),
       |band AS ($bandArms),
       |band_ok AS (SELECT bk FROM band GROUP BY bk HAVING count(*) <= 10000),
       |bandc AS (SELECT band.id, band.bk FROM band JOIN band_ok USING (bk)),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bandc x JOIN bandc y ON x.bk = y.bk AND x.id < y.id),
       |inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c
       |  JOIN sh sa ON sa.id = c.a
       |  JOIN sh sb ON sb.id = c.b AND sa.sh = sb.sh
       |  GROUP BY c.a, c.b),
       |found AS (SELECT a, b FROM (
       |    SELECT i2.a, i2.b,
       |      CAST(FLOOR(CAST(i2.i AS DOUBLE) / (na.n + nb.n - i2.i) * 10000 + 0.5) AS BIGINT) AS j
       |    FROM inter i2
       |    JOIN sizes na ON na.id = i2.a
       |    JOIN sizes nb ON nb.id = i2.b) WHERE j >= 5000)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       |  (SELECT CAST(count(*) AS BIGINT) FROM found) AS n_found,
       |  (SELECT count(*) FROM found) * 10000
       |    // (SELECT count(*) FROM truth) AS recall_x1e4""".stripMargin
  }

  /** Mirror of Dedup.crossCorpusPairs: same signature/band algebra as
    * minhashSql over the train ∪ shifted-eval corpus, the candidate
    * join BIPARTITE (train side id < 1e6, eval side ≥ 1e6) with the
    * ≤10000 bucket cap applied PER SIDE, exact-Jaccard verify, then
    * the per-train-doc contamination verdict. */
  private val crossCorpusSql: String = {
    val hCols = (0 until K).map(i => s"${permHashSql("sh", i)} AS h$i").mkString(", ")
    val mins = (0 until K).map(i => s"min(h$i) AS m$i").mkString(", ")
    val bandArms = (0 until BANDS).map { b =>
      val parts = (0 until K / BANDS).map(r => s"CAST(m${b * (K / BANDS) + r} AS VARCHAR)")
      s"SELECT id, '${b}_' || ${parts.mkString(" || '_' || ")} AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH corpus AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' zzz9'
       |  FROM documents WHERE doc_id % 7 = 0
       |),
       |$shingleSql,
       |hs AS (SELECT id, sh, $hCols FROM sh),
       |sig AS (SELECT id, $mins FROM hs GROUP BY id),
       |band AS ($bandArms),
       |bt AS (SELECT id, bk FROM band WHERE id < 1000000),
       |be AS (SELECT id, bk FROM band WHERE id >= 1000000),
       |okt AS (SELECT bk FROM bt GROUP BY bk HAVING count(*) <= 10000),
       |oke AS (SELECT bk FROM be GROUP BY bk HAVING count(*) <= 10000),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM (SELECT bt.id, bt.bk FROM bt JOIN okt USING (bk)) x
       |  JOIN (SELECT be.id, be.bk FROM be JOIN oke USING (bk)) y ON x.bk = y.bk),
       |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       |inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c
       |  JOIN sh sa ON sa.id = c.a
       |  JOIN sh sb ON sb.id = c.b AND sa.sh = sb.sh
       |  GROUP BY c.a, c.b),
       |j AS (SELECT i2.a, i2.b,
       |    CAST(FLOOR(CAST(i2.i AS DOUBLE) / (na.n + nb.n - i2.i) * 10000 + 0.5) AS BIGINT) AS jacc_x1e4
       |  FROM inter i2
       |  JOIN sizes na ON na.id = i2.a
       |  JOIN sizes nb ON nb.id = i2.b)
       |SELECT a AS doc_id, count(*) AS n_eval_matches,
       |  max(jacc_x1e4) AS max_jacc_x1e4
       |FROM j WHERE jacc_x1e4 >= 5000 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Blocking telemetry over the minhashSql pipeline: identical corpus,
    * candidates, and verify; the output is the three counters plus the
    * integer reduction/yield ratios. */
  private val blockingMetricsSql: String = {
    val hCols = (0 until K).map(i => s"${permHashSql("sh", i)} AS h$i").mkString(", ")
    val mins = (0 until K).map(i => s"min(h$i) AS m$i").mkString(", ")
    val bandArms = (0 until BANDS).map { b =>
      val parts = (0 until K / BANDS).map(r => s"CAST(m${b * (K / BANDS) + r} AS VARCHAR)")
      s"SELECT id, '${b}_' || ${parts.mkString(" || '_' || ")} AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH $corpusSql,
       |$shingleSql,
       |hs AS (SELECT id, sh, $hCols FROM sh),
       |sig AS (SELECT id, $mins FROM hs GROUP BY id),
       |band AS ($bandArms),
       |band_ok AS (SELECT bk FROM band GROUP BY bk HAVING count(*) <= 10000),
       |bandc AS (SELECT band.id, band.bk FROM band JOIN band_ok USING (bk)),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bandc x JOIN bandc y ON x.bk = y.bk AND x.id < y.id),
       |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       |inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c
       |  JOIN sh sa ON sa.id = c.a
       |  JOIN sh sb ON sb.id = c.b AND sa.sh = sb.sh
       |  GROUP BY c.a, c.b),
       |ver AS (SELECT i2.a FROM inter i2
       |  JOIN sizes na ON na.id = i2.a
       |  JOIN sizes nb ON nb.id = i2.b
       |  WHERE CAST(FLOOR(CAST(i2.i AS DOUBLE) / (na.n + nb.n - i2.i) * 10000 + 0.5) AS BIGINT) >= 5000),
       |nd AS (SELECT count(*) AS n_docs FROM corpus),
       |nc AS (SELECT count(*) AS n_candidates FROM cand),
       |nv AS (SELECT count(*) AS n_verified FROM ver)
       |SELECT n_docs, n_docs * (n_docs - 1) // 2 AS n_total_pairs,
       |  n_candidates, n_verified,
       |  (n_docs * (n_docs - 1) // 2 - n_candidates) * 1000000
       |    // (n_docs * (n_docs - 1) // 2) AS reduction_x1e6,
       |  CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
       |    ELSE n_verified * 1000000 // n_candidates END AS yield_x1e6
       |FROM nd CROSS JOIN nc CROSS JOIN nv""".stripMargin
  }

  /** Mirror of Dedup.incrementalDupPairs over corpusSql: identical
    * signature/band/cap algebra as minhashSql, the candidate join
    * restricted to batch-side b (id ≥ 1e6 — the shifted batch), and
    * the k-component match estimate in place of exact Jaccard. */
  private val incrementalSql: String = {
    val hCols = (0 until K).map(i => s"${permHashSql("sh", i)} AS h$i").mkString(", ")
    val mins = (0 until K).map(i => s"min(h$i) AS m$i").mkString(", ")
    val bandArms = (0 until BANDS).map { b =>
      val parts = (0 until K / BANDS).map(r => s"CAST(m${b * (K / BANDS) + r} AS VARCHAR)")
      s"SELECT id, '${b}_' || ${parts.mkString(" || '_' || ")} AS bk FROM sig"
    }.mkString(" UNION ALL ")
    val matches = (0 until K)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $corpusSql,
       |$shingleSql,
       |hs AS (SELECT id, sh, $hCols FROM sh),
       |sig AS (SELECT id, $mins FROM hs GROUP BY id),
       |band AS ($bandArms),
       |band_ok AS (SELECT bk FROM band GROUP BY bk HAVING count(*) <= 10000),
       |bandc AS (SELECT band.id, band.bk FROM band JOIN band_ok USING (bk)),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bandc x JOIN bandc y ON x.bk = y.bk AND x.id < y.id AND y.id >= 1000000),
       |est AS (SELECT c.a, c.b,
       |    CAST((($matches) * 10000) // $K AS BIGINT) AS est_x1e4
       |  FROM cand c JOIN sig sa ON sa.id = c.a JOIN sig sb ON sb.id = c.b)
       |SELECT a, b, est_x1e4 FROM est WHERE est_x1e4 >= 5000
       |ORDER BY a, b""".stripMargin
  }

  /** Arm-for-arm mirror of Dedup.simhashBandedPairs over corpusSql:
    * same two-salt 64-bit vote, same four 16-bit band arms, same
    * ≤10000 bucket cap, same popcount-on-xor verify. */
  private val simhashBandedSql: String = {
    def votes(src: String, off: Int) = (0 until 32).map(b =>
      s"CAST(SUM(CASE WHEN ($src >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s${b + off}")
    val allVotes = (votes("h1", 0) ++ votes("h2", 32)).mkString(", ")
    val bits = (0 until 64)
      .map(b => s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    val bandArms = (0 until 4).map(b =>
      s"SELECT id, simhash, $b AS band, (simhash >> ${16 * b}) & 65535 AS v FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH $corpusSql,
       |toks AS (SELECT id, unnest(string_split(text, ' ')) AS tok FROM corpus),
       |h AS (SELECT id, ${h32("tok", "sh64a")} AS h1, ${h32("tok", "sh64b")} AS h2 FROM toks),
       |votes AS (SELECT id, $allVotes FROM h GROUP BY id),
       |sig AS (SELECT id, CAST($bits AS BIGINT) AS simhash FROM votes),
       |band AS ($bandArms),
       |band_ok AS (SELECT band, v FROM band GROUP BY band, v HAVING count(*) <= 10000),
       |bandc AS (SELECT band.id, band.simhash, band.band, band.v
       |  FROM band JOIN band_ok USING (band, v)),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b,
       |    CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS dist
       |  FROM bandc x JOIN bandc y ON x.band = y.band AND x.v = y.v AND x.id < y.id)
       |SELECT a, b, dist FROM cand WHERE dist <= 3 ORDER BY a, b""".stripMargin
  }

  private val simhashSql: String = {
    val votes = (0 until 16)
      .map(b => s"CAST(SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$b")
      .mkString(", ")
    val bits = (0 until 16)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT id, ${h32("tok", "sh")} AS h FROM toks),
       |votes AS (SELECT id, $votes FROM h GROUP BY id)
       |SELECT id, CAST($bits AS BIGINT) AS simhash FROM votes ORDER BY id""".stripMargin
  }

  /** shingleSql's 5-gram sibling (the prefix-filter gate needs the
    * sparser gram space — see the query comment). */
  private val shingle5Sql =
    """words5 AS (SELECT id, string_split(text, ' ') AS w FROM corpus),
      |sh AS (SELECT DISTINCT id, unnest(
      |  CASE WHEN len(w) >= 5
      |  THEN list_transform(generate_series(1, len(w) - 4),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
      |  ELSE [array_to_string(w, ' ')] END) AS sh FROM words5)""".stripMargin

  /** Arm-for-arm mirror of Dedup.prefixFilterPairs: global rare-first
    * token order, integer prefix-length arithmetic, the ≤10000
    * posting cap, candidates from the prefix equi-join, exact-Jaccard
    * verify with the same x1e4 rounding and threshold. */
  private val prefixFilterSql: String =
    s"""WITH $corpusSql,
       |$shingle5Sql,
       |freq AS (SELECT sh, count(*) AS tf FROM sh GROUP BY sh),
       |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       |ranked AS (SELECT s.id, s.sh,
       |    row_number() OVER (PARTITION BY s.id ORDER BY f.tf, s.sh) AS pos
       |  FROM sh s JOIN freq f USING (sh)),
       |pref AS (SELECT r.id, r.sh FROM ranked r JOIN sizes z USING (id)
       |  WHERE r.pos <= z.n - (z.n * 8000 + 9999) // 10000 + 1),
       |pref_ok AS (SELECT sh FROM pref GROUP BY sh HAVING count(*) <= 10000),
       |prefc AS (SELECT pref.id, pref.sh FROM pref JOIN pref_ok USING (sh)),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM prefc x JOIN prefc y ON x.sh = y.sh AND x.id < y.id),
       |inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c
       |  JOIN sh sa ON sa.id = c.a
       |  JOIN sh sb ON sb.id = c.b AND sa.sh = sb.sh
       |  GROUP BY c.a, c.b)
       |SELECT t.a, t.b, t.jacc_x1e4 FROM (
       |  SELECT i2.a, i2.b,
       |    CAST(FLOOR(CAST(i2.i AS DOUBLE) / (na.n + nb.n - i2.i) * 10000 + 0.5) AS BIGINT) AS jacc_x1e4
       |  FROM inter i2
       |  JOIN sizes na ON na.id = i2.a
       |  JOIN sizes nb ON nb.id = i2.b) t
       |WHERE t.jacc_x1e4 >= 8000 ORDER BY t.a, t.b""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_prefix_pairs" -> prefixFilterSql,
    // same recursive closure as dedup_clusters, then the two-level
    // size histogram
    "dedup_cluster_sizes" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 10 < 3),
        |edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
        |reach(x, y) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |labels AS (SELECT x AS id, LEAST(x, MIN(y)) AS cluster FROM reach GROUP BY x),
        |cz AS (SELECT cluster, count(*) AS sz FROM labels GROUP BY cluster)
        |SELECT sz, count(*) AS n_clusters FROM cz GROUP BY sz ORDER BY sz""".stripMargin,
    "dedup_exact" ->
      s"""WITH $corpusSql
         |SELECT md5(text) AS h, count(*) AS cnt, min(id) AS keeper
         |FROM corpus GROUP BY md5(text) HAVING count(*) > 1 ORDER BY h""".stripMargin,
    "dedup_minhash" -> minhashSql,
    "dedup_minhash_cjk" -> minhashCjkSql,
    "dedup_minhash_recall" -> minhashRecallSql,
    "dedup_cross_corpus" -> crossCorpusSql,
    "dedup_blocking_metrics" -> blockingMetricsSql,
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_banded" -> simhashBandedSql,
    "dedup_incremental" -> incrementalSql,
    "dedup_incremental_stream" -> incrementalSql,
    // Transitive closure via recursive CTE mirrors the label-propagation
    // fixpoint: cluster(x) = min over everything reachable from x.
    "dedup_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 10 < 3),
        |edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
        |reach(x, y) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x)
        |SELECT x AS id, LEAST(x, MIN(y)) AS cluster FROM reach
        |GROUP BY x ORDER BY id""".stripMargin,
    "dedup_apply" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 10 < 3),
        |edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
        |reach(x, y) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |labels AS (SELECT x AS id, LEAST(x, MIN(y)) AS cluster FROM reach GROUP BY x)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)
        |ORDER BY doc_id""".stripMargin,
    // chunking + first-occurrence-wins line dedup, arm for arm; the
    // oracle groups on the raw line where the engine groups on its
    // 64-bit digest (1:1 at any realistic line count)
    "dedup_lines" ->
      """WITH ch AS (SELECT doc_id,
        |    array_to_string(list_transform(generate_series(0, (len(w)-1)//8),
        |      i -> array_to_string(w[i*8+1 : i*8+8], ' ')), '. ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |corpus AS (SELECT doc_id AS id, text FROM ch
        |  UNION ALL SELECT doc_id + 1000000, text FROM ch WHERE doc_id % 10 = 0),
        |l AS (SELECT id, CAST(t.i AS BIGINT) - 1 AS pos,
        |    parts[CAST(t.i AS INT)] AS line
        |  FROM (SELECT id, string_split(text, '. ') AS parts FROM corpus),
        |    UNNEST(generate_series(1, len(parts))) AS t(i)),
        |f AS (SELECT line, min(id) AS fid FROM l GROUP BY line),
        |f2 AS (SELECT l.line, f.fid, min(l.pos) AS fpos
        |  FROM l JOIN f ON l.line = f.line AND l.id = f.fid
        |  GROUP BY l.line, f.fid),
        |j AS (SELECT l.id, l.pos, l.line,
        |    (l.id = f2.fid AND l.pos = f2.fpos) AS keep
        |  FROM l JOIN f2 USING (line))
        |SELECT id AS doc_id, count(*) AS n_lines,
        |  CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN keep THEN line END, '. ' ORDER BY pos), '')
        |    AS clean_text
        |FROM j GROUP BY id ORDER BY doc_id""".stripMargin,
    // spanDedup twin: same chunking, the two fixture variant families,
    // per-doc lead() windows building 3-sentence spans (chr(31) joins
    // where the engine digests — 1:1 at any realistic span count), the
    // same two-level lexicographic first-occurrence minimum, coverage
    // expansion of non-first occurrences, and ordered reassembly.
    "dedup_spans3" ->
      """WITH ch AS (SELECT doc_id,
        |    array_to_string(list_transform(generate_series(0, (len(w)-1)//8),
        |      i -> array_to_string(w[i*8+1 : i*8+8], ' ')), '. ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |corpus AS (SELECT doc_id AS id, text FROM ch
        |  UNION ALL SELECT doc_id + 1000000, text FROM ch WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 2000000,
        |      'zz intro. ' ||
        |      array_to_string((string_split(text, '. '))[1:4], '. ') ||
        |      '. qq outro'
        |    FROM ch WHERE doc_id % 7 = 0),
        |l AS (SELECT id, CAST(t.i AS BIGINT) - 1 AS pos,
        |    parts[CAST(t.i AS INT)] AS line
        |  FROM (SELECT id, string_split(text, '. ') AS parts FROM corpus),
        |    UNNEST(generate_series(1, len(parts))) AS t(i)),
        |sp AS (SELECT id, pos,
        |    line || chr(31) || lead(line, 1) OVER w || chr(31) ||
        |      lead(line, 2) OVER w AS span
        |  FROM l WINDOW w AS (PARTITION BY id ORDER BY pos)),
        |s AS (SELECT id, pos, span FROM sp WHERE span IS NOT NULL),
        |f AS (SELECT span, min(id) AS fid FROM s GROUP BY span),
        |f2 AS (SELECT s.span, f.fid, min(s.pos) AS fpos
        |  FROM s JOIN f ON s.span = f.span AND s.id = f.fid
        |  GROUP BY s.span, f.fid),
        |rem AS (SELECT s.id, s.pos FROM s JOIN f2 USING (span)
        |  WHERE NOT (s.id = f2.fid AND s.pos = f2.fpos)),
        |cov AS (SELECT DISTINCT r.id, CAST(g.p AS BIGINT) AS pos
        |  FROM rem r, UNNEST(generate_series(r.pos, r.pos + 2)) AS g(p)),
        |j AS (SELECT l.id, l.pos, l.line, cov.pos IS NOT NULL AS dropped
        |  FROM l LEFT JOIN cov ON l.id = cov.id AND l.pos = cov.pos)
        |SELECT id AS doc_id, count(*) AS n_sentences,
        |  CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN NOT dropped THEN line END, '. '
        |    ORDER BY pos), '') AS clean_text
        |FROM j GROUP BY id ORDER BY doc_id""".stripMargin,
    "dedup_ngram_spans" ->
      s"""WITH $docSpanSql
         |SELECT id AS doc_id, n_grams, n_dup_grams,
         |  CAST(n_dup_grams * 10000 // n_grams AS BIGINT) AS dup_bps
         |FROM per ORDER BY doc_id""".stripMargin,
    // same keyed-md5 boundary rule, lag-window chunking, md5 chunk
    // digests, distinct-doc sharing counts
    "dedup_cdc_chunks" ->
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |    WHERE regexp_matches(text, '^[\x20-\x7E]*$')
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'SHIFTED-PREFIX >> ' || text FROM documents
        |    WHERE doc_id % 5 = 0 AND regexp_matches(text, '^[\x20-\x7E]*$')),
        |bpos AS (SELECT id, CAST(t.i AS BIGINT) AS b
        |  FROM corpus, UNNEST(generate_series(16, length(text))) AS t(i)
        |  WHERE CAST(CONCAT('0x', substr(md5(
        |      substr(text, CAST(t.i AS INT) - 15, 16) || ':cdc:b'), 1, 8)) AS BIGINT) % 64 = 0
        |  UNION ALL
        |  SELECT id, CAST(length(text) AS BIGINT) FROM corpus WHERE length(text) > 0),
        |bnd AS (SELECT DISTINCT id, b FROM bpos),
        |chunks AS (SELECT id,
        |    COALESCE(lag(b) OVER (PARTITION BY id ORDER BY b), 0) + 1 AS cstart,
        |    b AS cend FROM bnd),
        |withtext AS (SELECT c.id, c.cstart, c.cend - c.cstart + 1 AS clen,
        |    md5(substr(t.text, CAST(c.cstart AS INT),
        |      CAST(c.cend - c.cstart + 1 AS INT))) AS chash
        |  FROM chunks c JOIN corpus t ON t.id = c.id),
        |shared AS (SELECT chash, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
        |  FROM withtext GROUP BY 1 HAVING count(DISTINCT id) >= 2)
        |SELECT w.id AS doc_id, w.cstart AS chunk_start, w.clen AS chunk_len,
        |  w.chash AS chunk_hash, s.n_docs
        |FROM withtext w JOIN shared s USING (chash)
        |ORDER BY doc_id, chunk_start""".stripMargin,
    // the span pipeline's release-filter view: maximal spans summed
    // per doc against the doc length, same ≥5000 bp flag
    "dedup_span_prune" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE regexp_matches(text, '^[\x20-\x7E]*$') AND length(text) > 0),
        |pos AS (SELECT doc_id, CAST(t.i AS BIGINT) AS i,
        |    substr(text, CAST(t.i AS INT), 30) AS g
        |  FROM d, UNNEST(generate_series(1, length(text) - 29)) AS t(i)),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
        |m AS (SELECT doc_id, i FROM pos JOIN dup USING (g)),
        |b AS (SELECT doc_id, i,
        |    CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 30
        |      THEN 1 ELSE 0 END AS brk
        |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |isl AS (SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id
        |    ORDER BY i ROWS UNBOUNDED PRECEDING) AS island FROM b),
        |spans AS (SELECT doc_id, min(i) AS s, max(i) + 30 AS e
        |  FROM isl GROUP BY doc_id, island),
        |per AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS dup_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |  COALESCE(p.dup_chars, 0) AS dup_chars,
        |  COALESCE(p.dup_chars, 0) * 10000 // length(d.text) AS dup_bps,
        |  COALESCE(p.dup_chars, 0) * 10000 // length(d.text) >= 5000 AS flagged
        |FROM d LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // the naive twin of the digested prefix-doubling pipeline: L-char
    // substrings materialized + counted directly, then the same
    // touching-windows island merge
    "dedup_exact_substring" ->
      (s"""WITH d AS (SELECT doc_id, text FROM documents
          |  WHERE regexp_matches(text, '^[\\x20-\\x7E]*$$')
          |  UNION ALL
          |  SELECT doc_id + 9000000, '$cjkSpan' || text
          |  FROM documents WHERE doc_id < 2),""".stripMargin + "\n" +
      """pos AS (SELECT doc_id, CAST(t.i AS BIGINT) AS i,
        |    substr(text, CAST(t.i AS INT), 30) AS g
        |  FROM d, UNNEST(generate_series(1, length(text) - 29)) AS t(i)),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
        |m AS (SELECT doc_id, i FROM pos JOIN dup USING (g)),
        |b AS (SELECT doc_id, i,
        |    CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 30
        |      THEN 1 ELSE 0 END AS brk
        |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |isl AS (SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id
        |    ORDER BY i ROWS UNBOUNDED PRECEDING) AS island FROM b)
        |SELECT doc_id, min(i) AS span_start, max(i) + 30 AS span_end,
        |  max(i) + 30 - min(i) AS span_len,
        |  CAST(count(*) AS BIGINT) AS n_dup_windows
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin),
    "dedup_ngram_prune" ->
      s"""WITH $docSpanSql,
         |st AS (SELECT id AS doc_id,
         |    CAST(n_dup_grams * 10000 // n_grams AS BIGINT) AS dup_bps FROM per)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN st.dup_bps >= 8000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(count(*) - SUM(CASE WHEN st.dup_bps >= 8000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d JOIN st ON st.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "text_ngram_jaccard" ->
      s"""WITH $corpusSql,
         |$shingleSql,
         |pairs AS (SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents),
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT p.a, p.b, count(*) AS i FROM pairs p
         |  JOIN sh sa ON sa.id = p.a
         |  JOIN sh sb ON sb.id = p.b AND sa.sh = sb.sh
         |  GROUP BY p.a, p.b)
         |SELECT i2.a, i2.b,
         |  CAST(FLOOR(CAST(i2.i AS DOUBLE) / (na.n + nb.n - i2.i) * 10000 + 0.5) AS BIGINT) AS jacc_x1e4
         |FROM inter i2
         |JOIN sizes na ON na.id = i2.a
         |JOIN sizes nb ON nb.id = i2.b ORDER BY i2.a""".stripMargin,
    "text_ngram_containment" ->
      s"""WITH $corpusSql,
         |$shingleSql,
         |pairs AS (SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents),
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT p.a, p.b, count(*) AS i FROM pairs p
         |  JOIN sh sa ON sa.id = p.a
         |  JOIN sh sb ON sb.id = p.b AND sa.sh = sb.sh
         |  GROUP BY p.a, p.b)
         |SELECT i2.a, i2.b,
         |  CAST(FLOOR(CAST(i2.i AS DOUBLE) / na.n * 10000 + 0.5) AS BIGINT) AS cont_a_x1e4,
         |  CAST(FLOOR(CAST(i2.i AS DOUBLE) / nb.n * 10000 + 0.5) AS BIGINT) AS cont_b_x1e4
         |FROM inter i2
         |JOIN sizes na ON na.id = i2.a
         |JOIN sizes nb ON nb.id = i2.b ORDER BY i2.a""".stripMargin,
  )
}

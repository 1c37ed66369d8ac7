package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.core.Tables
import graft.llm.Curation
import graft.llm.{TextAnalysis => TA}

/** Oracle-checked queries for the corpus-curation operators
  * (llm/Curation.scala): per-domain caps, sequence packing, and
  * benchmark-contamination checks over the documents fixture. */
object CurationPack extends QueryPack {

  private val CAP = 10        // docs kept per source
  private val SALT = 4        // salt buckets in the two-phase top-k
  private val BUDGET = 512    // tokens per packed sequence

  /** Spaceless Korean phrases for the CJK contamination arm — each
    * becomes a run of codepoint tokens under Dedup.cjkSpaced. */
  private val cjkPhrase0 = " 사전학습 말뭉치오염검사"
  private val cjkPhrase1 = " 평가셋 중복문서탐지"

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Crawl-style per-domain cap: keep the CAP longest docs per source
    // (ties → smallest doc_id), via the two-phase salted top-k so a hot
    // domain never concentrates in one window partition.
    "curation_domain_cap" -> ((s, dir) =>
      Curation.topKPerKey(
          docs(s, dir).select(col("source"), col("doc_id"), col("n_chars")),
          "source", Seq(col("n_chars").desc, col("doc_id")),
          saltOn = col("doc_id"), k = CAP, salt = SALT)
        .select(col("source"), col("doc_id"), col("n_chars"), col("rk").cast("long"))
        .orderBy("source", "rk")),
    // DSIR-style contrastive selection (Curation.dsirScores): target =
    // the English slice, pool = the whole corpus; each doc scored by
    // mean per-token target-vs-pool surprisal difference in exact x100
    // bits over md5-hashed unigram buckets. The production decision is
    // a threshold/top-k over dsir_x100; the gate pins the score
    // itself plus the token count.
    "curation_dsir_scores" -> ((s, dir) =>
      Curation.dsirScores(docs(s, dir), "doc_id", "text",
          col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Concat-and-chunk packing within each source shard: a doc belongs
    // to the sequence its first token lands in.
    "curation_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(
          docs(s, dir).select(col("source"), col("doc_id"), col("text")),
          "source", "doc_id", "text", BUDGET)
        .select(col("source"), col("doc_id"), col("n_tok").cast("long"), col("seq"))
        .orderBy("source", "doc_id")),
    // TRUE-token packing (r20): the same concat-and-chunk window, but
    // budgeted in BPE tokens instead of whitespace words — per-word
    // n_toks from the byte-level encoder (learned on this corpus,
    // 8 merges) broadcast-joined to the corpus's words and summed per
    // doc, then packSequencesByCount over that sum. Sequence budget
    // is THE unit a pretraining pipeline packs by; the whitespace
    // proxy mis-budgets CJK ~3-4x.
    "curation_pack_tokens" -> ((s, dir) => {
      val d = docs(s, dir)
      val hist = graft.llm.Bpe.wordHistogram(d.select(col("text")), "text")
      val merges = graft.llm.Bpe.learnMerges(hist, 8, byteLevel = true)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val tok = graft.llm.Bpe.encode(hist, merges, byteLevel = true)
        .select(col("word"), col("n_toks"))
      val words = d.select(col("doc_id"),
          explode(split(col("text"), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      val per = words.join(broadcast(tok), Seq("word"))
        .groupBy("doc_id").agg(sum(col("n_toks").cast("long")).as("n_tok"))
      val base = d.select(col("source"), col("doc_id")).join(per, "doc_id")
      Curation.packSequencesByCount(base, "source", "doc_id", "n_tok", BUDGET)
        .select(col("source"), col("doc_id"), col("n_tok"), col("seq"))
        .orderBy("source", "doc_id")
    }),
    // Contamination: docs sharing any 3-gram shingle with the "eval
    // suite" (every 97th doc), eval side broadcast.
    "curation_contamination" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id").as("id"), col("text"))
      val eval = d.filter(col("id") % 97 === 0)
      val corpus = d.filter(col("id") % 97 =!= 0)
      Curation.contaminatedDocs(corpus, eval).orderBy("id")
    }),
    // CJK arm (r20): Korean-seasoned docs — every doc carries a
    // spaceless Korean phrase by id parity, eval is the same % 97
    // slice, and the screen runs cjkAware: the phrase's codepoint
    // 3-grams are REAL shingles on both engines, so eval-copied
    // Korean content now registers as overlap instead of collapsing
    // into one unsharable mega-token per phrase.
    "curation_contamination_cjk" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id").as("id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0, lit(cjkPhrase0))
            .otherwise(lit(cjkPhrase1))).as("text"))
      val eval = d.filter(col("id") % 97 === 0)
      val corpus = d.filter(col("id") % 97 =!= 0)
      Curation.contaminatedDocs(corpus, eval, cjkAware = true).orderBy("id")
    }),
    // Contamination as a FRACTION (Curation.contaminationScore): every
    // corpus doc reports its overlap share, clean docs included —
    // severity-graded release policy instead of one global flag.
    "curation_contamination_score" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id").as("id"), col("text"))
      val eval = d.filter(col("id") % 97 === 0)
      val corpus = d.filter(col("id") % 97 =!= 0)
      Curation.contaminationScore(corpus, eval).orderBy("id")
    }),
    // The stages composed end-to-end — dup pairs → cluster resolution →
    // keeper filter → per-domain cap → sequence packing — proving the
    // pipeline chains without re-shaping between operators. Each stage
    // keeps its standalone plan (the cluster fixpoint's persisted
    // labels feed an anti-join; the cap and packing windows are both
    // shard-keyed); composing adds no new exchanges beyond them.
    "llm_pipeline_full" -> ((s, dir) => {
      import graft.llm.Dedup
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .filter(col("a") % 10 < 3)
      val kept = Dedup.keepAfterDedup(d, "doc_id", Dedup.dupClusters(pairs))
      val capped = Curation.topKPerKey(
          kept.select(col("source"), col("doc_id"), col("n_chars"), col("text")),
          "source", Seq(col("n_chars").desc, col("doc_id")),
          saltOn = col("doc_id"), k = CAP, salt = SALT)
        .select(col("source"), col("doc_id"), col("text"))
      Curation.packSequences(capped, "source", "doc_id", "text", BUDGET)
        .select(col("source"), col("doc_id"), col("n_tok").cast("long"), col("seq"))
        .orderBy("source", "doc_id")
    }),
    // URL-level dedup key (Curation.canonicalUrl): canonicalize a
    // deterministically-messy URL per doc — case-shuffled scheme/host,
    // default :443 port, trailing slash, unsorted + tracking query
    // params, fragment — and count collapses per canonical key. The
    // step a web-corpus pipeline runs BEFORE text dedup; a narrow
    // codegen projection + one hash aggregate.
    "curation_url_canon" -> ((s, dir) => {
      val d = docs(s, dir)
      val url = concat(
        lit("HtTpS://WWW.Example"), (col("doc_id") % 5).cast("string"),
        lit(".COM:443/Path"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&b="), (col("doc_id") % 3).cast("string"),
        lit("&a=1"),
        when(col("doc_id") % 4 === 0, lit("&fbclid=xyz")).otherwise(lit("")),
        lit("#frag"), col("doc_id").cast("string"))
      d.select(Curation.canonicalUrl(url).as("canonical_url"))
        .groupBy("canonical_url").agg(count(lit(1)).as("n_docs"))
        .orderBy("canonical_url")
    }),
    // Registrable-domain extraction (Curation.registrableDomain):
    // synthesized hosts across ccTLD second levels, plain TLDs,
    // 2-label hosts, and hosted-platform suffixes collapse to their
    // eTLD+1 and aggregate — the grouping a per-domain cap keys on.
    "curation_domain_extract" -> ((s, dir) => {
      val d = docs(s, dir)
      val m7 = (col("doc_id") % 7).cast("string")
      val host = when(col("doc_id") % 5 === 0,
          concat(lit("www.example"), m7, lit(".co.uk")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("blog.example"), m7, lit(".com")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("a.b.example"), m7, lit(".com.au")))
        .when(col("doc_id") % 5 === 3, concat(lit("example"), m7, lit(".io")))
        .otherwise(concat(lit("sub.shop"), m7, lit(".github.io")))
      d.select(Curation.registrableDomain(host).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n_docs"))
        .orderBy("domain")
    }),
    // Inter-document boilerplate removal (Curation.stripBoilerplate):
    // build line-structured docs — a cookie banner on every doc, the
    // fixture body, a newsletter footer on every 3rd doc, a unique
    // permalink line — and drop lines recurring in >= 50 distinct docs.
    // The banner and footer must vanish, body and permalink survive.
    "curation_boilerplate" -> ((s, dir) => {
      val d = docs(s, dir)
      val lined = concat_ws("\n",
        lit("Cookie Notice: this site uses cookies"),
        col("text"),
        when(col("doc_id") % 3 === 0, lit("Subscribe to our newsletter"))
          .otherwise(lit(null).cast("string")),
        concat(lit("permalink "), col("doc_id").cast("string")))
      Curation.stripBoilerplate(
          d.select(col("doc_id"), lined.as("text")),
          "doc_id", "text", minDocs = 50)
        .orderBy("doc_id")
    }),
    // Token-window chunking (Curation.chunkDocuments): 32-token
    // windows, 8-token overlap (stride 24), tail snapped to the last
    // full window. Pure narrow expression chain — the oracle mirrors
    // the start-set algebra (stride multiples ∪ {len-32}) exactly.
    "curation_chunks" -> ((s, dir) =>
      Curation.chunkDocuments(
          docs(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_id")),
    // Integer-exact PageRank over a synthesized 20-node domain link
    // graph (src = doc_id % 20 → dst = (doc_id * 7 + 3) % 20,
    // self-loops dropped): 3 damped iterations in pure fixed-point,
    // so the distributed aggregate matches the oracle's unrolled CTE
    // chain bit-for-bit.
    "curation_domain_authority" -> ((s, dir) => {
      val edges = docs(s, dir).select(
          (col("doc_id") % 20).as("src"),
          ((col("doc_id") * 7 + 3) % 20).as("dst"))
        .filter(col("src") =!= col("dst"))
      val r = Curation.pageRankInt(edges, iters = 3).orderBy("id")
      val out = r.select(col("id"), col("rank"))
      out
    }),
    // The TEXT-side pipeline composed end-to-end — the crawl-to-
    // training-example chain: raw HTML page → stripHtml → scrubPii →
    // token-window chunking. The URL-side twin is
    // curation_web_pipeline; together they cover both halves of web
    // curation. Entirely narrow (regexp chains + explode/slice — zero
    // exchanges), so composing adds nothing to the plan.
    "curation_text_pipeline" -> ((s, dir) => {
      val page = concat(
        lit("<html><body><h1>T</h1><p>"), col("text"),
        lit(" mail u"), col("doc_id").cast("string"),
        lit("@example.com</p><script>var s=1;</script><!-- c --></body></html>"))
      val scrubbed = docs(s, dir)
        .select(col("doc_id"), TA.scrubPii(TA.stripHtml(page)).as("t"))
      Curation.chunkDocuments(scrubbed, "doc_id", "t",
          chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_id")
    }),
    // The web-curation stages composed end-to-end: messy URL →
    // canonicalUrl → URL-level dedup (first crawl wins: min doc_id per
    // canonical key) → registrableDomain of the canonical host →
    // two-phase per-domain cap → per-domain audit. Proves the four
    // r11 operators chain without re-shaping; the only exchanges are
    // the dedup aggregate, its keeper join, and the cap windows.
    "curation_web_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val url = concat(
        lit("HtTpS://WWW.Example"), (col("doc_id") % 5).cast("string"),
        lit(".COM:443/Path"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&b="), (col("doc_id") % 3).cast("string"),
        lit("&a=1"),
        when(col("doc_id") % 4 === 0, lit("&fbclid=xyz")).otherwise(lit("")),
        lit("#frag"), col("doc_id").cast("string"))
      val canon = d.select(col("doc_id"), col("n_chars"),
        Curation.canonicalUrl(url).as("curl"))
      val keepers = canon.groupBy("curl").agg(min(col("doc_id")).as("doc_id"))
        .join(canon, Seq("curl", "doc_id"))
      val host = regexp_extract(col("curl"), "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)
      val domained = keepers.withColumn("domain", Curation.registrableDomain(host))
      Curation.topKPerKey(
          domained.select(col("domain"), col("doc_id"), col("n_chars")),
          "domain", Seq(col("n_chars").desc, col("doc_id")),
          saltOn = col("doc_id"), k = CAP, salt = SALT)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("domain")
    }),
    // Deterministic stratified sampling (Curation.hashSample): per-lang
    // keep-rates applied as a keyed-hash threshold — a NARROW filter
    // (no shuffle, no RNG state, idempotent under retry); the output
    // audits in/out counts per stratum.
    "sample_stratified" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang")
      val rate = when(col("lang") === "en", 0.5)
        .when(col("lang") === "zh", 0.35).otherwise(0.2)
      val sampled = Curation.hashSample(d, "doc_id", "s7", rate)
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      d.groupBy("lang").agg(count(lit(1)).as("n_in"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_in"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("lang")
    }),
    // Corpus mixing (Curation.weightedMix): downsample each source
    // toward a target composition — head sources weighted 10× — with
    // per-source rate = min(1, w·budget/count). One |strata|-row count
    // aggregate broadcast back; the corpus side stays narrow.
    "curation_mix" -> ((s, dir) => {
      val weights = (0 until 20)
        .map(i => s"src$i" -> (if (i < 3) 0.4 else 0.04)).toMap
      val d = docs(s, dir).select("doc_id", "source")
      val mixed = Curation.weightedMix(d, "source", "doc_id", "s7", weights, 400L)
        .groupBy("source").agg(count(lit(1)).as("n_sampled"))
      val weight = weights.foldLeft(lit(0.0)) { case (acc, (k, w)) =>
        when(col("source") === k, lit(w)).otherwise(acc)
      }
      d.groupBy("source").agg(count(lit(1)).as("n_in"))
        .join(mixed, Seq("source"), "left")
        .select(col("source"), col("n_in"),
          graft.functions.F.scale4(
            least(lit(1.0), weight * lit(400.0) / col("n_in"))).as("rate4"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("source")
    }),
    // Deterministic train/val/test split (Curation.assignSplits):
    // keyed-hash bucketing into 80/10/10 — disjoint, exhaustive, and
    // STABLE (a row's split survives corpus refreshes and retries);
    // the output audits counts per (split, lang).
    "curation_split" -> ((s, dir) =>
      Curation.assignSplits(docs(s, dir).select("doc_id", "lang"),
          "doc_id", "s7", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")),
    // Shard delivery (Curation.writeShards): deterministic
    // (split, shard) cells, hive-partitioned write, manifest read back
    // from the files actually written — the oracle recomputes the
    // manifest from the same keyed hashes, so a row lost or duplicated
    // anywhere in the write/read path breaks the match.
    "curation_shards" -> ((s, dir) => {
      val base = graft.core.Scratch.dir("graft_shards").toString
      Curation.writeShards(docs(s, dir).select("doc_id", "text"),
          "doc_id", "text", "s11",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
          nShards = 4, s"$base/out")
        .orderBy("split", "shard")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // same md5 bucket hash (hash32 mirrored as the 0x hex-slice cast),
    // same Laplace smoothing (+1 count, +B total), same bit-length
    // surprisal difference, same x100 floor mean (negatives truncate
    // identically — the Holt-established div///`//` contract)
    "curation_dsir_scores" ->
      """WITH toks AS (SELECT doc_id AS id, (lang = 'en') AS is_target,
        |    CAST(CONCAT('0x', substr(md5(tok || ':dsir:b'), 1, 8)) AS BIGINT) % 8192 AS b
        |  FROM (SELECT doc_id, lang, unnest(list_filter(
        |          string_split(text, ' '), x -> x <> '')) AS tok
        |        FROM documents)),
        |tgt AS (SELECT b, count(*) AS cp FROM toks WHERE is_target GROUP BY 1),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM toks WHERE is_target),
        |pool AS (SELECT b, count(*) AS cq FROM toks GROUP BY 1),
        |nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM toks),
        |sc AS (SELECT t.id,
        |    length(format('{:b}', CAST((nq.nq + 8192) // (COALESCE(pool.cq, 0) + 1) AS BIGINT)))
        |  - length(format('{:b}', CAST((np.np + 8192) // (COALESCE(tgt.cp, 0) + 1) AS BIGINT))) AS ml
        |  FROM toks t
        |  LEFT JOIN tgt USING (b)
        |  LEFT JOIN pool USING (b)
        |  CROSS JOIN np CROSS JOIN nq)
        |SELECT id AS doc_id, count(*) AS n_tokens,
        |  CAST((sum(ml) * 100) // count(*) AS BIGINT) AS dsir_x100
        |FROM sc GROUP BY id ORDER BY doc_id""".stripMargin,
    "curation_domain_cap" ->
      s"""WITH ranked AS (SELECT source, doc_id, n_chars,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM documents)
         |SELECT source, doc_id, n_chars, rk FROM ranked WHERE rk <= $CAP
         |ORDER BY source, rk""".stripMargin,
    "curation_pack_sequences" ->
      s"""WITH toks AS (SELECT source, doc_id,
         |    len(string_split_regex(text, '\\s+')) AS n_tok FROM documents),
         |packed AS (SELECT source, doc_id, n_tok,
         |  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM toks)
         |SELECT source, doc_id, n_tok,
         |  CAST(FLOOR((cum - n_tok) / $BUDGET.0) AS BIGINT) AS seq
         |FROM packed ORDER BY source, doc_id""".stripMargin,
    // the byte-BPE CTE chain's per-word n_toks joined into the same
    // running-sum window as curation_pack_sequences — the true-token
    // budget on both engines
    "curation_pack_tokens" ->
      ("WITH " + graft.llm.Bpe.chainCtesSql(8, throughK = true,
        """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
          |      SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
          |    WHERE length(word) > 0 GROUP BY word""".stripMargin,
        byteLevel = true) +
        s""",
           |tok AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_toks FROM s8),
           |w AS (SELECT doc_id, word FROM (
           |    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word
           |    FROM documents) WHERE length(word) > 0),
           |per AS (SELECT w.doc_id, CAST(sum(t.n_toks) AS BIGINT) AS n_tok
           |  FROM w JOIN tok t USING (word) GROUP BY 1),
           |base AS (SELECT d.source, d.doc_id, per.n_tok
           |  FROM per JOIN documents d USING (doc_id)),
           |packed AS (SELECT source, doc_id, n_tok,
           |  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           |    ROWS UNBOUNDED PRECEDING) AS cum FROM base)
           |SELECT source, doc_id, n_tok,
           |  CAST(FLOOR((cum - n_tok) / $BUDGET.0) AS BIGINT) AS seq
           |FROM packed ORDER BY source, doc_id""".stripMargin),
    "curation_contamination" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(
        |  CASE WHEN len(w) >= 3
        |  THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |  ELSE [array_to_string(w, ' ')] END) AS sh FROM words),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
        |SELECT s.doc_id AS id, count(*) AS n_overlap
        |FROM sh s JOIN ev ON s.sh = ev.sh
        |WHERE s.doc_id % 97 <> 0
        |GROUP BY s.doc_id ORDER BY id""".stripMargin,
    // CJK twin: Korean-seasoned corpus, codepoint pre-spacing
    // (RE2 \p{Han}… script classes — Java's \p{IsHan}… twins cover
    // the same code points), then the identical shingle/overlap CTEs.
    "curation_contamination_cjk" ->
      s"""WITH d AS (SELECT doc_id,
         |    text || CASE WHEN doc_id % 2 = 0 THEN '$cjkPhrase0' ELSE '$cjkPhrase1' END AS text
         |  FROM documents),
         |words AS (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(text,
         |  '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'),
         |  '\\s+', ' ', 'g')), ' ') AS w FROM d),
         |sh AS (SELECT DISTINCT doc_id, unnest(
         |  CASE WHEN len(w) >= 3
         |  THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         |  ELSE [array_to_string(w, ' ')] END) AS sh FROM words),
         |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
         |SELECT s.doc_id AS id, count(*) AS n_overlap
         |FROM sh s JOIN ev ON s.sh = ev.sh
         |WHERE s.doc_id % 97 <> 0
         |GROUP BY s.doc_id ORDER BY id""".stripMargin,
    // same shingle CTEs, totals via a second aggregate, ratio through
    // the shared scale4 (floor(x*1e4 + 0.5))
    "curation_contamination_score" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(
        |  CASE WHEN len(w) >= 3
        |  THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |  ELSE [array_to_string(w, ' ')] END) AS sh FROM words),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0),
        |tot AS (SELECT doc_id AS id, count(*) AS n_shingles FROM corp GROUP BY doc_id),
        |ov AS (SELECT c.doc_id AS id, count(*) AS n_overlap
        |  FROM corp c JOIN ev ON c.sh = ev.sh GROUP BY c.doc_id)
        |SELECT t.id, t.n_shingles,
        |  CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(FLOOR(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) /
        |    CAST(t.n_shingles AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS frac_x1e4
        |FROM tot t LEFT JOIN ov o ON o.id = t.id ORDER BY t.id""".stripMargin,
    "llm_pipeline_full" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 10 < 3),
         |edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
         |reach(x, y) AS (
         |  SELECT x, y FROM edges
         |  UNION
         |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
         |labels AS (SELECT x AS id, LEAST(x, MIN(y)) AS cluster FROM reach GROUP BY x),
         |kept AS (SELECT source, doc_id, n_chars, text FROM documents
         |  WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)),
         |ranked AS (SELECT source, doc_id, n_chars, text,
         |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM kept),
         |capped AS (SELECT source, doc_id, text FROM ranked WHERE rk <= $CAP),
         |toks AS (SELECT source, doc_id,
         |  len(string_split_regex(text, '\\s+')) AS n_tok FROM capped),
         |packed AS (SELECT source, doc_id, n_tok,
         |  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM toks)
         |SELECT source, doc_id, n_tok,
         |  CAST(FLOOR((cum - n_tok) / $BUDGET.0) AS BIGINT) AS seq
         |FROM packed ORDER BY source, doc_id""".stripMargin,
    // operation-for-operation mirror of Curation.canonicalUrl: same
    // regexes (shared Java/RE2 subset), same lambda filter, same sort
    "curation_url_canon" ->
      """WITH u AS (SELECT
        |  'HtTpS://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) || '.COM:443/Path' || CAST(doc_id % 7 AS VARCHAR) ||
        |  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |  '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR) || '&a=1' ||
        |  CASE WHEN doc_id % 4 = 0 THEN '&fbclid=xyz' ELSE '' END ||
        |  '#frag' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |c AS (SELECT
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u),
        |d AS (SELECT scheme,
        |  lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
        |  regexp_replace(rest, '^[^/?#]*', '') AS pathq FROM c),
        |e AS (SELECT scheme,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |       ELSE hostport END AS host,
        |  regexp_replace(regexp_extract(pathq, '^([^?#]*)', 1), '/+$', '') AS tpath,
        |  regexp_extract(pathq, '\?([^#]*)', 1) AS query FROM d),
        |f AS (SELECT scheme, host,
        |  CASE WHEN tpath = '' THEN '/' ELSE tpath END AS path,
        |  array_to_string(list_sort(list_filter(string_split(query, '&'),
        |    x -> x <> '' AND NOT regexp_matches(x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)(=|$)'))), '&') AS q
        |  FROM e)
        |SELECT scheme || '://' || host || path ||
        |  CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url,
        |  count(*) AS n_docs
        |FROM f GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    // same hosts, same label algebra (negative list indexing = Spark's
    // negative element_at), same suffix set — interpolated from the
    // ONE Scala Seq so the two engines can never drift
    "curation_domain_extract" -> {
      val suffixes = Curation.MultiSuffixes.map(s => s"'$s'").mkString(", ")
      s"""WITH h AS (SELECT CASE
         |    WHEN doc_id % 5 = 0 THEN 'www.example' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
         |    WHEN doc_id % 5 = 1 THEN 'blog.example' || CAST(doc_id % 7 AS VARCHAR) || '.com'
         |    WHEN doc_id % 5 = 2 THEN 'a.b.example' || CAST(doc_id % 7 AS VARCHAR) || '.com.au'
         |    WHEN doc_id % 5 = 3 THEN 'example' || CAST(doc_id % 7 AS VARCHAR) || '.io'
         |    ELSE 'sub.shop' || CAST(doc_id % 7 AS VARCHAR) || '.github.io' END AS host
         |  FROM documents),
         |s AS (SELECT host, string_split(host, '.') AS ls FROM h),
         |r AS (SELECT CASE
         |    WHEN len(ls) <= 2 THEN host
         |    WHEN list_contains([$suffixes], ls[-2] || '.' || ls[-1])
         |      THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         |    ELSE ls[-2] || '.' || ls[-1] END AS domain FROM s)
         |SELECT domain, count(*) AS n_docs FROM r
         |GROUP BY domain ORDER BY domain""".stripMargin
    },
    // same graph, same fixed-point update (rank div outd per edge,
    // 150000 + (85·Σ) div 100), three iterations unrolled as CTEs
    "curation_domain_authority" -> {
      def iter(prev: String, out: String) =
        s"""$out AS (SELECT n.id,
           |  150000 + (85 * coalesce(s.s, 0)) // 100 AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, CAST(sum(p.rank // d.outd) AS BIGINT) AS s
           |    FROM edges e JOIN deg d ON d.src = e.src
           |    JOIN $prev p ON p.id = e.src
           |    GROUP BY e.dst) s ON s.id = n.id)""".stripMargin
      s"""WITH raw AS (SELECT DISTINCT doc_id % 20 AS src,
         |    (doc_id * 7 + 3) % 20 AS dst FROM documents),
         |edges AS (SELECT src, dst FROM raw WHERE src <> dst),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |deg AS (SELECT src, count(*) AS outd FROM edges GROUP BY src),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT id, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY id""".stripMargin
    },
    // the three stages' oracle algebras chained as CTEs: the strip
    // chain (script → style → comments → tags → entities, 'g' flags),
    // the verbatim PII patterns, then the chunk start-set algebra
    "curation_text_pipeline" -> {
      val Seq(email, ip, ssn, phone) = TA.piiPatterns.map(_._2)
      val ent = TA.htmlEntities
        .foldLeft("s") { case (acc, (e, r)) =>
          s"replace($acc, '${e.replace("'", "''")}', '${r.replace("'", "''")}')"
        }
      s"""WITH p AS (SELECT doc_id,
         |  '<html><body><h1>T</h1><p>' || text || ' mail u' ||
         |  CAST(doc_id AS VARCHAR) ||
         |  '@example.com</p><script>var s=1;</script><!-- c --></body></html>' AS h
         |  FROM documents),
         |s1 AS (SELECT doc_id, regexp_replace(h, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g') AS s FROM p),
         |s2 AS (SELECT doc_id, regexp_replace(s, '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g') AS s FROM s1),
         |s3 AS (SELECT doc_id, regexp_replace(s, '(?s)<!--.*?-->', ' ', 'g') AS s FROM s2),
         |s4 AS (SELECT doc_id, regexp_replace(s, '<[^>]+>', ' ', 'g') AS s FROM s3),
         |s5 AS (SELECT doc_id, $ent AS s FROM s4),
         |c0 AS (SELECT doc_id, trim(regexp_replace(s, '[ \t\r\n]+', ' ', 'g')) AS t1 FROM s5),
         |sc AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t1,
         |    '$email', '<EMAIL>', 'g'),
         |    '$ip', '<IP>', 'g'),
         |    '$ssn', '<SSN>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS t2 FROM c0),
         |tk AS (SELECT doc_id,
         |    list_filter(string_split_regex(t2, '[ \t\r\n]+'), x -> x <> '') AS toks
         |  FROM sc),
         |ss AS (SELECT doc_id, toks, len(toks) AS n,
         |    greatest(len(toks) - 32, 0) AS m
         |  FROM tk WHERE len(toks) > 0),
         |e AS (SELECT doc_id, toks, n,
         |    unnest(list_distinct(list_append(range(0, m + 1, 24), m))) AS start
         |  FROM ss)
         |SELECT doc_id,
         |  CAST((start + 23) // 24 AS INT) AS chunk_id,
         |  CAST(least(32, n - start) AS INT) AS n_tokens,
         |  array_to_string(toks[start + 1 : start + 32], ' ') AS chunk
         |FROM e ORDER BY doc_id, chunk_id""".stripMargin
    },
    // same whitespace class, same start-set algebra (range ∪ tail
    // snap), same arithmetic chunk_id — DuckDB's 1-based inclusive
    // list slice is Spark's slice(start+1, 32)
    "curation_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\r\n]+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS n,
        |    greatest(len(toks) - 32, 0) AS m
        |  FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, toks, n,
        |    unnest(list_distinct(list_append(range(0, m + 1, 24), m))) AS start
        |  FROM s)
        |SELECT doc_id,
        |  CAST((start + 23) // 24 AS INT) AS chunk_id,
        |  CAST(least(32, n - start) AS INT) AS n_tokens,
        |  array_to_string(toks[start + 1 : start + 32], ' ') AS chunk
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    // same synthesized lines, same lower(trim) normalization, same
    // >= 50 distinct-doc threshold; position-indexed via the
    // UNNEST(generate_series) zip and reassembled with an ordered
    // string_agg (NULLs skip on both sides)
    "curation_boilerplate" ->
      """WITH d AS (SELECT doc_id,
        |  concat_ws(chr(10),
        |    'Cookie Notice: this site uses cookies',
        |    text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter' END,
        |    'permalink ' || CAST(doc_id AS VARCHAR)) AS text
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d),
        |l AS (SELECT doc_id, t.pos, p.parts[t.pos] AS line,
        |    lower(trim(p.parts[t.pos])) AS n
        |  FROM p, UNNEST(generate_series(1, len(p.parts))) AS t(pos)),
        |bad AS (SELECT n FROM l GROUP BY n HAVING count(DISTINCT doc_id) >= 50),
        |k AS (SELECT doc_id, pos, line,
        |    n IN (SELECT n FROM bad) AS isbad FROM l)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT isbad THEN line END, chr(10)
        |    ORDER BY pos), '') AS text_clean,
        |  count(CASE WHEN NOT isbad THEN 1 END) AS n_kept,
        |  count(CASE WHEN isbad THEN 1 END) AS n_dropped
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // hash32(doc_id, 's7', 'strat') mirrored as md5 hex-slice; the
    // threshold floor(rate·2^32) is exact integer math on both sides
    "sample_stratified" ->
      """WITH h AS (SELECT lang,
        |    CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':s7:strat'), 1, 8)) AS BIGINT) AS h32,
        |    CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.35 ELSE 0.2 END AS rate
        |  FROM documents)
        |SELECT lang, count(*) AS n_in,
        |  count(*) FILTER (WHERE h32 < CAST(floor(rate * 4294967296.0) AS BIGINT)) AS n_sampled
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    "curation_mix" ->
      """WITH cnt AS (SELECT source, count(*) AS n_in FROM documents GROUP BY source),
        |r AS (SELECT source, n_in,
        |    least(1.0, (CASE WHEN source IN ('src0','src1','src2') THEN 0.4 ELSE 0.04 END) * 400.0 / n_in) AS rate
        |  FROM cnt),
        |h AS (SELECT d.source, r.n_in, r.rate,
        |    CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || ':s7:mix'), 1, 8)) AS BIGINT) AS h32
        |  FROM documents d JOIN r USING (source))
        |SELECT source, any_value(n_in) AS n_in,
        |  CAST(floor(any_value(rate) * 1e4 + 0.5) AS BIGINT) AS rate4,
        |  count(*) FILTER (WHERE h32 < CAST(floor(rate * 4294967296.0) AS BIGINT)) AS n_sampled
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
    // hash32(doc_id, 's7', 'split') bucketed by cumulative bounds
    // 0.8/0.9 — the same first-true-branch-wins CASE as the engine's
    // nested when
    "curation_split" ->
      """WITH h AS (SELECT lang,
        |    CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':s7:split'), 1, 8)) AS BIGINT) AS h32
        |  FROM documents)
        |SELECT CASE
        |    WHEN h32 < CAST(floor(CAST(0.8 AS DOUBLE) * 4294967296.0) AS BIGINT) THEN 'train'
        |    WHEN h32 < CAST(floor((CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE)) * 4294967296.0) AS BIGINT) THEN 'val'
        |    ELSE 'test' END AS split,
        |  lang, count(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    // the url_canon CTE chain carried per-doc, then min-doc_id keeper
    // join, the domain_extract label algebra on the canonical host,
    // and the single-window cap (== the two-phase salted cap by the
    // proven containment property)
    "curation_web_pipeline" -> {
      val suffixes = Curation.MultiSuffixes.map(s => s"'$s'").mkString(", ")
      s"""WITH u AS (SELECT doc_id, n_chars,
         |  'HtTpS://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) || '.COM:443/Path' || CAST(doc_id % 7 AS VARCHAR) ||
         |  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
         |  '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR) || '&a=1' ||
         |  CASE WHEN doc_id % 4 = 0 THEN '&fbclid=xyz' ELSE '' END ||
         |  '#frag' || CAST(doc_id AS VARCHAR) AS url
         |  FROM documents),
         |c AS (SELECT doc_id, n_chars,
         |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u),
         |d AS (SELECT doc_id, n_chars, scheme,
         |  lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
         |  regexp_replace(rest, '^[^/?#]*', '') AS pathq FROM c),
         |e AS (SELECT doc_id, n_chars, scheme,
         |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
         |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
         |       ELSE hostport END AS host,
         |  regexp_replace(regexp_extract(pathq, '^([^?#]*)', 1), '/+$$', '') AS tpath,
         |  regexp_extract(pathq, '\\?([^#]*)', 1) AS query FROM d),
         |f AS (SELECT doc_id, n_chars, scheme || '://' || host ||
         |  CASE WHEN tpath = '' THEN '/' ELSE tpath END ||
         |  CASE WHEN q = '' THEN '' ELSE '?' || q END AS curl
         |  FROM (SELECT *, array_to_string(list_sort(list_filter(string_split(query, '&'),
         |    x -> x <> '' AND NOT regexp_matches(x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)(=|$$)'))), '&') AS q
         |    FROM e)),
         |k AS (SELECT curl, min(doc_id) AS doc_id FROM f GROUP BY curl),
         |kj AS (SELECT f.curl, f.doc_id, f.n_chars FROM f JOIN k USING (curl, doc_id)),
         |dom AS (SELECT doc_id, n_chars, CASE
         |    WHEN len(ls) <= 2 THEN host
         |    WHEN list_contains([$suffixes], ls[-2] || '.' || ls[-1])
         |      THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         |    ELSE ls[-2] || '.' || ls[-1] END AS domain
         |  FROM (SELECT *, string_split(host, '.') AS ls
         |    FROM (SELECT *, regexp_extract(curl, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host FROM kj))),
         |ranked AS (SELECT domain, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM dom)
         |SELECT domain, count(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM ranked WHERE rk <= $CAP GROUP BY 1 ORDER BY domain""".stripMargin
    },
    // same split hash as curation_split (seed s11), same shard hash
    // (tag 'shard', mod 4), token count via the shared \s+ split
    "curation_shards" ->
      """WITH h AS (SELECT
        |    CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':s11:split'), 1, 8)) AS BIGINT) AS hsplit,
        |    CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':s11:shard'), 1, 8)) AS BIGINT) AS hshard,
        |    len(string_split_regex(text, '\s+')) AS n_tok
        |  FROM documents)
        |SELECT CASE
        |    WHEN hsplit < CAST(floor(CAST(0.9 AS DOUBLE) * 4294967296.0) AS BIGINT) THEN 'train'
        |    WHEN hsplit < CAST(floor((CAST(0.9 AS DOUBLE) + CAST(0.05 AS DOUBLE)) * 4294967296.0) AS BIGINT) THEN 'val'
        |    ELSE 'test' END AS split,
        |  CAST(hshard % 4 AS INTEGER) AS shard,
        |  count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM h GROUP BY 1, 2 ORDER BY split, shard""".stripMargin,
  )
}

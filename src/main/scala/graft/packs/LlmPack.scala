package graft.packs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.core.Tables
import graft.llm.{Ann, Curation, Dedup, Markup, Multimodal, TextAnalysis => TA}

/** Oracle-checked queries for text analysis, similarity search, and
  * the multimodal binary path (documents + embeddings fixtures). */
object LlmPack extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Shared markdown wrapper for the markup gates: fixture structure
    * exercising every rule class, with real corpus text in between. */
  private[packs] val mdPrefix = "# Doc\n\n> "
  private[packs] val mdSuffix =
    "\n\n**bold** *em* `code` [link](http://x) ![img](u) <b>tag</b> " +
      "&amp;lt; &quot;q&quot;\n---\n```scala\nin fence\n```" +
      // r17 rule classes: setext heading, bullet + ordered-list
      // markers, _em_, ~~strike~~, reference-style link + its
      // definition line, and the snake_case non-mangling trap
      "\nTitle\n====\n- item _one_\n2. item ~~two~~ [ref text][r1]\n" +
      "[r1]: http://ref \"t\"\nsnake_case_name stays" +
      // r18 rule classes: numeric/named typography entities (decimal,
      // hex, named — it&#8217;s → it’s) and a pipe table (separator
      // line drops, cell pipes flatten to spaces). The no-outer-pipe
      // table form: this literal interpolates into stripMargin'd
      // oracle SQL, where a leading '|' would read as the margin
      // character and vanish; MarkupSpec covers the piped form.
      "\nit&#8217;s &#x201C;q&#x201D; a&#8212;b &hellip; x&#160;y" +
      "\nh1 | h2\n---|---:\nc1 | c2" +
      // r20 rule class: CRLF line endings — the chain's FIRST rule
      // normalizes \r\n to \n before any (?m) anchor or the fence
      // split runs (Java's $ matches before \r\n, RE2's only before
      // \n, so un-normalized CRLF text diverges across engines).
      // One anchored heading and one full fence pair under CRLF
      // exercise both the keep- and drop-fence variants; the pair
      // keeps the document's fence count even.
      "\r\n## cr heading\r\n```crlf\r\ncr fenced\r\n```\r\nafter cr"
  private def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"

  /** Mixed Korean/ASCII corpus for the byte-level BPE gates: every
    * fixture string is printable ASCII, so the gate appends Korean
    * phrases deterministically by key — two engine-identical halves
    * (this builder and [[mixedKoreanHistSql]]) of the same
    * construction. Customer names supply the digit-rich long-tail
    * vocabulary (the text_bpe_merges_256 rationale); the Korean
    * phrases supply high-frequency multi-byte UTF-8 words. */
  private val koreanA = "데이터 정제 파이프라인"
  private val koreanB = "한국어 말뭉치 토크나이저"

  /** 36-codepoint Korean prefix shared by the winnowing gate's two
    * mixed-script rows (>= w+k-1, so >= 1 shared fingerprint is the
    * MOSS guarantee). */
  private val koreanSpan = "반복되는 한국어 평문 구간이 말뭉치 전체에 그대로 복제되어 있다 "
  private def mixedKoreanCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer").select(
      concat(col("c_name"),
        when(col("c_custkey") % 3 === 0, lit(" " + koreanA))
          .when(col("c_custkey") % 3 === 1, lit(" " + koreanB))
          .otherwise(lit(""))).as("text"))
  private lazy val mixedKoreanHistSql: String =
    s"""SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |      SELECT unnest(regexp_split_to_array(
       |        c_name || CASE WHEN c_custkey % 3 = 0 THEN ${sqlLit(" " + koreanA)}
       |                       WHEN c_custkey % 3 = 1 THEN ${sqlLit(" " + koreanB)}
       |                       ELSE '' END, '\\s+')) AS word FROM customer)
       |    WHERE length(word) > 0 GROUP BY word""".stripMargin
  private lazy val mdCleanSql: String =
    Markup.oracleExpr(s"${sqlLit(mdPrefix)} || text || ${sqlLit(mdSuffix)}")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Two-step projection: score each language ONCE in the lower
    // select, then fold the guess over the projected attributes.
    // CollapseProject keeps the projects separate (regexp_count is
    // non-cheap and multiply-referenced), so the 4 regex scans run
    // once per row instead of once per comparison arm.
    "text_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TA.langScore(col("text"), "en").as("s_en"),
        TA.langScore(col("text"), "es").as("s_es"),
        TA.langScore(col("text"), "de").as("s_de"),
        TA.langScore(col("text"), "fr").as("s_fr"))
        .select(col("doc_id"), col("s_en"), col("s_es"), col("s_de"),
          col("s_fr"),
          TA.langGuessFrom(Seq("en" -> col("s_en"), "es" -> col("s_es"),
            "de" -> col("s_de"), "fr" -> col("s_fr"))).as("lang_guess"))
        .orderBy("doc_id")),
    "text_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.bpeishTokenCount(col("text")).as("n_bpe_tokens"),
        graft.functions.F.scale4(TA.stopwordRatio(col("text"))).as("stop_x1e4"),
        graft.functions.F.scale4(TA.punctRatio(col("text"))).as("punct_x1e4"),
        graft.functions.F.scale4(TA.qualityScore(col("text"))).as("quality_x1e4"))
        .orderBy("doc_id")),
    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    // HTML → text (TA.stripHtml): wrap each doc in a synthesized page
    // (style + script bodies, headings, an encoded-entity sentence, a
    // comment) and extract the prose back out. Tag-strip before
    // entity-decode, whitespace collapsed. Narrow, map-side only.
    "text_strip_html" -> ((s, dir) => {
      val page = concat(
        lit("<html><head><style>body{color:red}</style>"),
        lit("<script type=\"text/javascript\">var x=1;</script></head>"),
        lit("<body><h1>Doc "), col("doc_id").cast("string"), lit("</h1>"),
        lit("<p class=\"main\">"), col("text"), lit("</p>"),
        lit("<p>5 &lt; 7 &amp;&amp; 9 &gt; 2, &quot;q&#39;s&quot;&nbsp;end</p>"),
        lit("<!-- hidden note --></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), TA.stripHtml(page).as("text_clean"))
        .orderBy("doc_id")
    }),
    // Sentence segmentation (TA.sentences): the fixture text carries
    // no terminators, so append a deterministic multi-sentence tail —
    // each doc must yield its body plus three tail sentences, with
    // terminator runs kept and positions preserved.
    "text_sentences" -> ((s, dir) =>
      TA.sentences(
          docs(s, dir).select(col("doc_id"),
            concat(col("text"), lit(". Tail one! Tail two? End")).as("text")),
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "sent_id")),
    // Corpus-rarity scoring (TA.rarityScores): integer-exact unigram
    // rarity (bitlength of inverse frequency), floor-100× mean per doc.
    "text_rarity" -> ((s, dir) =>
      TA.rarityScores(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Release-tier composition: the scoring operators (unigram rarity
    // + bigram surprisal) combined into the keep/review/reject
    // decision a curation run ships — per (lang, tier) counts. The
    // thresholds are integer constants sitting at the corpus's upper
    // quantiles; composing adds two doc-keyed equi-joins and nothing
    // else to the plan.
    "curation_quality_tiers" -> ((s, dir) => {
      val d = docs(s, dir)
      val r = TA.rarityScores(d, "doc_id", "text")
        .select(col("id").as("doc_id"), col("rarity_x100"))
      val sp = TA.bigramSurprisal(d, "doc_id", "text")
        .select(col("id").as("doc_id"), col("surprisal_x100"))
      d.select(col("doc_id"), col("lang"))
        .join(r, "doc_id").join(sp, "doc_id")
        .withColumn("tier",
          when(col("surprisal_x100") >= 538 || col("rarity_x100") >= 507, lit("reject"))
            .when(col("surprisal_x100") >= 532 || col("rarity_x100") >= 504, lit("review"))
            .otherwise(lit("keep")))
        .groupBy("lang", "tier").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "tier")
    }),
    // Perplexity-proxy: per-doc mean bigram surprisal under the corpus
    // bigram model, pure integer ops (bitlength of the head/pair count
    // ratio) — flags shuffled/mashed text that unigram rarity scores
    // as ordinary.
    "text_bigram_surprisal" -> ((s, dir) =>
      TA.bigramSurprisal(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Stupid Backoff trigram LM scoring (TA.stupidBackoff): train on
    // the 90% slice (doc_id % 10 != 0), score EVERY doc by mean
    // per-token surprisal in exact x100 bits. Held-out docs get a
    // doc-unique " zzq<id> zzq<id>" tail so the OOV and oov-bigram
    // paths are exercised deterministically (the injection pattern the
    // PII gate established); backoff-to-bigram/unigram levels occur
    // naturally from cross-doc trigram variation.
    "text_lm_score" -> ((s, dir) => {
      val injected = when(col("doc_id") % 10 === 0,
        concat(col("text"),
          lit(" zzq"), col("doc_id").cast("string"),
          lit(" zzq"), col("doc_id").cast("string")))
        .otherwise(col("text"))
      TA.stupidBackoff(
          docs(s, dir).select(col("doc_id"), injected.as("text")),
          "doc_id", "text", col("doc_id") % 10 =!= 0)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // Min-K% Prob membership signal (TA.minKProb): the same LM and
    // doc prep as text_lm_score, but per doc the mean over its
    // ceil(20%·n) HIGHEST-surprisal tokens — the contamination audit
    // that flags memorized-but-lightly-edited text the verbatim
    // screens miss.
    "text_min_k_prob" -> ((s, dir) => {
      val injected = when(col("doc_id") % 10 === 0,
        concat(col("text"),
          lit(" zzq"), col("doc_id").cast("string"),
          lit(" zzq"), col("doc_id").cast("string")))
        .otherwise(col("text"))
      TA.minKProb(
          docs(s, dir).select(col("doc_id"), injected.as("text")),
          "doc_id", "text", col("doc_id") % 10 =!= 0, kPct = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // CCNet-style perplexity buckets (Wenzek et al. 2020 §4.3): the
    // LM scores composed into the decision the pipeline actually
    // ships — per-language head/middle/tail TERCILES by perplexity
    // (head = lowest = cleanest; CCNet trains on head+middle). Tercile
    // = ntile(3) over (lang, score, doc_id) — rank-based and
    // deterministic, identical semantics in both engines. The per-lang
    // window sort is the exact-oracle choice; a 100 TB deployment
    // would cut at approx-quantile thresholds instead (same outputs up
    // to boundary ties, no global sort).
    "curation_ccnet_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val lm = TA.stupidBackoff(d, "doc_id", "text", col("doc_id") % 10 =!= 0)
        .select(col("id").as("doc_id"), col("lm_bits_x100"))
      val w = Window.partitionBy("lang")
        .orderBy(col("lm_bits_x100"), col("doc_id"))
      d.select(col("doc_id"), col("lang"))
        .join(lm, "doc_id")
        .withColumn("bucket",
          when(ntile(3).over(w) === 1, lit("head"))
            .when(ntile(3).over(w) === 2, lit("middle"))
            .otherwise(lit("tail")))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          max(col("lm_bits_x100")).as("max_bits_x100"))
        .orderBy("lang", "bucket")
    }),
    // Distilled quality classifier (the FineWeb-Edu pattern: an
    // expensive scorer labels a slice, a cheap classifier learns the
    // labels and scores everything): LM terciles provide pseudo-labels
    // (head -> 'hi', tail -> 'lo', middle held out), Naive Bayes
    // trains on the labeled raw text, the whole corpus scores through
    // it, and the gate pins the (bucket x prediction) profile — the
    // distillation-faithfulness report a production run ships.
    "curation_model_filter" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val lm = TA.stupidBackoff(d, "doc_id", "text", col("doc_id") % 10 =!= 0)
        .select(col("id").as("doc_id"), col("lm_bits_x100"))
      val w = Window.partitionBy("lang")
        .orderBy(col("lm_bits_x100"), col("doc_id"))
      // r20: tiles feeds TWO consumers (NB pseudo-labels and the final
      // profile join) and its lineage is the whole LM + per-language
      // window — materialize the doc_id→bucket map once instead of
      // scoring the corpus through the LM twice.
      val tiles = d.select(col("doc_id"), col("lang")).join(lm, "doc_id")
        .withColumn("bucket",
          when(ntile(3).over(w) === 1, lit("head"))
            .when(ntile(3).over(w) === 2, lit("middle"))
            .otherwise(lit("tail")))
        .select("doc_id", "bucket")
        .localCheckpoint(true)
      val labeled = tiles.filter(col("bucket") =!= "middle")
        .join(d.select(col("doc_id"), col("text")), "doc_id")
        .withColumn("cls",
          when(col("bucket") === "head", lit("hi")).otherwise(lit("lo")))
      val model = TA.nbTrain(labeled, "text", "cls")
      TA.nbScore(d, "doc_id", "text", model)
        .select(col("id").as("doc_id"), col("pred"))
        .join(tiles, "doc_id")
        .groupBy("bucket", "pred").agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket", "pred")
    }),
    // Free-text PII scrub (TA.scrubPii): inject deterministic PII —
    // an email per doc, a phone on evens, an IPv4 on %3, an SSN on %5 —
    // then redact to typed placeholders and report per-kind audit
    // counts. A narrow regexp_replace chain, entirely map-side.
    "text_pii_scrub" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" call 010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-1234")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" ssn 123-45-6789"))
          .otherwise(lit("")))
      val counts = TA.piiCounts(injected).map { case (k, c) =>
        c.cast("long").as(s"n_$k") }
      docs(s, dir)
        .select(col("doc_id") +: TA.scrubPii(injected).as("text_clean") +:
          counts: _*)
        .orderBy("doc_id")
    }),
    // Markdown/HTML strip (Markup.stripMarkdown): each corpus doc is
    // wrapped in deterministic markdown structure exercising every
    // rule class (heading, blockquote, fences, emphasis, inline code,
    // link/image, inline HTML, entities incl. the &amp;lt;
    // double-decode trap), then flattened by the shared ordered rule
    // list — the SAME list generates the DuckDB twin, so the gate
    // locks Java/RE2 regex agreement ON REAL CORPUS TEXT, not just
    // the fixture wrapper. Narrow codegen'd projection, no shuffle.
    "text_markdown_strip" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        Markup.stripMarkdown(concat(
          lit(LlmPack.mdPrefix), col("text"), lit(LlmPack.mdSuffix))).as("clean"))
        .orderBy("doc_id")),
    // The prose-LM decision of the same strip: fenced-code BLOCKS
    // drop wholesale (dropFencedCode=true) instead of surviving as
    // bare content — the r18 explicit strip-vs-keep knob, gated on
    // real corpus text through the same shared-rule-list twin.
    "text_markdown_strip_nofence" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        Markup.stripMarkdown(concat(
          lit(LlmPack.mdPrefix), col("text"), lit(LlmPack.mdSuffix)),
          dropFencedCode = true).as("clean"))
        .orderBy("doc_id")),
    // The composed pre-tokenization stage: strip the same wrapped
    // markdown FIRST, then run the Gopher word/stopword rules over
    // the cleaned text — the bridge VERDICT r15 asked for (markup →
    // gopherRules), gated end to end.
    "text_markdown_gopher" -> ((s, dir) => {
      val clean = Markup.stripMarkdown(concat(
        lit(LlmPack.mdPrefix), col("text"), lit(LlmPack.mdSuffix)))
      val r = TA.gopherRules(clean).toMap
      docs(s, dir).select(col("doc_id"),
        r("n_words").as("n_words"),
        r("n_stop").as("n_stop"),
        r("keep").as("keep"))
        .orderBy("doc_id")
    }),
    // The composed r16 pre-tokenization chain, end to end: markdown
    // strip over the wrapped corpus → C4-style line dedup at the
    // newline grain (the wrapper's structural lines duplicate across
    // every doc — the first doc keeps them, all others drop) →
    // Gopher keep over the deduplicated text → per-source funnel.
    // Every stage is the production operator; the oracle chains the
    // three DuckDB twins arm for arm.
    "llm_pipeline_docs" -> ((s, dir) => {
      val d = docs(s, dir)
      val clean = d.select(col("doc_id"),
        Markup.stripMarkdown(concat(
          lit(LlmPack.mdPrefix), col("text"), lit(LlmPack.mdSuffix))).as("text"))
      val deduped = Dedup.lineDedup(clean, "doc_id", "text", "\n")
        .withColumnRenamed("id", "doc_id")
      val r = TA.gopherRules(col("clean_text")).toMap
      deduped.join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("n_dropped"), r("keep").as("keep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_dropped")).as("n_lines_dropped"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .orderBy("source")
    }),
    // The full CCNet pipeline in ONE query (Wenzek et al. 2020's
    // actual shape): markdown strip → corpus line dedup → train the
    // reference LM on the cleaned 90% slice → score → per-language
    // perplexity terciles. Every stage is the production operator;
    // the oracle chains the strip/dedup twins into the LM CTE algebra.
    "llm_pipeline_ccnet" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val clean = d.select(col("doc_id"),
        Markup.stripMarkdown(concat(
          lit(LlmPack.mdPrefix), col("text"), lit(LlmPack.mdSuffix))).as("text"))
      // Deliberately NOT checkpointed (unlike the distill/tokens
      // chains): this whole query is ONE action, so the strip+dedup
      // subtree's four consumers run as parallel branches of a single
      // job — an r20 sf1 pair read the checkpointed variant 1.04×
      // SLOWER (the barrier costs more than the absorbed duplication).
      // distill/tokens checkpoint because their consumers are SEPARATE
      // driver actions (the BPE histogram collects, the eager NB
      // train), where the prefix really does re-execute per action.
      val deduped = Dedup.lineDedup(clean, "doc_id", "text", "\n")
        .withColumnRenamed("id", "doc_id")
      val lm = TA.stupidBackoff(
          deduped.select(col("doc_id"), col("clean_text").as("text")),
          "doc_id", "text", col("doc_id") % 10 =!= 0)
        .select(col("id").as("doc_id"), col("lm_bits_x100"))
      val w = Window.partitionBy("lang")
        .orderBy(col("lm_bits_x100"), col("doc_id"))
      d.select(col("doc_id"), col("lang"))
        .join(lm, "doc_id")
        .withColumn("bucket",
          when(ntile(3).over(w) === 1, lit("head"))
            .when(ntile(3).over(w) === 2, lit("middle"))
            .otherwise(lit("tail")))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          max(col("lm_bits_x100")).as("max_bits_x100"))
        .orderBy("lang", "bucket")
    }),
    // The FineWeb-style distillation chain in ONE query (r18): strip
    // → corpus line dedup → reference-LM train on the cleaned 90%
    // slice → per-language perplexity terciles pseudo-label head/tail
    // → Naive Bayes distills the labels from the CLEANED text → the
    // FULL corpus scores through the broadcast NB model → the kept
    // ('hi') docs get deterministic 80/10/10 train/val/test splits →
    // per-(source, split) delivery counts. curation_model_filter
    // proves the stages; this is the composition a production run
    // ships, one optimizer pass over the whole DAG. Scale shape: the
    // expensive scorer (LM) touches one slice, the cheap model scores
    // everything through a vocab-sized broadcast, splits are a narrow
    // keyed-hash projection — nothing corpus-sized shuffles after the
    // dedup stage.
    "llm_pipeline_distill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val clean = d.select(col("doc_id"),
        Markup.stripMarkdown(concat(
          lit(LlmPack.mdPrefix), col("text"), lit(LlmPack.mdSuffix))).as("text"))
      // three consumers of the strip+dedup prefix (the LM stage, NB
      // training text, the full-corpus scoring stream) — materialize
      // once (the llm_pipeline_tokens rationale)
      val deduped = Dedup.lineDedup(clean, "doc_id", "text", "\n")
        .withColumnRenamed("id", "doc_id")
        .select(col("doc_id"), col("clean_text").as("text"))
        .localCheckpoint(true)
      val lm = TA.stupidBackoff(deduped, "doc_id", "text",
          col("doc_id") % 10 =!= 0)
        .select(col("id").as("doc_id"), col("lm_bits_x100"))
      val w = Window.partitionBy("lang")
        .orderBy(col("lm_bits_x100"), col("doc_id"))
      val tiles = d.select(col("doc_id"), col("lang")).join(lm, "doc_id")
        .withColumn("bucket",
          when(ntile(3).over(w) === 1, lit("head"))
            .when(ntile(3).over(w) === 2, lit("middle"))
            .otherwise(lit("tail")))
        .select("doc_id", "bucket")
      val labeled = tiles.filter(col("bucket") =!= "middle")
        .join(deduped, "doc_id")
        .withColumn("cls",
          when(col("bucket") === "head", lit("hi")).otherwise(lit("lo")))
      val model = TA.nbTrain(labeled, "text", "cls")
      val kept = TA.nbScore(deduped, "doc_id", "text", model)
        .select(col("id").as("doc_id"), col("pred"))
        .filter(col("pred") === "hi")
      Curation.assignSplits(
          kept.join(d.select(col("doc_id"), col("source")), "doc_id"),
          "doc_id", "s18", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "split")
    }),
    // The brief's dedup → filter → TOKENIZE chain, literally, in ONE
    // query (r18): strip → corpus line dedup → learn the BPE merges
    // from the cleaned corpus's own histogram (driver-side
    // Bpe.learnMerges — zero jobs per merge) → encode each DISTINCT
    // word once (Bpe.encode) → join token counts back to the
    // corpus by word → per-source delivery stats (docs, words,
    // tokens). The scale shape is the whole point of the design: the
    // corpus is scanned by strip/dedup and ONE histogram aggregate;
    // tokenization itself never touches a corpus row — it's a
    // vocab-sized broadcast join.
    // Byte-level tokenizer (r19): the corpus is NO LONGER fenced to
    // printable ASCII — merge learning and encoding run over UTF-8
    // byte atoms (byteLevel = true), which tokenize any
    // script with zero OOV, so the chain now covers the non-ASCII
    // documents the old rlike fence silently dropped.
    "llm_pipeline_tokens" -> ((s, dir) => {
      val d = docs(s, dir)
      val clean = d.select(col("doc_id"),
        Markup.stripMarkdown(concat(
          lit(LlmPack.mdPrefix), col("text"), lit(LlmPack.mdSuffix))).as("text"))
      // the strip+dedup prefix feeds THREE consumers (the merge
      // learner's histogram collect, the encoder's histogram collect,
      // and the corpus-side token join): localCheckpoint materializes
      // it once — compact (doc_id, clean_text) rows — instead of
      // re-running the 37-rule regex chain and the dedup shuffle per
      // consumer (measured 95 s → ~40 s at sf1)
      val deduped = Dedup.lineDedup(clean, "doc_id", "text", "\n")
        .withColumnRenamed("id", "doc_id")
        .select(col("doc_id"), col("clean_text"))
        .localCheckpoint(true)
      val hist = graft.llm.Bpe.wordHistogram(
        deduped.select(col("clean_text").as("text")), "text")
      val merges = graft.llm.Bpe.learnMerges(hist, 8, byteLevel = true)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val tok = graft.llm.Bpe.encode(hist, merges, byteLevel = true)
        .select(col("word"), col("n_toks"))
      val words = deduped.select(col("doc_id"),
          explode(split(col("clean_text"), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      val per = words.join(broadcast(tok), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_toks").cast("long")).as("n_toks"))
      per.join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_toks")).as("total_tokens"))
        .orderBy("source")
    }),
    // The brief's ACTUAL end-to-end shape, from raw BYTES (r17): a
    // binaryFile-scan-shaped relation of real FlateDecode PDFs
    // (rendered executor-side from the ASCII corpus subset, markdown
    // wrapper inside the page text) → PdfText.extractTextDf (per-file
    // COS parse + content lex, zero shuffle) → Markup.stripMarkdown →
    // Dedup.lineDedup → Gopher keep → per-source curation funnel, in
    // ONE query. Every stage is the production operator; the oracle
    // chains the per-stage DuckDB twins (extraction is bit-for-bit
    // identity on this subset — the pdf_corpus_roundtrip-gated fact
    // that lets the twin skip the byte stage).
    "llm_pipeline_binary" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val ascii = d
        .filter(col("text").rlike("^[\\x20-\\x7E]*$") && length(col("text")) > 0)
      val files = ascii.select(col("doc_id"), col("text"))
        .as[(Long, String)].map { case (id, t) =>
          val md = LlmPack.mdPrefix + t + LlmPack.mdSuffix
          val esc = md.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
          (id.toString,
            graft.ops.Pdf.makeTextPdf(Seq(s"BT 72 720 Td ($esc) Tj ET"), flate = true))
        }.toDF("name", "content")
      val pages = graft.ops.PdfText.extractTextDf(files)
        .filter(col("error") === "")
        .select(col("name").cast("long").as("doc_id"), col("text"))
      val clean = pages.select(col("doc_id"),
        Markup.stripMarkdown(col("text")).as("text"))
      val deduped = Dedup.lineDedup(clean, "doc_id", "text", "\n")
        .withColumnRenamed("id", "doc_id")
      val r = TA.gopherRules(col("clean_text")).toMap
      deduped.join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("n_dropped"), r("keep").as("keep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_dropped")).as("n_lines_dropped"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .orderBy("source")
    }),
    // Gopher-style rule filter (Rae et al. 2021 §A1.1): audit columns
    // + composite keep per doc, all codegen'd Column math; ratios
    // cross the oracle boundary as scale4 longs, the keep verdict
    // compares the RAW doubles (same IEEE divisions on both sides).
    "text_gopher_rules" -> ((s, dir) => {
      val r = TA.gopherRules(col("text")).toMap
      docs(s, dir).select(col("doc_id"),
        r("n_words").as("n_words"),
        graft.functions.F.scale4(r("mean_word_len")).as("mean_word_len"),
        graft.functions.F.scale4(r("alpha_frac")).as("alpha_frac"),
        r("n_stop").as("n_stop"),
        r("keep").as("keep"))
        .orderBy("doc_id")
    }),
    // Gopher repetition rules: duplicate-token + top-bigram fractions
    // (the counting complement to text_gopher_rules' ratio tests);
    // distributed bigram counting, fixed-point fractions.
    "text_repetition" -> ((s, dir) =>
      TA.repetitionMetrics(docs(s, dir), "doc_id", "text").orderBy("doc_id")),
    // Vocabulary head: explode whitespace tokens → partial+final hash
    // aggregate → TakeOrderedAndProject top-20 (count desc, term) —
    // the corpus-frequency query every tokenizer build starts with;
    // no global sort at any scale.
    "text_top_terms" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("term")).limit(20)),
    // Gopher word-count rule with the CJK fallback (r19): a pure-CJK
    // doc (fixture arm doc_id%5=0 — 26 Hangul syllables, ONE
    // whitespace token) keeps via the per-codepoint count where the
    // \s+ rule would reject it as a 1-word document; ASCII docs keep
    // the whitespace semantics untouched.
    "text_gopher_cjk" -> ((s, dir) => {
      val t = when(col("doc_id") % 5 === 0,
        lit("기계학습데이터정제파이프라인은대규모말뭉치를처리한다"))
        .otherwise(concat(col("text"),
          when(col("doc_id") % 5 === 1, lit(" 데이터 정제")).otherwise(lit(""))))
      val cols = col("doc_id") +:
        TA.cjkWordStats(t).map { case (n, c) => c.as(n) }
      docs(s, dir).select(cols: _*).orderBy("doc_id")
    }),
    // Script-first language ID for the CJK family (r19): stopword
    // profiles are blind to scripts without word spaces, so the
    // decision runs script counts first — ANY kana → ja (Japanese
    // prose is obligate kana; Chinese/Korean text has none), dominant
    // Hangul → ko, any Han → zh, else the stopword argmax. The
    // fixture corpus is ASCII, so the gate appends CJK phrases
    // deterministically by doc_id (ja/ko/zh/none arms).
    "text_lang_id_cjk" -> ((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" 日本語のテキスト"))
          .when(col("doc_id") % 4 === 1, lit(" 한국어 텍스트"))
          .when(col("doc_id") % 4 === 2, lit(" 中文文本分析"))
          .otherwise(lit("")))
      val cols = col("doc_id") +:
        (TA.scriptCounts(t) :+
          ("s_en" -> TA.langScore(t, "en")) :+
          ("s_es" -> TA.langScore(t, "es")) :+
          ("s_de" -> TA.langScore(t, "de")) :+
          ("s_fr" -> TA.langScore(t, "fr"))).map { case (n, c) => c.as(n) }
      docs(s, dir)
        .select(cols: _*)
        .select(col("doc_id"), col("hangul"), col("kana"), col("han"),
          TA.langGuessCjk(col("hangul"), col("kana"), col("han"),
            TA.langGuessFrom(Seq("en" -> col("s_en"), "es" -> col("s_es"),
              "de" -> col("s_de"), "fr" -> col("s_fr")))).as("lang_guess"))
        .orderBy("doc_id")
    }),
    // CJK-aware top terms (r19): Japanese/Korean runs — scripts
    // written without word spaces — tokenize PER CODEPOINT (the
    // CCNet convention, TA.cjkAwareTerms) so they contribute real
    // frequency rows instead of collapsing into one giant "word";
    // the fixture corpus is pure ASCII, so the gate appends CJK
    // phrases deterministically by doc_id (both engine and twin
    // build the same mixed corpus). Plan shape identical to
    // text_top_terms: one extra codegen'd regexp_replace, then
    // explode → hash agg → top-k.
    "text_top_terms_cjk" -> ((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" 日本語テキスト解析"))
          .when(col("doc_id") % 3 === 1, lit(" 데이터분석"))
          .otherwise(lit("")))
      docs(s, dir)
        .select(explode(TA.cjkAwareTerms(t)).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("term")).limit(30)
    }),
    // BPE tokenizer build, iteration-0 view: adjacent character-pair
    // counts over the word HISTOGRAM (vocab-sized — the corpus itself
    // is touched exactly once, by the histogram aggregate), weighted
    // by word frequency. Printable-ASCII words only so code-unit vs
    // code-point splitting conventions can't diverge across engines.
    "text_bpe_top_pairs" -> ((s, dir) =>
      graft.llm.Bpe.topPairs(docs(s, dir), "text", 20, asciiOnly = true)),
    // Full BPE merge learning (k=8): ONE histogram aggregate, then the
    // driver learns every merge over the vocab-sized table
    // (Bpe.learnMerges). Oracle: k is a fixed literal, so the greedy
    // iteration UNROLLS into k chained DuckDB CTEs (argmax + a
    // list-lambda merge application per round) — see
    // Bpe.mergesOracleSql; LlmSpec additionally property-checks the
    // learner against an in-memory reference BPE.
    "text_bpe_merges" -> ((s, dir) =>
      graft.llm.Bpe.learnMerges(graft.llm.Bpe.wordHistogram(
        docs(s, dir).filter(col("text").rlike("^[\\x20-\\x7E]*$")), "text"),
        8, byteLevel = false)),
    // BPE at REALISTIC merge depth (k=256) — the same learner
    // (Bpe.learnMerges): the corpus is touched by exactly ONE
    // histogram aggregate, the driver learns every merge over the
    // vocab-sized table with incremental pair-count deltas (no Spark
    // job per merge — the r17 scale ceiling). The synthetic documents
    // corpus has a 31-word vocabulary that saturates after ~89
    // merges, so this gate learns over customer names (1500 distinct
    // digit-rich words — 256 full rounds with pair mass to spare).
    // Oracle: the same 256 greedy rounds unrolled into MATERIALIZED
    // CTE pairs; LlmSpec property-checks learnMerges ≡ the naive
    // reference on random corpora.
    "text_bpe_merges_256" -> ((s, dir) =>
      graft.llm.Bpe.learnMerges(graft.llm.Bpe.wordHistogram(
        Tables.load(s, dir, "customer").select(col("c_name").as("text")),
        "text"), 256, byteLevel = false)),
    // Tokenizer INFERENCE at the same depth (Bpe.encode): each
    // DISTINCT word encodes driver-side (vocab-sized, the learnMerges
    // argument) by replaying the merges in rank order; a corpus then
    // joins token counts by word, never re-tokenizing rows.
    "text_bpe_encode_256" -> ((s, dir) => {
      val d = Tables.load(s, dir, "customer").select(col("c_name").as("text"))
      // ONE corpus pass: the vocab-sized histogram materializes once
      // and feeds both training and the encode input (r21 — the
      // learn→encode composition previously aggregated the corpus
      // twice for the same table).
      val hist = graft.llm.Bpe.wordHistogram(d, "text").localCheckpoint(true)
      val merges = graft.llm.Bpe.learnMerges(hist, 256, byteLevel = false)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.llm.Bpe
        .encode(hist, merges, byteLevel = false)
        .select(col("word"), col("cnt"),
          col("n_toks").cast("long").as("n_toks"),
          expr("toks[0]").as("first_tok"))
        .orderBy(desc("cnt"), asc("word")).limit(50)
    }),
    // Iteration-0 of BYTE-level BPE, fully distributed (no driver
    // collect): the hex projection is a narrow codegen'd expression,
    // so byte-pair statistics run at any corpus scale — the fence-
    // free twin of text_bpe_top_pairs.
    "text_bpe_bytes_top_pairs" -> ((s, dir) =>
      graft.llm.Bpe.topPairsBytes(mixedKoreanCorpus(s, dir), "text", 20)),
    // BYTE-LEVEL BPE (GPT-2 alphabet) at the same realistic depth:
    // words tokenize to their UTF-8 hex-pair atoms before learning,
    // so the tokenizer covers ANY script with zero OOV — the fixture
    // corpora are pure ASCII, so the gate manufactures a mixed
    // Korean/ASCII corpus deterministically in-query (the reference
    // app's own content is Korean markdown; a tokenizer that drops it
    // is not at parity). The hex rendering is identical under every
    // engine's string model (lower(hex(encode(word))) chunked in
    // twos), which is exactly the code-unit-portability issue the old
    // printable-ASCII fence existed to dodge — byte atoms make the
    // fence unnecessary.
    "text_bpe_bytes_256" -> ((s, dir) =>
      graft.llm.Bpe.learnMerges(graft.llm.Bpe.wordHistogram(
        mixedKoreanCorpus(s, dir), "text"), 256, byteLevel = true)),
    // Byte-level tokenizer inference at the same depth: each DISTINCT
    // word of the mixed corpus encodes once from its byte atoms with
    // exact replay-in-rank-order semantics; gate emits the 50 most
    // frequent words' token counts plus the first token (a hex run).
    "text_bpe_bytes_encode_256" -> ((s, dir) => {
      val d = mixedKoreanCorpus(s, dir)
      // ONE corpus pass shared by training and encode (the
      // text_bpe_encode_256 rationale).
      val hist = graft.llm.Bpe.wordHistogram(d, "text").localCheckpoint(true)
      val merges = graft.llm.Bpe.learnMerges(hist, 256, byteLevel = true)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.llm.Bpe
        .encode(hist, merges, byteLevel = true)
        .select(col("word"), col("cnt"),
          col("n_toks").cast("long").as("n_toks"),
          expr("toks[0]").as("first_tok"))
        .orderBy(desc("cnt"), asc("word")).limit(50)
    }),
    // PERSISTED tokenizer (r19 — the writeIndex lifecycle applied to
    // BPE): train the byte-level merges once over the mixed corpus,
    // write the ranked merge table + alphabet-mode meta under a dir,
    // reload, and encode through the artifact with ZERO training
    // passes — one tokenizer serving every later pipeline run. Same
    // oracle as the direct byte-encode gate: persisted ≡ in-memory
    // bit for bit.
    "text_bpe_tokenizer_persisted" -> ((s, dir) => {
      val d = mixedKoreanCorpus(s, dir)
      val tok = graft.core.Scratch.dir("graft_rt").resolve("bpe_tok").toString
      // ONE corpus pass: training writes the artifact from the same
      // materialized histogram the encode half consumes — the encode
      // itself still goes strictly through the LOADED artifact.
      val hist = graft.llm.Bpe.wordHistogram(d, "text").localCheckpoint(true)
      graft.llm.Bpe.writeTokenizer(hist, 256, tok, byteLevel = true)
      graft.llm.Bpe
        .encodeWithTokenizer(hist, tok)
        .select(col("word"), col("cnt"),
          col("n_toks").cast("long").as("n_toks"),
          expr("toks[0]").as("first_tok"))
        .orderBy(desc("cnt"), asc("word")).limit(50)
    }),
    // The tokenizer-INFERENCE half (Bpe.encode): replay the 8 learned
    // merges in rank order over the word histogram — each DISTINCT
    // word encodes once (vocab-sized work, never per corpus row); gate
    // emits the 50 most frequent words' token counts.
    "text_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").rlike("^[\\x20-\\x7E]*$"))
      // ONE corpus pass shared by training and encode (the
      // text_bpe_encode_256 rationale).
      val hist = graft.llm.Bpe.wordHistogram(d, "text").localCheckpoint(true)
      val merges = graft.llm.Bpe.learnMerges(hist, 8, byteLevel = false)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.llm.Bpe
        .encode(hist, merges, byteLevel = false)
        .select(col("word"), col("cnt"),
          col("n_toks").cast("long").as("n_toks"),
          expr("toks[0]").as("first_tok"))
        .orderBy(desc("cnt"), asc("word")).limit(50)
    }),
    // Winnowing fingerprints (TA.winnowFingerprints — the MOSS
    // algorithm): per doc, selected-fingerprint count and how many are
    // shared with another document — the contamination screen with the
    // ≥ w+k−1-char match guarantee at ~2/(w+1) storage.
    "text_winnow_fingerprints" -> ((s, dir) => {
      // r20 mixed-script arm: two extra docs share a 36-codepoint
      // Korean prefix (>= w+k-1 = 27), so a verbatim CJK span must
      // register shared fingerprints under the same guarantee as
      // ASCII — substring/length are codepoint-based on BOTH engines,
      // the convention is portable as-is.
      val base = docs(s, dir).filter(col("text").rlike("^[\\x20-\\x7E]*$"))
        .select(col("doc_id"), col("text"))
      val d = base.unionAll(docs(s, dir).filter(col("doc_id") < 2)
        .select((col("doc_id") + 9000000L).as("doc_id"),
          concat(lit(koreanSpan), col("text")).as("text")))
      // Deliberately uncached: the fingerprint subtree appears twice
      // (shared-count aggregate + join-back) but both branches run in
      // ONE job — r20 same-box pairs read the withCached variant
      // 1.08–1.09× slower at BOTH sf0.1 and sf1 (the materialization
      // barrier outweighs duplication the scheduler runs in parallel).
      val fp = TA.winnowFingerprints(d, "doc_id", "text", k = 20, w = 8)
      val shared = fp.groupBy("h").agg(countDistinct(col("id")).as("nd"))
      fp.join(shared, Seq("h"))
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_fp"))
        .orderBy("doc_id")
    }),
    // Corpus diversity per source: distinct-trigram share of all
    // trigram occurrences (×1e6) — the self-repetition screen that
    // scores templated/boilerplate-heavy sources low while the vocab
    // profile (unigram TTR) still looks healthy. One shingle scan
    // (codegen'd WordShingles, occurrences NOT deduped — repetition
    // is the signal), one aggregate.
    "text_trigram_diversity" -> ((s, dir) => {
      import graft.functions.F
      docs(s, dir)
        .select(col("source"),
          explode(F.toColumn(graft.functions.WordShingles(
            F.toExpr(col("text")), 3))).as("sh"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_trigrams"),
          countDistinct(col("sh")).as("n_distinct"))
        .withColumn("diversity_ppm", expr("n_distinct * 1000000 DIV n_trigrams"))
        .orderBy("source")
    }),
    // Token normalization: stopword removal + S-stemmer, then the
    // top-20 stems with how many surface forms each collapsed — the
    // pre-count normalizer that stops term statistics splitting
    // their mass across inflections.
    "text_stem_tokens" -> ((s, dir) => {
      val stems = TA.stemmedTokens(docs(s, dir), "doc_id", "text",
        Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for"))
      stems
        .groupBy("stem")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("stem")).limit(20)
    }),
    // TF-IDF keyword extraction per source — the weighted sibling of
    // text_top_terms: score = tf(source, term) × bitlength(N_docs div
    // df_docs(term)), pure integers so both engines rank identically.
    // Terms common to every doc get idf=bitlength(1)=1 and sink; the
    // per-source top-5 comes from a row_number over the |sources ×
    // vocab| aggregate, never the token stream.
    "text_tfidf_terms" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
      val df = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("dfd"))
      val n = docs(s, dir).agg(countDistinct(col("doc_id")).as("nd"))
      val scored = tf.join(df, "term").join(broadcast(n))
        .withColumn("score", col("tf") * length(bin(expr("nd div dfd"))))
      val w = Window.partitionBy("source")
        .orderBy(desc("score"), asc("term"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk").cast("long").as("rk"),
          col("term"), col("score"))
        .orderBy("source", "rk")
    }),
    // Lexical retrieval (llm/Search.scala): integer-exact BM25 top-25
    // for a 4-term query over the inverted index — postings filtered
    // to the query's term set before any join, per-term idf and the
    // 1-row corpus totals broadcast, TakeOrderedAndProject top-k.
    "search_bm25_topk" -> ((s, dir) =>
      graft.llm.Search.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "window", "stream"), k = 25)),
    // Hybrid retrieval: reciprocal-rank fusion of the BM25 list and
    // the brute-cosine list for query vector 0 (doc_id ≡ vec_id in the
    // fixture) — integer-exact fused scores, k=20 both sides.
    "search_hybrid_rrf" -> ((s, dir) =>
      graft.llm.Search.hybridRrf(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "window", "stream"),
        emb(s, dir), queryVecId = 0L, k = 20)),
    // Positional postings (llm/Search.scala): 1-based first position +
    // tf per (query term, doc) — the index slice a phrase/proximity
    // scorer consumes; bounded output via doc_id < 120.
    "search_positions" -> ((s, dir) =>
      graft.llm.Search.positionalPostings(docs(s, dir), "doc_id", "text",
          Seq("spark", "join", "window", "stream"))
        .filter(col("doc_id") < 120)
        .orderBy("term", "doc_id")),
    // Exact phrase query over the positional index: consecutive-
    // position joins on query-sized postings (the explode is filtered
    // to the phrase's terms before any shuffle, so the joined slice
    // is phrase-sized, not corpus-sized).
    "search_phrase_match" -> ((s, dir) =>
      graft.llm.Search.phraseMatch(docs(s, dir), "doc_id", "text",
          Seq("table", "scan", "merge"))
        .orderBy("doc_id")),
    // MMR diversification re-rank (Search.mmrRerank): brute top-10
    // retrieval pool per query, pairwise in-pool cosines, then the
    // λ=0.7 greedy as three bounded pool-sized rounds — the
    // serving-side pass between retrieval and the context window.
    "search_mmr_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 2)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      // pool + pairwise sims both probe repeatedly inside the greedy
      // rounds — cache both for the one materializing run, then release
      graft.core.Materialize.withCached2(
        Ann.cosineTopK(q, c, 10)
          .select(col("qid"), col("vec_id"), col("cos_x1e4").as("rel_x1e4")))(
        pool => {
          val pe = pool.select("qid", "vec_id").join(e, Seq("vec_id"))
            .select(col("qid"), col("vec_id"), col("embedding"))
          pe.select(col("qid"), col("vec_id").as("a"), col("embedding").as("xe"))
            .as("x")
            .join(pe.select(col("qid"), col("vec_id").as("b"),
              col("embedding").as("ye")).as("y"),
              col("x.qid") === col("y.qid") && col("a") =!= col("b"))
            .select(col("x.qid").as("qid"), col("a"), col("b"),
              Ann.cosScaled("xe", "ye").as("sim_x1e4"))
        }) { (pool, sims) =>
        graft.llm.Search.mmrRerank(pool, sims, k = 3, lambdaNum = 7)
          .orderBy("qid", "step")
      }
    }),
    // RAKE keywords (TA.rakeKeywords): stopword-delimited candidate
    // phrases via gaps-and-islands, degree/frequency word scores,
    // integer phrase ranking, TakeOrdered top-20.
    "text_rake_keywords" -> ((s, dir) =>
      TA.rakeKeywords(docs(s, dir), "doc_id", "text",
        Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for"), 20)),
    // Integer Flesch reading-ease (×1000): words/sentences/syllables
    // from three narrow regex counts (sentences = terminator runs
    // min 1; syllables = vowel groups — the documented heuristics),
    // folded through the classic 206.835 − 1.015·w/s − 84.6·syl/w
    // formula in truncation-consistent fixed point. The readability
    // leg of the quality-scoring family.
    "text_readability" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("n_sentences"),
          regexp_count(lower(col("text")), lit("[aeiouy]+"))
            .cast("long").as("n_syllables"))
        .filter(col("n_words") > 0)
        .withColumn("flesch_x1000", expr(
          """206835L - (1015L * (n_words * 1000L div n_sentences)) div 1000L
            |- (84600L * (n_syllables * 1000L div n_words)) div 1000L""".stripMargin))
        .orderBy("doc_id")),
    // Supervised multinomial Naive Bayes (TA.nbTrain/nbScore): the
    // fastText-shaped curation classifier, trained on the 9/10
    // held-in split and scored over the WHOLE corpus in one plan.
    // Weights are integer bit-length surprisal, so the model itself
    // crosses the oracle boundary exactly; argmin ties break on class.
    "text_nb_classify" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = TA.nbTrain(d.filter(col("doc_id") % 10 =!= 0), "text", "lang")
      TA.nbScore(d, "doc_id", "text", model)
        .join(d.select(col("doc_id").as("id"), col("lang").as("actual")), Seq("id"))
        .select(col("id").as("doc_id"), col("actual"), col("pred"), col("score"),
          (col("pred") === col("actual")).as("correct"))
        .orderBy("doc_id")
    }),
    // Vocabulary profile per source: token volume, distinct vocabulary
    // and type-token ratio (×1e6 integer fixed point) — the Heaps-law
    // corpus health check, one aggregate over the exploded stream.
    "text_vocab_by_source" -> ((s, dir) =>
      docs(s, dir)
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("total_tokens"),
          countDistinct(col("term")).as("distinct_terms"))
        .withColumn("ttr_x1e6",
          expr("distinct_terms * 1000000L div total_tokens"))
        .orderBy("source")),
    // §2.13 sketch surface, frequency form: Count-Min (d=3, w=1024)
    // over the token stream — ONE pass, O(d·w) bounded state per
    // partial, element-wise-sum merge — next to the exact top-20 it
    // approximates. At 100 TB the exact form shuffles every distinct
    // term; the sketch ships 24 KB. Buckets are keyed-md5 built-ins
    // (codegen'd), so the DuckDB oracle reproduces the ESTIMATE
    // bit-for-bit — the same contract as kmv_distinct/bloom. The
    // estimate column is CMS-inflated wherever buckets collide, and
    // the oracle agrees on every collision.
    "cms_heavy_hitters" -> ((s, dir) => {
      import graft.functions.Cms
      val w = 1024
      // The sketch and its exact-top-20 companion each scan the token
      // stream; re-exploding from the (column-pruned) parquet scan
      // measures CHEAPER than persisting the exploded rows (1.30 vs
      // 1.88 s at sf0.1) — narrow re-computation beats caching wide.
      val terms = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val Seq(b0, b1, b2) = Cms.buckets(col("term"), w)
      val sketch = terms.agg(Cms.build(b0, b1, b2, w).as("cms"))
      terms.groupBy("term").agg(count(lit(1)).as("n_exact"))
        .orderBy(desc("n_exact"), asc("term")).limit(20)
        .crossJoin(broadcast(sketch))
        .select(col("term"), col("n_exact"),
          Cms.estimate(col("cms"), b0, b1, b2).as("n_cms"))
        .orderBy(desc("n_exact"), asc("term"))
    }),
    // The full curation decision: resolve dup clusters (same chain
    // fixture as dedup_clusters), then keep the HIGHEST-QUALITY member
    // of each cluster — argmax via the packed-long min idiom (ties →
    // smallest id), one hash aggregate, no window.
    "dedup_keeper_quality" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .filter(col("a") % 10 < 3)
      val clusters = graft.llm.Dedup.dupClusters(pairs)
      val scored = d.select(col("doc_id").as("id"),
        graft.functions.F.scale4(TA.qualityScore(col("text"))).as("q"))
      clusters.join(scored, "id")
        .select(col("cluster"),
          ((lit(10000L) - col("q")) * 4294967296L + col("id")).as("p"))
        .groupBy("cluster").agg(min(col("p")).as("p"))
        .select(col("cluster"), expr("p % 4294967296").as("keeper_id"),
          (lit(10000L) - expr("p DIV 4294967296")).as("keeper_q_x1e4"))
        .orderBy("cluster")
    }),
    "ann_topk_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      Ann.cosineTopK(q, c, 10).orderBy("qid", "rank")
    }),
    // Matryoshka-style prefix tier: retrieval on the FIRST 8
    // dimensions only (MRL-trained embeddings order information by
    // prefix, so the truncation is the cheap coarse tier — the
    // dimensionality sibling of int8 quantization's byte lever).
    // Slicing happens in the scan projection, so the crossJoin ships
    // quarter-size vectors; scores and ranks are exact over the
    // truncated geometry and the oracle mirrors the same slice.
    "ann_topk_truncated" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        expr("slice(embedding, 1, 8)").as("emb8"))
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("emb8").as("qe"))
      val c = e.select(col("vec_id"), col("emb8").as("ce"))
      Ann.cosineTopK(q, c, 10).orderBy("qid", "rank")
    }),
    // Int8-quantized brute cosine: same contract as ann_topk_brute at
    // a quarter of the candidate-side bytes — the storage/IO lever for
    // an embedding corpus at scale. Scales cancel in the cosine, so
    // every score term is an exact integer and the oracle reproduces
    // the quantized ranking bit-for-bit.
    "ann_topk_quantized" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      Ann.cosineTopKInt8(q, c, TOPK)
        .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank")
    }),
    // Real in-engine IVF: seeded centroids + 2 Lloyd steps + multi-probe
    // (Ann.scala scaladoc covers the fixed-point determinism story and
    // why recall on this isotropic fixture tracks the scanned fraction).
    // STREAMING retrieval over the static IVF index (AnnStream): six
    // query vectors arrive in two real micro-batches; the corpus-side
    // bucket assignment is computed ONCE and reused across batches
    // (the serving shape). Union of emissions ≡ single-shot ivfTopK,
    // which the oracle recomputes with the shared ivf CTEs at maxQ=6.
    "ann_stream_topk" -> ((s, dir) =>
      graft.streaming.AnnStream.retrieveViaFileSink(
        s, dir, NC, LLOYD, TOPK, NPROBE)),
    "ann_topk_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      val cent = Ann.ivfCentroids(c, NC, LLOYD)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.ivfTopK(q, c, cent, TOPK, NPROBE)
        .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank")
    }),
    // Product quantization (Ann.pqCodebooks/pqEncode/pqTopK): the
    // storage-side compression lever next to IVF's scan pruning —
    // 64 floats become PQ_M one-byte codes, and search is asymmetric
    // distance computation (per-query lookup tables, integer-summed).
    // Codebooks are per-subspace L2 k-means from the same seeded-Lloyd
    // build; every stage is fixed-point deterministic, so the oracle
    // reproduces the full train→encode→ADC-rank pipeline bit-for-bit.
    "ann_topk_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      val cb = Ann.pqCodebooks(c, PQ_M, PQ_K, LLOYD)
      val enc = Ann.pqEncode(c, cb)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.pqTopK(q, enc, cb, TOPK)
        .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank")
    }),
    // PQ with the standard exact second stage: ADC shortlists PQ_SHORT
    // candidates from codes alone; only those vectors' full embeddings
    // are read back and re-ranked by exact cosine — within-cluster ADC
    // ties (shared reconstructions) resolve to the true order while
    // full-precision reads stay |q|·shortlist, not corpus-sized.
    "ann_topk_pq_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      val cb = Ann.pqCodebooks(c, PQ_M, PQ_K, LLOYD)
      val enc = Ann.pqEncode(c, cb)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.pqTopKReranked(q, enc, cb, c, TOPK, PQ_SHORT)
        .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank")
    }),
    // The composed IVF+PQ architecture (FAISS IndexIVFPQ shape, MIPS
    // metric): IVF prunes WHICH vectors are read (probed buckets), PQ
    // shrinks WHAT a read costs (residual codes, one int + m bytes per
    // vector). Residuals — vector minus its bucket centroid — spend
    // the codebook budget where the data lives; scoring is the ADC
    // identity dot(q, x_hat) = dot(q, centroid) + residual-table sum,
    // every term a x1e6 integer before aggregation.
    "ann_topk_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      val cent = Ann.ivfCentroids(c, NC, LLOYD)
      // residuals cache once for their two consumers (codebook
      // training, encoding); the bucket rides through the encode
      // projection instead of a corpus-wide re-attach join (r20 —
      // the writeIndexPq build shape, applied to the in-memory gate;
      // scoped Materialize lifecycle, nothing stays cached after)
      graft.core.Materialize.withCached(Ann.ivfResiduals(c, cent)) { res =>
        val cb = Ann.pqCodebooksCached(
          res.select(col("vec_id"), col("re").as("ce")), PQ_M, PQ_K, LLOYD,
          seed = "ivfpq")
        val enc = Ann.pqEncode(
            res.select(col("vec_id"), col("bucket"), col("re").as("ce")),
            cb, keep = Seq("bucket"))
          .select(col("vec_id"), col("bucket"), col("codes"))
        val q = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        Ann.ivfpqTopK(q, cent, cb, enc, TOPK, NPROBE)
          .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank")
      }
    }),
    // INCREMENTAL index maintenance: yesterday's corpus (6/7 of the
    // vectors) trains the centroids; today's arrivals assign to the
    // FROZEN geometry and append — no re-cluster, no touch of the old
    // assignment. Because assignment is a narrow row-wise expression,
    // the incremental union is definitionally equal to a full
    // reassignment under the same centroids, which is exactly what
    // the oracle computes (centroid CTEs restricted to the base
    // subset, corpus assignment over everything). The search result
    // over the merged index is the gate.
    "ann_incremental_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val all = e.select(col("vec_id"), col("embedding").as("ce"))
      val base = all.filter(col("vec_id") % 7 =!= 0)
      val fresh = all.filter(col("vec_id") % 7 === 0)
      val cent = Ann.ivfCentroids(base, NC, LLOYD)
      val assigned = Ann.assignBuckets(base, cent)
        .unionByName(Ann.assignBuckets(fresh, cent))
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.ivfTopKPreassigned(q, assigned, cent, TOPK, NPROBE)
        .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank")
    }),
    // Filter-pipeline REJECTION FUNNEL: the ops view of the Gopher
    // rule set — per rule (in pipeline order) how many docs fail it
    // outright, how many are rejected AT this stage (failed here,
    // passed everything earlier — the rule's marginal cost), and how
    // many survive through it. ONE pass over the corpus: the booleans
    // are codegen'd Column math and a single aggregate produces every
    // counter; the 3-row funnel is a stack() over that one row, so
    // the corpus is never touched per-rule.
    "curation_reject_funnel" -> ((s, dir) => {
      val r = TA.gopherRules(col("text")).toMap
      val flags = docs(s, dir).select(
        (r("n_words") >= 20 && r("n_words") <= 100000).as("p1"),
        (r("mean_word_len") >= 3.0 && r("mean_word_len") <= 10.0).as("p2"),
        (r("n_stop") >= 1).as("p3"))
      def cnt(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      flags.agg(
        count(lit(1)).as("n_input"),
        cnt(!col("p1")).as("f1"), cnt(!col("p2")).as("f2"),
        cnt(!col("p3")).as("f3"),
        cnt(col("p1") && !col("p2")).as("m2"),
        cnt(col("p1") && col("p2") && !col("p3")).as("m3"),
        cnt(col("p1")).as("s1"),
        cnt(col("p1") && col("p2")).as("s2"),
        cnt(col("p1") && col("p2") && col("p3")).as("s3"))
        .selectExpr(
          """stack(3,
            |  CAST(1 AS BIGINT), 'word_count',    f1, f1, s1,
            |  CAST(2 AS BIGINT), 'mean_word_len', f2, m2, s2,
            |  CAST(3 AS BIGINT), 'stopword',      f3, m3, s3)
            |AS (rule_idx, rule, n_fail, n_marginal, n_surviving)""".stripMargin,
          "n_input")
        .orderBy("rule_idx")
    }),
    // SEMANTIC DIVERSITY CAP: the embedding-space sibling of
    // curation_domain_cap — assign every doc's embedding to the
    // k-means geometry (the same narrow argmax expression the IVF
    // index uses: zero exchange per pass), then keep the CCAP longest
    // docs per cluster via the two-phase salted top-k, so one huge
    // topic can neither dominate the mix nor concentrate in a single
    // window partition. doc_id ≡ vec_id in the fixture.
    "curation_cluster_cap" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding").as("ce"))
      val cent = Ann.ivfCentroids(e, NC, LLOYD)
      val assigned = Ann.assignBuckets(e, cent).select("vec_id", "bucket")
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
      val joined = assigned.join(d, col("vec_id") === col("doc_id"))
      graft.llm.Curation.topKPerKey(
          joined.select(col("bucket"), col("vec_id"), col("n_chars")),
          "bucket", Seq(col("n_chars").desc, col("vec_id")),
          saltOn = col("vec_id"), k = CCAP, salt = 4)
        .select(col("bucket").cast("long").as("bucket"),
          col("vec_id").as("doc_id"), col("n_chars"),
          col("rk").cast("long").as("rk"))
        .orderBy("bucket", "rk")
    }),
    // IVF × int8: bucket restriction AND quantized scoring in one
    // query — the full 100 TB composition (assignment geometry full
    // precision; the candidate pair loop integer-only on quarter-size
    // vectors). Oracle composes the ivf CTEs with the quantization
    // CTEs — bit-exact like both parents.
    "ann_topk_ivf_quantized" -> ((s, dir) => {
      val e = emb(s, dir)
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      val cent = Ann.ivfCentroids(c, NC, LLOYD)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.ivfTopKInt8(q, c, cent, TOPK, NPROBE)
        .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank")
    }),
    // PERSISTED index serving: build → write (centroids + bucket-
    // clustered assignments + file manifest) → reload → query. The
    // result must hash-match the in-memory ivfTopK build (same oracle
    // SQL), and the serving path re-reads parquet only — zero
    // re-clustering (AnnSpec plan-locks the pruned scan).
    "ann_index_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      val idx = graft.core.Scratch.dir("graft_rt").resolve("ann_idx").toString
      Ann.writeIndex(c, idx, NC, LLOYD, files = 4)
      // deploy-boundary staleness guard: recorded fingerprint must
      // match the corpus being served (r15 — fails loud otherwise)
      Ann.verifyIndex(s, idx, c)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.ivfTopKPersisted(s, q, idx, TOPK, NPROBE)
        .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank")
    }),
    // Persisted IVF+PQ index (r18 — closes the r17 "PQ codebook build
    // amortized across queries" gap): writeIndexPq materializes
    // centroids + residual codebooks + the bucket-clustered encoded
    // corpus (one int + m bytes per vector) with the same
    // corpus-checksum guard; serving loads the metadata tables,
    // file-prunes the encoded rows to the probed bucket spans, and
    // runs the ADC identity with ZERO training passes. Same oracle as
    // ann_topk_ivfpq — the persisted path must reproduce the
    // in-memory build bit for bit.
    "ann_index_pq_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      val idx = graft.core.Scratch.dir("graft_rt").resolve("ann_pq_idx").toString
      Ann.writeIndexPq(c, idx, NC, PQ_M, PQ_K, LLOYD, files = 4,
        pqSeed = "ivfpq")
      Ann.verifyIndex(s, idx, c)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.ivfpqTopKPersisted(s, q, idx, TOPK, NPROBE)
        .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank")
    }),
    // INCREMENTAL add to the persisted IVF+PQ index (r19 — closes the
    // r18 "rebuild-only" gap): the base 6/7 of the corpus pays the
    // full writeIndexPq build; today's arrivals encode against the
    // FROZEN centroids + codebooks and append bucket-clustered files,
    // extending the manifest with only the new files' stats and
    // XOR-rolling the fingerprint (so verifyIndex against the union
    // passes with zero rescans). Assignment and encoding are
    // deterministic row-wise expressions of the frozen geometry, so
    // the served results are bit-for-bit what a single encode pass
    // over the union would produce — which is what the oracle
    // computes (training CTEs restricted to the base subset, encode
    // over everything).
    "ann_incremental_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val all = e.select(col("vec_id"), col("embedding").as("ce"))
      val base = all.filter(col("vec_id") % 7 =!= 0)
      val fresh = all.filter(col("vec_id") % 7 === 0)
      val idx = graft.core.Scratch.dir("graft_rt").resolve("ann_pq_inc").toString
      Ann.writeIndexPq(base, idx, NC, PQ_M, PQ_K, LLOYD, files = 4,
        pqSeed = "ivfpq")
      Ann.appendIndexPq(fresh, idx, files = 2)
      Ann.verifyIndex(s, idx, all)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.ivfpqTopKPersisted(s, q, idx, TOPK, NPROBE)
        .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank")
    }),
    // COMPACTION after append generations (r19): appends overlap the
    // base layout's bucket spans (a point probe reads one extra file
    // per generation — the LSM tradeoff); compaction re-clusters the
    // encoded rows into one generation WITHOUT re-training or
    // re-encoding, so the served results are identical — which is the
    // gate: same oracle as the incremental add.
    "ann_index_compact" -> ((s, dir) => {
      val e = emb(s, dir)
      val all = e.select(col("vec_id"), col("embedding").as("ce"))
      val base = all.filter(col("vec_id") % 7 =!= 0)
      val fresh = all.filter(col("vec_id") % 7 === 0)
      val idx = graft.core.Scratch.dir("graft_rt").resolve("ann_pq_cmp").toString
      Ann.writeIndexPq(base, idx, NC, PQ_M, PQ_K, LLOYD, files = 4,
        pqSeed = "ivfpq")
      Ann.appendIndexPq(fresh, idx, files = 2)
      Ann.compactIndexPq(s, idx, files = 4)
      Ann.verifyIndex(s, idx, all)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.ivfpqTopKPersisted(s, q, idx, TOPK, NPROBE)
        .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank")
    }),
    // STAGED-generation commit (r20): compaction writes a NEW
    // generation directory and publishes it through the Wap CAS —
    // the atomic commit-file rename is the only mutation a reader
    // can observe, so a mid-compact crash leaves the old generation
    // serving (AnnSpec proves the torn state). The gate stacks TWO
    // compactions: resolution must track the latest published
    // generation and serve results identical to the single-pass
    // encode — same oracle as the incremental add.
    "ann_index_compact_staged" -> ((s, dir) => {
      val e = emb(s, dir)
      val all = e.select(col("vec_id"), col("embedding").as("ce"))
      val base = all.filter(col("vec_id") % 7 =!= 0)
      val fresh = all.filter(col("vec_id") % 7 === 0)
      val idx = graft.core.Scratch.dir("graft_rt").resolve("ann_pq_stg").toString
      Ann.writeIndexPq(base, idx, NC, PQ_M, PQ_K, LLOYD, files = 4,
        pqSeed = "ivfpq")
      Ann.appendIndexPq(fresh, idx, files = 2)
      Ann.compactIndexPq(s, idx, files = 4)
      Ann.compactIndexPq(s, idx, files = 3)
      Ann.verifyIndex(s, idx, all)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.ivfpqTopKPersisted(s, q, idx, TOPK, NPROBE)
        .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank")
    }),
    // Measured IVF recall vs the exact baseline over 20 queries —
    // the honest quality gate for the approximate path. Ann.ivfRecall
    // scores every (query, vector) pair ONCE and derives both the
    // exact rank and the candidate rank from a single fused window
    // sort — no persist, no second scoring pass (Ann.scala scaladoc).
    "ann_ivf_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val c = e.select(col("vec_id"), col("embedding").as("ce"))
      val cent = Ann.ivfCentroids(c, NC, LLOYD)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ann.ivfRecall(q, c, cent, TOPK, NPROBE).orderBy("qid")
    }),
    // Embedding-cosine near-dup: the corpus doubles with exact-copy
    // vectors (known positives at cos=1.0); the self-join is
    // bucket-restricted through the IVF assignment — the embedding
    // twin of MinHash-LSH banding, never all-pairs.
    "dedup_embedding" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding").as("ce"))
      val c = base.unionAll(
        base.select((col("vec_id") + 1000000).as("vec_id"), col("ce")))
      val cent = Ann.ivfCentroids(base, DUP_NC, LLOYD)
      Ann.embeddingDupPairs(c, cent, DUP_T).orderBy("a", "b")
    }),
    // Random-hyperplane LSH near-dup (Charikar 2002): the k-means-free
    // embedding sibling of text SimHash — 64 deterministic integer
    // hyperplanes (keyed md5, regenerated exactly by the oracle), sign
    // bits through the shared banded-Hamming kernel. Doubled corpus:
    // exact copies share every sign bit and surface at distance 0.
    "dedup_rhp_embedding" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding").as("ce"))
      val c = base.unionAll(
        base.select((col("vec_id") + 1000000).as("vec_id"), col("ce")))
      Ann.rhpNearDupPairs(c).orderBy("a", "b")
    }),
    // SemDeDup (Abbas et al. 2023): the APPLIED semantic-dedup
    // decision — embedding-cosine pairs (bucket-restricted, the gate
    // above) resolve to connected components via label propagation,
    // one representative (min id) survives per component, never-paired
    // vectors pass through. The keep-everything-not-proven-duplicate
    // contract shared with the text and image dedup paths.
    "dedup_semantic_apply" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding").as("ce"))
      val c = base.unionAll(
        base.select((col("vec_id") + 1000000).as("vec_id"), col("ce")))
      val cent = Ann.ivfCentroids(base, DUP_NC, LLOYD)
      val pairs = Ann.embeddingDupPairs(c, cent, DUP_T).select(col("a"), col("b"))
      Dedup.keepAfterDedup(c.select(col("vec_id")), "vec_id",
          Dedup.dupClusters(pairs))
        .orderBy("vec_id")
    }),
    // Composite curation pass — the end-to-end shape of a training-data
    // pipeline: language gate + quality gate + exact-dedup keeper
    // filter in one pull over the doubled corpus (known duplicates).
    // Every stage is a narrow map or one hash aggregate; the keeper
    // filter is a semi-join on doc_id.
    "curation_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.select(col("doc_id"), col("text")).unionAll(
        d.select((col("doc_id") + 1000000).as("doc_id"),
          when(col("doc_id") % 50 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" zzz9"))).as("text")))
      // Scores project ONCE, then the n²-pair argmax fold and the
      // quality gate read attributes (the text_lang_id one-pass fix;
      // TA.langGuess inline would re-run the 4 regex scans per
      // comparison arm).
      val scored = corpus
        .select(col("doc_id"), col("text"),
          TA.langScore(col("text"), "en").as("s_en"),
          TA.langScore(col("text"), "es").as("s_es"),
          TA.langScore(col("text"), "de").as("s_de"),
          TA.langScore(col("text"), "fr").as("s_fr"))
        .select(col("doc_id"),
          TA.langGuessFrom(Seq("en" -> col("s_en"), "es" -> col("s_es"),
            "de" -> col("s_de"), "fr" -> col("s_fr"))).as("lang"),
          graft.functions.F.scale4(
            TA.qualityScoreFrom(col("s_en"), col("text"))).as("q_x1e4"))
        .filter(col("lang") === "en" && col("q_x1e4") >= QUALITY_MIN)
      val keepers = corpus.groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id"))
      scored.join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("q_x1e4"))
        .orderBy("doc_id")
    }),
    // Resize + perceptual feature-extract (average hash) on the same
    // executor-side mapPartitions path. The fixture images are built
    // so their 8x8 aHash is INVARIANT to interpolation details: solid
    // images hash to 0 (strict > mean), half-split images set exactly
    // the half's bits regardless of how the resampler weights the
    // boundary; a non-image payload degrades to fmt='skip' with nulls.
    "multimodal_resize_ahash" -> ((s, dir) => {
      import s.implicits._
      def img(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
        val b = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until w).foreach(x => (0 until h).foreach(y => b.setRGB(x, y, rgb(x, y))))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(b, "png", out)
        out.toByteArray
      }
      val media = Seq(
        (1L, img(32, 32)((_, _) => 0x000000)),
        (2L, img(16, 48)((_, _) => 0xFFFFFF)),
        (3L, img(64, 64)((x, _) => if (x < 32) 0xFFFFFF else 0x000000)),
        (4L, img(40, 40)((_, y) => if (y < 20) 0xFFFFFF else 0x000000)),
        (5L, "not an image".getBytes("UTF-8"))).toDF("media_id", "content")
      // skip-row nulls crossed as sentinels: a nullable bool/int64
      // column degrades to float64/object on the compare boundary
      // (and a >2^53 ahash would lose bits in float64)
      Multimodal.resizeAndHash(media, 8, 8)
        .select(col("media_id"), col("fmt"),
          coalesce(col("width"), lit(-1)).as("width"),
          coalesce(col("height"), lit(-1)).as("height"),
          coalesce(col("n_bytes") > 0, lit(false)).as("nonempty"),
          coalesce(col("ahash"), lit(-1L)).as("ahash"))
        .orderBy("media_id")
    }),
    // Perceptual near-dup pairs: the banded-Hamming kernel shared with
    // text SimHash, fed by executor-side aHash. 8x8 sources make the
    // hash exact by construction (identity resize, extreme lumas that
    // no mean shift can re-threshold): a one-cell edit sits 1 bit from
    // the checkerboard, an exact copy 0 bits, the half-split image
    // shares no band, the non-image payload drops before the join.
    "multimodal_ahash_neardup" -> ((s, dir) => {
      import s.implicits._
      def img8(rgb: (Int, Int) => Int): Array[Byte] = {
        val b = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 8).foreach(x => (0 until 8).foreach(y => b.setRGB(x, y, rgb(x, y))))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(b, "png", out)
        out.toByteArray
      }
      def checker(x: Int, y: Int): Int =
        if ((x + y) % 2 == 0) 0xFFFFFF else 0x000000
      val media = Seq(
        (1L, img8(checker)),
        (2L, img8((x, y) => if (x == 0 && y == 0) 0x000000 else checker(x, y))),
        (3L, img8(checker)),
        (4L, img8((x, _) => if (x < 4) 0xFFFFFF else 0x000000)),
        (5L, "not an image".getBytes("UTF-8"))).toDF("media_id", "content")
      Multimodal.ahashNearDupPairs(media)
        .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
        .orderBy("a", "b")
    }),
    // DCT pHash (Multimodal.phashBytes): 32x32 fixtures make the
    // resize the identity and the hash DERIVABLE — the asserted
    // cancellation sums force all-AC-zero for solids (gray -> DC bit
    // only = 1, black -> 0) and confine a half-split's energy to one
    // DCT row/column whose signs follow the half-range cosine sums
    // (vertical -> bits {0,8,40}, horizontal -> bits {0,1,5}); a
    // non-image payload keeps its row with the -1 sentinel.
    "multimodal_phash" -> ((s, dir) => {
      import s.implicits._
      def img32(rgb: (Int, Int) => Int): Array[Byte] = {
        val b = new java.awt.image.BufferedImage(32, 32,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 32).foreach(x => (0 until 32).foreach(y => b.setRGB(x, y, rgb(x, y))))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(b, "png", out)
        out.toByteArray
      }
      val media = Seq(
        (1L, img32((_, _) => 0x808080)),
        (2L, img32((_, _) => 0x000000)),
        (3L, img32((x, _) => if (x < 16) 0xFFFFFF else 0x000000)),
        (4L, img32((_, y) => if (y < 16) 0xFFFFFF else 0x000000)),
        (5L, "not an image".getBytes("UTF-8"))).toDF("media_id", "content")
      graft.llm.Multimodal.phash64(media)
        .select(col("media_id"), coalesce(col("phash"), lit(-1L)).as("phash"))
        .orderBy("media_id")
    }),
    // pHash near-dup pairs through the shared banded-Hamming kernel:
    // the fixture hashes above give every pairwise distance by set
    // algebra — gray{0} black{} vert{0,8,40} horiz{0,1,5} copy=vert —
    // so the <=3-bit pair list is derivable: solids pair with
    // everything (all solids are perceptually dull — correct), the two
    // orthogonal splits sit 4 bits apart and do NOT pair, the exact
    // copy pairs at 0.
    "multimodal_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      def img32(rgb: (Int, Int) => Int): Array[Byte] = {
        val b = new java.awt.image.BufferedImage(32, 32,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 32).foreach(x => (0 until 32).foreach(y => b.setRGB(x, y, rgb(x, y))))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(b, "png", out)
        out.toByteArray
      }
      val media = Seq(
        (1L, img32((_, _) => 0x808080)),
        (2L, img32((_, _) => 0x000000)),
        (3L, img32((x, _) => if (x < 16) 0xFFFFFF else 0x000000)),
        (4L, img32((_, y) => if (y < 16) 0xFFFFFF else 0x000000)),
        (5L, "not an image".getBytes("UTF-8")),
        (6L, img32((x, _) => if (x < 16) 0xFFFFFF else 0x000000))).toDF("media_id", "content")
      graft.llm.Multimodal.phashNearDupPairs(media)
        .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
        .orderBy("a", "b")
    }),
    // The applied image-dedup decision: perceptual pairs → min-label
    // clusters → keep one representative per cluster. The undecodable
    // payload passes through (no hash, no pair, not a dup) — the same
    // keep-everything-not-proven-duplicate contract as the text path.
    "multimodal_dedup_apply" -> ((s, dir) => {
      import s.implicits._
      def img8(rgb: (Int, Int) => Int): Array[Byte] = {
        val b = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 8).foreach(x => (0 until 8).foreach(y => b.setRGB(x, y, rgb(x, y))))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(b, "png", out)
        out.toByteArray
      }
      def checker(x: Int, y: Int): Int =
        if ((x + y) % 2 == 0) 0xFFFFFF else 0x000000
      val media = Seq(
        (1L, img8(checker)),
        (2L, img8((x, y) => if (x == 0 && y == 0) 0x000000 else checker(x, y))),
        (3L, img8(checker)),
        (4L, img8((x, _) => if (x < 4) 0xFFFFFF else 0x000000)),
        (5L, "not an image".getBytes("UTF-8"))).toDF("media_id", "content")
      val pairs = Multimodal.ahashNearDupPairs(media)
      graft.llm.Dedup.keepAfterDedup(media, "media_id",
          graft.llm.Dedup.dupClusters(pairs))
        .select(col("media_id")).orderBy("media_id")
    }),
    // Full mapPartitions decode path over binary media built from text.
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.decode(Multimodal.fromText(docs(s, dir), "doc_id", "text"))
        .orderBy("media_id")),
    // REAL codec decode over executor partitions: a PNG and a JPEG
    // rendered through javax.imageio, a WAV synthesized through
    // javax.sound (1 s of 8 kHz PCM), an MP4 with a hand-built
    // ISO-BMFF moov tree, and an unrecognized payload degrading to the
    // raw fallback — all decoded by Multimodal.decode's mapPartitions
    // path, metadata asserted against construction-time constants.
    "multimodal_real_decode" -> ((s, dir) => {
      import s.implicits._
      def png(w: Int, h: Int, fmt: String): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until w).foreach(x => (0 until h).foreach(y =>
          img.setRGB(x, y, (x * 31 + y * 7) & 0xFFFFFF)))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, fmt, out)
        out.toByteArray
      }
      def wav(frames: Int, rateHz: Int): Array[Byte] = {
        val pcm = Array.tabulate(frames)(i => (i % 251).toByte) // 8-bit mono
        val afmt = new javax.sound.sampled.AudioFormat(rateHz.toFloat, 8, 1, false, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), afmt, frames.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        out.toByteArray
      }
      def box(typ: String, payload: Array[Byte]): Array[Byte] = {
        val size = payload.length + 8
        Array[Byte](((size >> 24) & 0xFF).toByte, ((size >> 16) & 0xFF).toByte,
          ((size >> 8) & 0xFF).toByte, (size & 0xFF).toByte) ++
          typ.getBytes("ISO-8859-1") ++ payload
      }
      def be32(v: Long): Array[Byte] = Array[Byte](((v >> 24) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      val mp4: Array[Byte] = {
        // v0 mvhd: ver/flags + ctime + mtime + timescale=1000 + duration=2500
        val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++
          be32(2500) ++ Array.fill(80)(0.toByte))
        // v0 tkhd: 84-byte payload, width/height 16.16 at the tail
        val tkhd = box("tkhd", Array.fill(76)(0.toByte) ++
          be32(320L << 16) ++ be32(240L << 16))
        box("ftyp", "isom0000isom".getBytes("ISO-8859-1")) ++
          box("moov", mvhd ++ box("trak", tkhd))
      }
      val media = s.createDataFrame(
        java.util.Arrays.asList(
          Row(1L, png(12, 8, "png"), "image"),
          Row(2L, png(20, 10, "jpg"), "image"),
          Row(3L, wav(8000, 8000), "audio"),
          Row(4L, mp4, "video"),
          Row(5L, "not a media file".getBytes("UTF-8"), "image")),
        Multimodal.mediaSchema)
      Multimodal.decode(media)
        .select(col("media_id"), col("fmt"), col("n_bytes") > 0,
          col("width"), col("height"), col("duration_ms"))
        .toDF("media_id", "fmt", "nonempty", "width", "height", "duration_ms")
        .orderBy("media_id")
    }),
    // Unicode NFC dedup keys (functions.NfcNormalize, SQL
    // nfc_normalize): composed (U+00E9) and decomposed (e+U+0301)
    // spellings — byte-distinct, visually identical — must collapse
    // to ONE key before any exact dedup. Controlled VALUES fixture;
    // DuckDB runs its own nfc_normalize over chr()-built twins.
    "text_nfc_dedup_key" -> ((s, dir) => {
      import s.implicits._
      val fx = Seq(
        (1L, "Café Latte"),   // composed é
        (2L, "Café Latte"),  // decomposed e + combining acute
        (3L, "cafe latte"),        // plain ascii — stays distinct
        (4L, "Café LATTE"),   // composed, case-folded twin
        (5L, "naïve"),        // composed ï
        (6L, "naïve"))       // decomposed i + combining diaeresis
        .toDF("doc_id", "text")
      fx.select(col("doc_id"),
          lower(graft.functions.F.toColumn(graft.functions.NfcNormalize(
            graft.functions.F.toExpr(col("text"))))).as("key"))
        .groupBy("key")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
        .orderBy("key")
    }),
    // Integer-exact audio features (Multimodal.audioFeatures): PCM
    // energy / peak / zero-crossings over hand-built WAVs — 8-bit
    // unsigned, 16-bit mono, 16-bit stereo interleave, plus a junk
    // payload that must degrade to 'skip'. Every output is an integer
    // computed from the PCM definition, so the oracle is VALUES.
    "multimodal_audio_features" -> ((s, dir) => {
      def wav8(samples: Array[Int], rateHz: Int): Array[Byte] = {
        val pcm = samples.map(v => (v + 128).toByte)
        val afmt = new javax.sound.sampled.AudioFormat(rateHz.toFloat, 8, 1, false, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), afmt, samples.length.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        out.toByteArray
      }
      def wav16(samples: Array[Int], rateHz: Int, channels: Int): Array[Byte] = {
        val pcm = new Array[Byte](samples.length * 2)
        samples.indices.foreach { i =>
          pcm(2 * i) = (samples(i) & 0xFF).toByte
          pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
        }
        val afmt = new javax.sound.sampled.AudioFormat(rateHz.toFloat, 16, channels, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), afmt, (samples.length / channels).toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        out.toByteArray
      }
      val media = s.createDataFrame(
        java.util.Arrays.asList(
          Row(1L, wav8(Array(0, 2, -2, 0), 8000), "audio"),
          Row(2L, wav16(Array(1000, -1000, 0, 500, -500), 16000, 1), "audio"),
          Row(3L, wav16(Array(100, -100, 200, -200), 16000, 2), "audio"),
          Row(4L, "not audio at all".getBytes("UTF-8"), "audio")),
        Multimodal.mediaSchema)
      Multimodal.audioFeatures(media).orderBy("media_id")
    }),
    // Perceptual audio near-dup: the sign-of-energy-delta fingerprint
    // (gain-invariant — a re-levelled copy hashes identically) through
    // the shared banded-Hamming kernel. Square-wave frames make every
    // energy an exact integer: clip 2 is clip 1 at exactly half
    // amplitude (all envelope comparisons preserved ⇒ dist 0), clip 3
    // an identical copy, clip 4 a constant-envelope clip (hash 0 —
    // no band can match clip 1's alternating envelope), clip 5 junk.
    "multimodal_audio_neardup" -> ((s, dir) => {
      def wav16(samples: Array[Int], rateHz: Int): Array[Byte] = {
        val pcm = new Array[Byte](samples.length * 2)
        samples.indices.foreach { i =>
          pcm(2 * i) = (samples(i) & 0xFF).toByte
          pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
        }
        val afmt = new javax.sound.sampled.AudioFormat(rateHz.toFloat, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), afmt, samples.length.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        out.toByteArray
      }
      // 65 frames x 8 samples; frame k alternates +-A(k)
      def clip(amp: Int => Int): Array[Int] =
        (0 until 65).flatMap(k =>
          (0 until 8).map(j => if (j % 2 == 0) amp(k) else -amp(k))).toArray
      val envelope = (k: Int) => 100 + ((k * 37) % 64) * 50
      val media = s.createDataFrame(
        java.util.Arrays.asList(
          Row(1L, wav16(clip(envelope), 8000), "audio"),
          Row(2L, wav16(clip(k => envelope(k) / 2), 8000), "audio"),
          Row(3L, wav16(clip(envelope), 8000), "audio"),
          Row(4L, wav16(clip(_ => 500), 8000), "audio"),
          Row(5L, "not audio".getBytes("UTF-8"), "audio")),
        Multimodal.mediaSchema)
      Multimodal.audioNearDupPairs(media)
        .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
        .orderBy("a", "b")
    }),
    // Header-only dimension sniff (Multimodal.sniffMeta): same fixture
    // family as the real-decode gate, but the operator may touch only
    // header bytes — LlmSpec separately locks sniff ≡ full decode on
    // every recognized format. Unrecognized bytes emit null (the
    // "needs the real decoder" signal), not a degrade.
    // EXIF orientation USED (r17): the same photo stored under three
    // camera holds (upright, rot-90 o=6, flip o=2) plus an unrelated
    // image. Raw aHash sees three unrelated bit patterns (zero
    // pairs); orientation-normalized aHash pairs all three copies at
    // distance 0 — the variant-image dedup a lake actually wants.
    // Both modes in one result, same banded join machinery.
    "multimodal_oriented_neardup" -> ((s, dir) => {
      val pat = 0xA5C3F00F3C5A9966L
      val media = s.createDataFrame(
        java.util.Arrays.asList(
          Row(1L, Multimodal.makeOrientedJpeg(pat, 1), "image"),
          Row(2L, Multimodal.makeOrientedJpeg(pat, 6), "image"),
          Row(3L, Multimodal.makeOrientedJpeg(pat, 2), "image"),
          Row(4L, Multimodal.makeOrientedJpeg(0x123456789ABCDEFL, 1), "image")),
        Multimodal.mediaSchema)
      val raw = Multimodal.ahashNearDupPairs(media)
        .select(lit("raw").as("mode"), col("a"), col("b"),
          col("dist").cast("long").as("dist"))
      val oriented = Multimodal.ahashNearDupPairs(media, orientationNormalize = true)
        .select(lit("oriented").as("mode"), col("a"), col("b"),
          col("dist").cast("long").as("dist"))
      raw.unionAll(oriented).orderBy("mode", "a", "b")
    }),
    // EXIF metadata (r17): orientation / capture time / camera make
    // + model / declared pixel dims from the APP1 TIFF block, BOTH
    // byte orders, spliced into real ImageIO JPEGs by the fixture
    // builder; an EXIF-less JPEG and a non-JPEG emit all-null rows
    // (present => parsed). Orientation feeds perceptual-hash
    // normalization; capture time feeds dedup/curation windows.
    "multimodal_exif" -> ((s, dir) => {
      def plainJpeg(): Array[Byte] = {
        val bi = new java.awt.image.BufferedImage(4, 4,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(bi, "jpg", out)
        out.toByteArray
      }
      val media = s.createDataFrame(
        java.util.Arrays.asList(
          Row(1L, Multimodal.makeExifJpeg(32, 16, 6, "2023:07:01 10:20:30",
            "GraftCam", "GC-100", littleEndian = true), "image"),
          Row(2L, Multimodal.makeExifJpeg(8, 24, 1, "2024:12:31 23:59:59",
            "OtherCo", "X9", littleEndian = false), "image"),
          Row(3L, plainJpeg(), "image"),
          Row(4L, "not an image".getBytes("UTF-8"), "raw")),
        Multimodal.mediaSchema)
      Multimodal.exifMetaDf(media).orderBy("media_id")
    }),
    "multimodal_sniff_dims" -> ((s, dir) => {
      def img(w: Int, h: Int, fmt: String): Array[Byte] = {
        val bi = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until w).foreach(x => (0 until h).foreach(y =>
          bi.setRGB(x, y, (x * 31 + y * 7) & 0xFFFFFF)))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(bi, fmt, out)
        out.toByteArray
      }
      val media = s.createDataFrame(
        java.util.Arrays.asList(
          Row(1L, img(12, 8, "png"), "image"),
          Row(2L, img(20, 10, "jpg"), "image"),
          Row(3L, img(9, 7, "gif"), "image"),
          Row(4L, img(15, 5, "bmp"), "image"),
          Row(5L, "not a media file".getBytes("UTF-8"), "image")),
        Multimodal.mediaSchema)
      Multimodal.sniffMeta(media)
        .select("media_id", "fmt", "width", "height")
        .orderBy("media_id")
    }),
    // Real media ingestion path: files on disk → Spark's binaryFile
    // source (the documented production entry, vs the fromText test
    // harness) → header sniff. The id comes from the filename, the
    // bytes from the source's content column — proving the media
    // pipeline runs off an actual directory scan.
    "multimodal_binaryfile_scan" -> ((s, dir) => {
      def img(w: Int, h: Int, fmt: String): Array[Byte] = {
        val bi = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(bi, fmt, out)
        out.toByteArray
      }
      val out = graft.core.Scratch.dir("graft_binmedia")
      Seq((1, "png", 16, 9), (2, "jpg", 24, 11), (3, "gif", 7, 6))
        .foreach { case (i, f, w, h) =>
          java.nio.file.Files.write(out.resolve(s"m$i.$f"), img(w, h, f)): Unit
        }
      val bin = s.read.format("binaryFile").load(out.toString)
        .select(regexp_extract(col("path"), "m(\\d+)\\.", 1).cast("long")
          .as("media_id"), col("content"))
      Multimodal.sniffMeta(bin)
        .select("media_id", "fmt", "width", "height")
        .orderBy("media_id")
    }),
    // Frame sampling: explode-per-frame over byte windows of the binary
    // column — the plan shape a video pipeline samples frames with.
    // Hex the binary frame for the oracle (documents text is ASCII, so
    // DuckDB's char substring mirrors the byte window exactly).
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.fromText(docs(s, dir), "doc_id", "text"))
        .select(col("media_id"), col("frame_no"), hex(col("frame")).as("frame_hex"))
        .orderBy("media_id", "frame_no")),
    // Shot-boundary keyframes (Multimodal.keyframes): half-overlapping
    // byte windows as frames; a frame whose 4-gram Jaccard against its
    // predecessor drops under τ is a cut. One gram equi-join restricted
    // to consecutive pairs — never all-frames-pairs.
    "multimodal_keyframes" -> ((s, dir) =>
      Multimodal.keyframes(
          Multimodal.sampleFrames(
            Multimodal.fromText(docs(s, dir), "doc_id", "text"),
            stride = 16, len = 32),
          n = 4, tauX1e4 = 3500L)
        .orderBy("media_id", "frame_no")),
  )

  // ---- DuckDB mirrors -------------------------------------------------

  private def reCount(e: String, pat: String) =
    s"len(regexp_extract_all($e, '$pat'))"
  private def langRe(l: String) =
    "\\b(" + TA.langProfiles.toMap.apply(l).mkString("|") + ")\\b"

  private val guessSql: String = {
    val langs = TA.langProfiles.map(_._1)
    val arms = langs.dropRight(1).map { l =>
      val cond = langs.map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"CASE $arms ELSE '${langs.last}' END"
  }

  private val dotFn =
    "list_sum(list_transform(list_zip(%s, %s), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))"
  private def dot(a: String, b: String) = dotFn.format(a, b)
  private def cosS(a: String, b: String) =
    s"CAST(FLOOR(${dot(a, b)} / sqrt(${dot(a, a)} * ${dot(b, b)}) * 10000 + 0.5) AS BIGINT)"

  // IVF parameters shared by the engine queries and the oracle mirror.
  private val NC = 10; private val LLOYD = 2; private val NPROBE = 2; private val TOPK = 10
  // PQ parameters: 4 subspaces of 16 dims, 8 codes each (a fixture-
  // sized codebook; 256 codes is the at-scale default).
  private val PQ_M = 4; private val PQ_K = 8; private val PQ_SHORT = 50
  private val CCAP = 5 // docs kept per embedding cluster (semantic diversity cap)
  private val DUP_T = 9500L // near-dup cosine threshold (×1e4)
  private val QUALITY_MIN = 2500L // curation quality gate (×1e4)
  // Dedup wants pair-pruning, not probe recall: centroid count scales
  // toward √N so Σ bucket² stays near-linear (independent of the ANN
  // search NC, which trades recall instead).
  private val DUP_NC = 32

  /** BM25 top-k oracle, parameterized on k so the hybrid-RRF oracle
    * can nest the same statement at its own cut. */
  private def bm25Sql(k: Int): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |post AS (SELECT term, doc_id, count(*) AS tf FROM t2 GROUP BY 1, 2),
       |lens AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
       |tot AS (SELECT count(*) AS n_docs,
       |    CAST(sum(dl) // count(*) AS BIGINT) AS avgdl FROM lens),
       |qp AS (SELECT * FROM post
       |  WHERE term IN ('spark', 'join', 'window', 'stream')),
       |dfreq AS (SELECT term, count(*) AS df FROM qp GROUP BY 1),
       |idf AS (SELECT term,
       |    CAST(length(format('{:b}', CAST(tot.n_docs // df AS BIGINT))) AS BIGINT) AS idf
       |  FROM dfreq CROSS JOIN tot),
       |comp AS (SELECT qp.doc_id,
       |    (10000 * idf.idf * 22 * tot.avgdl * qp.tf)
       |      // (10 * tot.avgdl * qp.tf + 3 * tot.avgdl + 9 * lens.dl) AS comp
       |  FROM qp JOIN idf USING (term) JOIN lens USING (doc_id) CROSS JOIN tot)
       |SELECT doc_id, count(*) AS n_terms_hit,
       |  CAST(sum(comp) AS BIGINT) AS score_x1e4
       |FROM comp GROUP BY doc_id
       |ORDER BY score_x1e4 DESC, doc_id LIMIT $k""".stripMargin

  private def bruteSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
       |c AS (SELECT vec_id, embedding AS ce FROM embeddings),
       |s AS (SELECT qid, c.vec_id, ${cosS("qe", "ce")} AS cos_x1e4 FROM q, c)
       |SELECT qid, vec_id, cos_x1e4, rank FROM (
       |  SELECT qid, vec_id, cos_x1e4,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_x1e4 DESC, vec_id) AS INT) AS rank
       |  FROM s) WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** Mirrors Ann.ivfCentroids/assignBuckets/probeBuckets/ivfTopK: the
    * same seeded init, fixed-point Lloyd steps, argmax assignment, and
    * multi-probe search as chained CTEs. Returns the CTE list ending in
    * `ivf` (qid, vec_id, cos_x1e4, rank ≤ TOPK) for `maxQ` queries. */
  /** Assignment CTE: argmax-cosine bucket per vector of `src`
    * (columns vec_id, ce) against centroid set `cent`. */
  private def assignSql(cent: String, out: String,
      src: String = "(SELECT vec_id, embedding AS ce FROM embeddings)") =
    s"""$out AS (
       |  SELECT vec_id, ce, cid AS bucket FROM (
       |    SELECT e.vec_id, e.ce, s.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosS("e.ce", "s.cemb")} DESC, s.cid) AS rn
       |    FROM $src e, $cent s) WHERE rn = 1)""".stripMargin

  private def updateSql(asg: String, out: String) =
    s"""$out AS (
       |  SELECT bucket AS cid, list(m ORDER BY pos) AS cemb FROM (
       |    SELECT bucket, pos, CAST(SUM(fx) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE) AS m
       |    FROM (
       |      SELECT a.bucket, t.pos, CAST(FLOOR(CAST(a.ce[t.pos] AS DOUBLE) * 1000000) AS BIGINT) AS fx
       |      FROM $asg a, UNNEST(generate_series(1, len(a.ce))) AS t(pos))
       |    GROUP BY bucket, pos)
       |  GROUP BY bucket)""".stripMargin

  /** seeds + Lloyd chain CTEs; returns (ctes, final centroid CTE name). */
  /** seeds + Lloyd chain over `embeddings` rows passing `centWhere`
    * (empty = the whole table) — the restriction is what lets the
    * incremental-index oracle train on yesterday's subset. */
  private def centroidCtes(nc: Int = NC, centWhere: String = ""): (Seq[String], String) = {
    val seeds =
      s"""seeds AS (
         |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb,
         |    CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || ':ivf'), vec_id) AS INT) - 1 AS cid
         |  FROM embeddings $centWhere QUALIFY cid < $nc)""".stripMargin
    val lloydSrc =
      s"(SELECT vec_id, embedding AS ce FROM embeddings $centWhere)"
    val lloyd = (0 until LLOYD).flatMap { i =>
      val cent = if (i == 0) "seeds" else s"cent$i"
      Seq(assignSql(cent, s"asg$i", lloydSrc), updateSql(s"asg$i", s"cent${i + 1}"))
    }
    (Seq(seeds) ++ lloyd, if (LLOYD == 0) "seeds" else s"cent$LLOYD")
  }

  private def ivfCtes(maxQ: Int, centWhere: String = ""): Seq[String] = {
    val (build, centFinal) = centroidCtes(NC, centWhere)
    build ++ Seq(
      assignSql(centFinal, "corpus_assign"),
      s"q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $maxQ)",
      s"""q_probe AS (
         |  SELECT qid, qe, cid AS bucket FROM (
         |    SELECT q.qid, q.qe, s.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${cosS("q.qe", "s.cemb")} DESC, s.cid) AS rn
         |    FROM q, $centFinal s) WHERE rn <= $NPROBE)""".stripMargin,
      s"""ivf AS (
         |  SELECT qid, vec_id, cos_x1e4, rank FROM (
         |    SELECT qp.qid, ca.vec_id, ${cosS("qp.qe", "ca.ce")} AS cos_x1e4,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY qp.qid
         |        ORDER BY ${cosS("qp.qe", "ca.ce")} DESC, ca.vec_id) AS INT) AS rank
         |    FROM q_probe qp JOIN corpus_assign ca ON qp.bucket = ca.bucket)
         |  WHERE rank <= $TOPK)""".stripMargin)
  }

  /** The doubled-corpus bucket-restricted pair CTEs shared by the
    * embedding near-dup gate and its applied (SemDeDup) composition:
    * centroid build, doubled corpus, assignment, norms, and `epairs`
    * (a < b, cos ≥ DUP_T). */
  private def embeddingDupCtes: Seq[String] = {
    val (build, centFinal) = centroidCtes(DUP_NC)
    val ec = """ec AS (SELECT vec_id, embedding AS ce FROM embeddings
               |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings)""".stripMargin
    val assignedWithNorm =
      s"""dup_n AS (SELECT vec_id, ce, bucket, sqrt(${dot("ce", "ce")}) AS nrm
         |  FROM dup_assign)""".stripMargin
    val epairs =
      s"""epairs AS (
         |  SELECT a, b, cos_x1e4 FROM (
         |    SELECT x.vec_id AS a, y.vec_id AS b,
         |      CAST(FLOOR(${dot("x.ce", "y.ce")} / (x.nrm * y.nrm) * 10000 + 0.5) AS BIGINT) AS cos_x1e4
         |    FROM dup_n x JOIN dup_n y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |  WHERE cos_x1e4 >= $DUP_T)""".stripMargin
    build ++ Seq(ec, assignSql(centFinal, "dup_assign", "ec"),
      assignedWithNorm, epairs)
  }

  private def embeddingDupSql: String =
    "WITH " + embeddingDupCtes.mkString(",\n") +
      "\nSELECT a, b, cos_x1e4 FROM epairs ORDER BY a, b"

  /** Random-hyperplane LSH oracle: regenerate the integer plane
    * matrix from the same keyed md5, sign-bit signatures via bit_or,
    * then the band algebra mirror (four 16-bit bands, ≤10000 cap,
    * popcount ≤ 3). NOTE: the Scala side derives dimensionality from
    * the data (`rhpSimhash` probes `size(ce)`); this oracle hardcodes
    * the fixture's 64-dim embeddings — if the fixture dim changes,
    * the `ii.i` range below must change with it. */
  private def rhpSql: String = {
    val planeC = "CAST(CONCAT('0x', substr(md5('rhp:' || CAST(jj.j AS VARCHAR) " +
      "|| ':' || CAST(ii.i AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000"
    val bandArms = (0 until 4).map(b =>
      s"SELECT id, sig, $b AS band, (sig >> ${16 * b}) & 65535 AS v FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH ec AS MATERIALIZED (
       |  SELECT vec_id, embedding AS ce FROM embeddings
       |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
       |pl AS MATERIALIZED (
       |  SELECT j, list(c ORDER BY i) AS p FROM (
       |    SELECT jj.j AS j, ii.i AS i, $planeC AS c
       |    FROM UNNEST(generate_series(0, 63)) AS jj(j),
       |         UNNEST(generate_series(0, 63)) AS ii(i))
       |  GROUP BY j),
       |sig AS MATERIALIZED (
       |  SELECT e.vec_id AS id,
       |    bit_or(CASE WHEN ${dot("e.ce", "pl.p")} <= 0 THEN CAST(0 AS BIGINT)
       |           WHEN pl.j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |           ELSE CAST(1 AS BIGINT) << pl.j END) AS sig
       |  FROM ec e, pl GROUP BY e.vec_id),
       |band AS ($bandArms),
       |band_ok AS (SELECT band, v FROM band GROUP BY band, v HAVING count(*) <= 10000),
       |bandc AS (SELECT band.id, band.sig, band.band, band.v
       |  FROM band JOIN band_ok USING (band, v)),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b,
       |    CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS dist
       |  FROM bandc x JOIN bandc y ON x.band = y.band AND x.v = y.v AND x.id < y.id)
       |SELECT a, b, dist FROM cand WHERE dist <= 3 ORDER BY a, b""".stripMargin
  }

  /** SemDeDup oracle: the pair CTEs, recursive label propagation (the
    * dedup_clusters algebra), keepers + never-paired survive. */
  private def semanticApplySql: String =
    "WITH RECURSIVE " + embeddingDupCtes.mkString(",\n") +
      """,
        |edges AS (SELECT a AS x, b AS y FROM epairs UNION SELECT b, a FROM epairs),
        |reach(x, y) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |labels AS (SELECT x AS id, LEAST(x, MIN(y)) AS cluster FROM reach GROUP BY x)
        |SELECT vec_id FROM ec
        |WHERE vec_id NOT IN (SELECT id FROM labels WHERE id <> cluster)
        |ORDER BY vec_id""".stripMargin

  private def ivfTopkSql: String =
    "WITH " + ivfCtes(maxQ = 3).mkString(",\n") +
      "\nSELECT qid, vec_id, cos_x1e4, rank FROM ivf ORDER BY qid, rank"

  /** PQ oracle: the full train→encode→ADC pipeline mirrored per
    * subspace — seeded L2 k-means (×1e6 floor-scaled distance
    * comparable, ties to smallest cid), integer-fixed-point mean
    * updates (the updateSql pattern), final-codebook assignment as the
    * encode, per-query ×1e6 integer lookup tables, code-keyed sum,
    * approximate cosine against the reconstruction norm. */
  /** The ×1e6 floor-scaled squared-L2 comparable (ArgminL2Ops mirror). */
  private def pqD2s(a: String, c: String) =
    s"CAST(FLOOR(list_sum(list_transform(list_zip($a, $c), " +
      s"z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * " +
      s"(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT)"

  /** Per-subspace PQ train+encode CTEs over any (vec_id, `vecCol`)
    * source: slicing, seeded init (`:<seedTag><s>`), LLOYD refinements
    * with L2 argmin assignment and fixed-point mean updates, and the
    * final-codebook encode `penc<s>` (vec_id, bucket, n2). Shared by
    * the plain-PQ and the IVF+PQ (residual-source) oracles. */
  /** `encSrc`: when set, codebook TRAINING runs over `src` but the
    * final-codebook encode pass covers `encSrc` instead — the
    * incremental-index mirror (frozen geometry from the base corpus,
    * every vector encoded against it). */
  private def pqSubCtes(src: String, vecCol: String, seedTag: String,
      encSrc: Option[String] = None): Seq[String] = {
    val (m, ksub, d) = (PQ_M, PQ_K, 64 / PQ_M)
    (0 until m).flatMap { s =>
      val off = s * d
      val es =
        s"""es$s AS MATERIALIZED (SELECT vec_id, $vecCol[${off + 1}:${off + d}] AS se
           |  FROM $src)""".stripMargin
      val esEnc = encSrc.map(e =>
        s"""esenc$s AS MATERIALIZED (SELECT vec_id, $vecCol[${off + 1}:${off + d}] AS se
           |  FROM $e)""".stripMargin)
      val encFrom = if (encSrc.isDefined) s"esenc$s" else s"es$s"
      val seed =
        s"""pcent${s}_0 AS MATERIALIZED (
           |  SELECT list_transform(se, x -> CAST(x AS DOUBLE)) AS cemb,
           |    CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || ':$seedTag$s'), vec_id) AS INT) - 1 AS cid
           |  FROM es$s QUALIFY cid < $ksub)""".stripMargin
      val lloyd = (0 until LLOYD).flatMap { i =>
        Seq(
          s"""pasg${s}_$i AS MATERIALIZED (
             |  SELECT vec_id, se, cid AS bucket FROM (
             |    SELECT e.vec_id, e.se, c.cid,
             |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
             |        ORDER BY ${pqD2s("e.se", "c.cemb")} ASC, c.cid) AS rn
             |    FROM es$s e, pcent${s}_$i c) WHERE rn = 1)""".stripMargin,
          s"""pcent${s}_${i + 1} AS MATERIALIZED (
             |  SELECT bucket AS cid, list(mm ORDER BY pos) AS cemb FROM (
             |    SELECT bucket, pos,
             |      CAST(SUM(fx) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE) AS mm
             |    FROM (
             |      SELECT a.bucket, t.pos,
             |        CAST(FLOOR(CAST(a.se[t.pos] AS DOUBLE) * 1000000) AS BIGINT) AS fx
             |      FROM pasg${s}_$i a, UNNEST(generate_series(1, len(a.se))) AS t(pos))
             |    GROUP BY bucket, pos)
             |  GROUP BY bucket)""".stripMargin)
      }
      val enc =
        s"""penc$s AS MATERIALIZED (
           |  SELECT vec_id, bucket, ${dot("cb.cemb", "cb.cemb")} AS n2 FROM (
           |    SELECT e.vec_id, c.cid AS bucket,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${pqD2s("e.se", "c.cemb")} ASC, c.cid) AS rn
           |    FROM $encFrom e, pcent${s}_$LLOYD c) x
           |  JOIN pcent${s}_$LLOYD cb ON cb.cid = x.bucket WHERE rn = 1)""".stripMargin
      Seq(es) ++ esEnc.toSeq ++ Seq(seed) ++ lloyd ++ Seq(enc)
    }
  }

  private def pqCtesAndAdc: (Seq[String], Int => String) = {
    val (m, d) = (PQ_M, 64 / PQ_M)
    val qts = (0 until m).map { s =>
      val off = s * d
      s"""pqt$s AS (
         |  SELECT q.vec_id AS qid, c.cid,
         |    CAST(FLOOR(${dot(s"q.embedding[${off + 1}:${off + d}]", "c.cemb")} * 1000000 + 0.5) AS BIGINT) AS tdot6
         |  FROM embeddings q, pcent${s}_$LLOYD c WHERE q.vec_id < 3)""".stripMargin
    }
    val subCtes = pqSubCtes("embeddings", "embedding", "pq") ++ qts
    val joins = (0 until m).map(s =>
      s"JOIN penc$s e$s ON e$s.vec_id = v.vec_id " +
        s"JOIN pqt$s t$s ON t$s.qid = q.vec_id AND t$s.cid = e$s.bucket").mkString("\n    ")
    val adot6 = (0 until m).map(s => s"t$s.tdot6").mkString(" + ")
    val x2hat = (0 until m).map(s => s"e$s.n2").mkString(" + ")
    val score = s"CAST(FLOOR(CAST($adot6 AS DOUBLE) / 1000000 / " +
      s"sqrt(${dot("q.embedding", "q.embedding")} * ($x2hat)) * 10000 + 0.5) AS BIGINT)"
    val adc = (cut: Int) =>
      s"""adc AS (
         |  SELECT qid, vec_id, cos_x1e4, rank FROM (
         |    SELECT q.vec_id AS qid, v.vec_id, $score AS cos_x1e4,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY $score DESC, v.vec_id) AS INT) AS rank
         |    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
         |    CROSS JOIN (SELECT DISTINCT vec_id FROM embeddings) v
         |      $joins)
         |  WHERE rank <= $cut)""".stripMargin
    (subCtes, adc)
  }

  private def pqTopkSql: String = {
    val (ctes, adc) = pqCtesAndAdc
    "WITH " + (ctes :+ adc(TOPK)).mkString(",\n") +
      "\nSELECT qid, vec_id, cos_x1e4, rank FROM adc ORDER BY qid, rank"
  }

  /** IVF+PQ oracle: IVF centroid CTEs → residuals → the shared PQ
    * train/encode CTEs over `res` → probe + per-(query, bucket)
    * centroid dot + residual lookup tables → integer ADC sum, ranked
    * within probed buckets only. */
  private def ivfpqSql: String = ivfpqSqlOver("")

  /** Incremental IVF+PQ mirror (the ann_incremental_ivf rationale
    * applied to the compressed index): centroids AND residual
    * codebooks train on the 6/7 base subset; assignment, encoding,
    * and search cover the whole corpus — equal to the engine's
    * frozen-geometry append because both passes are deterministic
    * row-wise expressions of that geometry. */
  private def ivfpqIncrementalSql: String =
    ivfpqSqlOver("WHERE vec_id % 7 <> 0")

  private def ivfpqSqlOver(trainWhere: String): String = {
    val (m, d) = (PQ_M, 64 / PQ_M)
    val (build, centFinal) = centroidCtes(NC, trainWhere)
    val res =
      s"""res AS MATERIALIZED (
         |  SELECT a.vec_id, a.bucket,
         |    list_transform(list_zip(a.ce, c.cemb),
         |      z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS re
         |  FROM corpus_assign a JOIN $centFinal c ON c.cid = a.bucket)""".stripMargin
    val resTrain =
      if (trainWhere.isEmpty) Nil
      else Seq(s"res_tr AS MATERIALIZED (SELECT * FROM res $trainWhere)")
    val pqTrainSrc = if (trainWhere.isEmpty) "res" else "res_tr"
    val q = "q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3)"
    val probe =
      s"""q_probe AS (
         |  SELECT qid, qe, cid AS bucket FROM (
         |    SELECT q.qid, q.qe, s.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${cosS("q.qe", "s.cemb")} DESC, s.cid) AS rn
         |    FROM q, $centFinal s) WHERE rn <= $NPROBE)""".stripMargin
    val qc =
      s"""qc AS (
         |  SELECT p.qid, p.bucket,
         |    CAST(FLOOR(${dot("p.qe", "c.cemb")} * 1000000 + 0.5) AS BIGINT) AS qcdot6
         |  FROM q_probe p JOIN $centFinal c ON c.cid = p.bucket)""".stripMargin
    val qts = (0 until m).map { s =>
      val off = s * d
      s"""pqt$s AS (
         |  SELECT q.vec_id AS qid, c.cid,
         |    CAST(FLOOR(${dot(s"q.embedding[${off + 1}:${off + d}]", "c.cemb")} * 1000000 + 0.5) AS BIGINT) AS tdot6
         |  FROM embeddings q, pcent${s}_$LLOYD c WHERE q.vec_id < 3)""".stripMargin
    }
    val joins = (0 until m).map(s =>
      s"JOIN penc$s e$s ON e$s.vec_id = r.vec_id " +
        s"JOIN pqt$s t$s ON t$s.qid = qc.qid AND t$s.cid = e$s.bucket").mkString("\n    ")
    val total = (0 until m).map(s => s"t$s.tdot6").mkString(" + ") + " + qc.qcdot6"
    "WITH " + ((build :+ assignSql(centFinal, "corpus_assign") :+ res) ++
      resTrain ++
      pqSubCtes(pqTrainSrc, "re", "ivfpq",
        encSrc = if (trainWhere.isEmpty) None else Some("res")) ++
      Seq(q, probe, qc) ++ qts).mkString(",\n") +
      s"""
         |SELECT qid, vec_id, dot_x1e6, rank FROM (
         |  SELECT qc.qid, r.vec_id, $total AS dot_x1e6,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qc.qid
         |      ORDER BY $total DESC, r.vec_id) AS INT) AS rank
         |  FROM qc
         |  JOIN res r ON r.bucket = qc.bucket
         |    $joins)
         |WHERE rank <= $TOPK ORDER BY qid, rank""".stripMargin
  }

  /** PQ + exact re-rank oracle: the ADC CTE at the shortlist cut, then
    * exact cosine over ONLY the shortlisted (qid, vec_id) pairs. */
  private def pqRerankSql: String = {
    val (ctes, adc) = pqCtesAndAdc
    "WITH " + (ctes :+ adc(PQ_SHORT)).mkString(",\n") +
      s"""
         |SELECT qid, vec_id, cos_x1e4, rank FROM (
         |  SELECT a.qid, a.vec_id, ${cosS("q.embedding", "v.embedding")} AS cos_x1e4,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY a.qid
         |      ORDER BY ${cosS("q.embedding", "v.embedding")} DESC, a.vec_id) AS INT) AS rank
         |  FROM adc a
         |  JOIN embeddings q ON q.vec_id = a.qid
         |  JOIN embeddings v ON v.vec_id = a.vec_id)
         |WHERE rank <= $TOPK ORDER BY qid, rank""".stripMargin
  }

  /** Incremental-index mirror: centroids train on the 6/7 base subset,
    * assignment and search cover the whole corpus — equal to the
    * engine's frozen-centroid append by row-wise assignment. */
  private def ivfIncrementalSql: String =
    "WITH " + ivfCtes(maxQ = 3, centWhere = "WHERE vec_id % 7 <> 0").mkString(",\n") +
      "\nSELECT qid, vec_id, cos_x1e4, rank FROM ivf ORDER BY qid, rank"

  /** Semantic-diversity-cap mirror: the same centroid/assignment CTE
    * chain as the IVF oracles, joined to documents on vec_id = doc_id,
    * then a plain per-bucket row_number cap (the salted two-phase
    * top-k is an execution detail — the kept set is identical). */
  private def clusterCapSql: String = {
    val (build, centFinal) = centroidCtes()
    "WITH " + (build ++ Seq(
      assignSql(centFinal, "cassign"),
      """withdoc AS (SELECT ca.bucket, ca.vec_id, d.n_chars
        |  FROM cassign ca JOIN documents d ON ca.vec_id = d.doc_id)""".stripMargin,
      """capped AS (SELECT bucket, vec_id, n_chars,
        |    row_number() OVER (PARTITION BY bucket
        |      ORDER BY n_chars DESC, vec_id) AS rk
        |  FROM withdoc)""".stripMargin)).mkString(",\n") +
      s"""
         |SELECT CAST(bucket AS BIGINT) AS bucket, vec_id AS doc_id, n_chars,
         |  CAST(rk AS BIGINT) AS rk
         |FROM capped WHERE rk <= $CCAP ORDER BY bucket, rk""".stripMargin
  }

  /** The ivf CTEs' bucket structure composed with the int8
    * quantization CTEs: full-precision assignment/probing, quantized
    * candidate scoring — mirrors [[graft.llm.Ann.ivfTopKInt8]]. */
  private def ivfQuantSql: String = {
    val (build, centFinal) = centroidCtes()
    val quant = Seq(
      "qbase AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
      "qsc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM qbase)",
      """qz8 AS (SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(LEAST(127.0, GREATEST(-127.0, round(x / s))) AS BIGINT)) END AS q
        |  FROM qsc)""".stripMargin,
      """qd8 AS (SELECT vec_id, q,
        |    list_sum(list_transform(generate_series(1, len(q)), i -> q[i] * q[i])) AS qq FROM qz8)""".stripMargin)
    val score = "CASE WHEN cq.qq = 0 OR cc.qq = 0 THEN NULL ELSE " +
      "CAST(FLOOR(CAST(list_sum(list_transform(generate_series(1, len(cq.q)), i -> cq.q[i] * cc.q[i])) AS DOUBLE)" +
      " / sqrt(CAST(cq.qq * cc.qq AS DOUBLE)) * 10000 + 0.5) AS BIGINT) END"
    val ctes = build ++ Seq(
      assignSql(centFinal, "corpus_assign"),
      "q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3)",
      s"""q_probe AS (
         |  SELECT qid, qe, cid AS bucket FROM (
         |    SELECT q.qid, q.qe, s.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${cosS("q.qe", "s.cemb")} DESC, s.cid) AS rn
         |    FROM q, $centFinal s) WHERE rn <= $NPROBE)""".stripMargin) ++ quant
    "WITH " + ctes.mkString(",\n") +
      s"""
         |SELECT qid, vec_id, cos_x1e4, rank FROM (
         |  SELECT qp.qid, ca.vec_id, $score AS cos_x1e4,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qp.qid
         |      ORDER BY $score DESC, ca.vec_id) AS INT) AS rank
         |  FROM q_probe qp JOIN corpus_assign ca ON qp.bucket = ca.bucket
         |    JOIN qd8 cq ON cq.vec_id = qp.qid
         |    JOIN qd8 cc ON cc.vec_id = ca.vec_id)
         |WHERE rank <= $TOPK ORDER BY qid, rank""".stripMargin
  }

  private def ivfRecallSql: String = {
    val brute =
      s"""brute AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${cosS("q.qe", "e.embedding")} DESC, e.vec_id) AS rank
         |    FROM q, embeddings e) WHERE rank <= $TOPK)""".stripMargin
    "WITH " + (ivfCtes(maxQ = 20) :+ brute).mkString(",\n") +
      s"""
         |SELECT b.qid, count(i.vec_id) AS n_hits,
         |  CAST(FLOOR(CAST(count(i.vec_id) AS DOUBLE) / $TOPK * 10000 + 0.5) AS BIGINT) AS recall_x1e4
         |FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.vec_id = i.vec_id
         |GROUP BY b.qid ORDER BY b.qid""".stripMargin
  }

  /** The text_lm_score CTE chain through the per-token `sc` relation
    * (90/10 split, injected OOV tail) — shared by the doc-mean score
    * and the Min-K%% tail-mean oracle. */
  /** The LM CTE chain from the token stream through the per-token
    * `sc` relation — everything AFTER the `base` CTE (which callers
    * supply: raw documents with the injected OOV tail, or a cleaned
    * pipeline relation). */
  private val lmChainFromBase: String =
    """|ttok AS (SELECT unnest(w) AS w3 FROM base WHERE is_train),
        |uni AS (SELECT w3, count(*) AS cu FROM ttok GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ttok),
        |tbi AS (SELECT w[i] AS w2, w[i+1] AS w3
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        |        FROM base WHERE is_train AND len(w) >= 2)),
        |bi AS (SELECT w2, w3, count(*) AS cb FROM tbi GROUP BY 1, 2),
        |bh AS (SELECT w2, count(*) AS ch FROM tbi GROUP BY 1),
        |ttr AS (SELECT w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM base WHERE is_train AND len(w) >= 3)),
        |tri AS (SELECT w1, w2, w3, count(*) AS ct FROM ttr GROUP BY 1, 2, 3),
        |th AS (SELECT w1, w2, count(*) AS cth FROM ttr GROUP BY 1, 2),
        |str AS (SELECT id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        |  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM base WHERE len(w) >= 3)),
        |sc AS (SELECT s.id,
        |    CASE WHEN tri.ct IS NOT NULL
        |           THEN 100 * length(format('{:b}', CAST(th.cth // tri.ct AS BIGINT)))
        |         WHEN bi.cb IS NOT NULL
        |           THEN 132 + 100 * length(format('{:b}', CAST(bh.ch // bi.cb AS BIGINT)))
        |         WHEN uni.cu IS NOT NULL
        |           THEN 264 + 100 * length(format('{:b}', CAST(tot.n_total // uni.cu AS BIGINT)))
        |         ELSE 264 + 100 * length(format('{:b}', tot.n_total)) END AS sb,
        |    CASE WHEN tri.ct IS NOT NULL THEN 0
        |         WHEN bi.cb IS NOT NULL THEN 1
        |         WHEN uni.cu IS NOT NULL THEN 2 ELSE 3 END AS lvl
        |  FROM str s
        |  LEFT JOIN tri USING (w1, w2, w3)
        |  LEFT JOIN th USING (w1, w2)
        |  LEFT JOIN bi USING (w2, w3)
        |  LEFT JOIN bh USING (w2)
        |  LEFT JOIN uni USING (w3)
        |  CROSS JOIN tot)""".stripMargin

  /** The text_lm_score CTE chain through the per-token `sc` relation
    * (90/10 split, injected OOV tail) — shared by the doc-mean score
    * and the Min-K% tail-mean oracle. */
  private val lmTokenCtes: String =
    """WITH base AS (SELECT doc_id AS id, (doc_id % 10 <> 0) AS is_train,
      |    list_filter(string_split(
      |      CASE WHEN doc_id % 10 = 0
      |           THEN text || ' zzq' || CAST(doc_id AS VARCHAR) ||
      |                ' zzq' || CAST(doc_id AS VARCHAR)
      |           ELSE text END, ' '), x -> x <> '') AS w
      |  FROM documents),
      |""".stripMargin + lmChainFromBase

  val oracleSql: Map[String, String] = Map(
    "text_lang_id" -> {
      val scores = TA.langProfiles.map { case (l, _) =>
        s"${reCount("text", langRe(l))} AS s_$l"
      }.mkString(", ")
      s"""SELECT doc_id, $scores, $guessSql AS lang_guess
         |FROM (SELECT doc_id, ${TA.langProfiles.map { case (l, _) =>
            s"${reCount("text", langRe(l))} AS s_$l" }.mkString(", ")}, text FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "text_gopher_cjk" -> {
      val cjkSpace =
        """regexp_replace(t, '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g')"""
      s"""SELECT doc_id, n_words_ws, n_words_cjk, n_cjk_chars,
         |  (n_cjk_chars * 2 > len_t) AS cjk_dominant,
         |  (CASE WHEN n_cjk_chars * 2 > len_t THEN n_words_cjk
         |        ELSE n_words_ws END BETWEEN 20 AND 100000) AS keep
         |FROM (SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(t, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS n_words_ws,
         |    CAST(len(list_filter(regexp_split_to_array($cjkSpace, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS n_words_cjk,
         |    CAST(${reCount("t", "\\p{Hangul}")} +
         |      ${reCount("t", "[\\p{Hiragana}\\p{Katakana}]")} +
         |      ${reCount("t", "\\p{Han}")} AS BIGINT) AS n_cjk_chars,
         |    CAST(length(t) AS BIGINT) AS len_t
         |  FROM (SELECT doc_id,
         |      CASE WHEN doc_id % 5 = 0 THEN '기계학습데이터정제파이프라인은대규모말뭉치를처리한다'
         |           ELSE text || CASE WHEN doc_id % 5 = 1 THEN ' 데이터 정제' ELSE '' END
         |      END AS t
         |    FROM documents))
         |ORDER BY doc_id""".stripMargin
    },
    // RE2 script classes \p{Hangul}… = Java's \p{IsHangul}… sets;
    // script decision first, stopword argmax as the fallback arm
    "text_lang_id_cjk" -> {
      val scores = TA.langProfiles.map { case (l, _) =>
        s"${reCount("t", langRe(l))} AS s_$l" }.mkString(", ")
      s"""SELECT doc_id, hangul, kana, han,
         |  CASE WHEN kana >= 1 THEN 'ja'
         |       WHEN hangul >= 1 AND hangul >= han THEN 'ko'
         |       WHEN han >= 1 THEN 'zh'
         |       ELSE $guessSql END AS lang_guess
         |FROM (SELECT doc_id,
         |    ${reCount("t", "\\p{Hangul}")} AS hangul,
         |    ${reCount("t", "[\\p{Hiragana}\\p{Katakana}]")} AS kana,
         |    ${reCount("t", "\\p{Han}")} AS han,
         |    $scores
         |  FROM (SELECT doc_id,
         |      text || CASE WHEN doc_id % 4 = 0 THEN ' 日本語のテキスト'
         |                   WHEN doc_id % 4 = 1 THEN ' 한국어 텍스트'
         |                   WHEN doc_id % 4 = 2 THEN ' 中文文本分析'
         |                   ELSE '' END AS t
         |    FROM documents))
         |ORDER BY doc_id""".stripMargin
    },
    "text_quality" ->
      s"""SELECT doc_id, n_tokens, n_bpe_tokens,
         |  CAST(FLOOR(stop_ratio * 10000 + 0.5) AS BIGINT) AS stop_x1e4,
         |  CAST(FLOOR(punct_ratio * 10000 + 0.5) AS BIGINT) AS punct_x1e4,
         |  CAST(FLOOR((LEAST(CAST(n_tokens AS DOUBLE) / 100, 1) * 0.5 +
         |        LEAST(stop_ratio * 5, 1) * 0.5) * 10000 + 0.5) AS BIGINT) AS quality_x1e4
         |FROM (SELECT doc_id,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens,
         |  ${reCount("text", "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")} AS n_bpe_tokens,
         |  CAST(${reCount("text", langRe("en"))} AS DOUBLE) /
         |        len(string_split_regex(text, '\\s+')) AS stop_ratio,
         |  CAST(${reCount("text", "[^A-Za-z0-9\\s]")} AS DOUBLE) /
         |        GREATEST(length(text), 1) AS punct_ratio
         |  FROM documents) ORDER BY doc_id""".stripMargin,
    "text_markdown_strip" ->
      s"SELECT doc_id, $mdCleanSql AS clean FROM documents ORDER BY doc_id",
    "text_markdown_strip_nofence" -> {
      val e = Markup.oracleExpr(
        s"${sqlLit(mdPrefix)} || text || ${sqlLit(mdSuffix)}",
        dropFencedCode = true)
      s"SELECT doc_id, $e AS clean FROM documents ORDER BY doc_id"
    },
    "text_markdown_gopher" ->
      s"""WITH c AS (SELECT doc_id, $mdCleanSql AS clean FROM documents),
         |s AS (SELECT doc_id,
         |    CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_words,
         |    CAST(length(replace(clean, ' ', '')) AS DOUBLE) AS n_chars_nosp,
         |    CAST(list_contains(string_split(clean, ' '), 'the') AS BIGINT)
         |      + CAST(list_contains(string_split(clean, ' '), 'a') AS BIGINT)
         |      + CAST(list_contains(string_split(clean, ' '), 'of') AS BIGINT)
         |      + CAST(list_contains(string_split(clean, ' '), 'and') AS BIGINT)
         |      + CAST(list_contains(string_split(clean, ' '), 'to') AS BIGINT) AS n_stop
         |  FROM c)
         |SELECT doc_id, n_words, n_stop,
         |  (n_words >= 20 AND n_words <= 100000
         |   AND n_chars_nosp / n_words >= 3.0 AND n_chars_nosp / n_words <= 10.0
         |   AND n_stop >= 1) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    "llm_pipeline_docs" ->
      s"""WITH c AS (SELECT doc_id, $mdCleanSql AS text FROM documents),
         |l AS (SELECT doc_id AS id, CAST(t.i AS BIGINT) - 1 AS pos,
         |    parts[CAST(t.i AS INT)] AS line
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM c),
         |    UNNEST(generate_series(1, len(parts))) AS t(i)),
         |f AS (SELECT line, min(id) AS fid FROM l GROUP BY line),
         |f2 AS (SELECT l.line, f.fid, min(l.pos) AS fpos
         |  FROM l JOIN f ON l.line = f.line AND l.id = f.fid
         |  GROUP BY l.line, f.fid),
         |j AS (SELECT l.id, l.pos, l.line,
         |    (l.id = f2.fid AND l.pos = f2.fpos) AS keep
         |  FROM l JOIN f2 USING (line)),
         |dd AS (SELECT id AS doc_id,
         |    CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |    COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')
         |      AS clean_text
         |  FROM j GROUP BY id),
         |g AS (SELECT doc_id, n_dropped,
         |    CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_words,
         |    CAST(length(replace(clean_text, ' ', '')) AS DOUBLE) AS n_chars_nosp,
         |    CAST(list_contains(string_split(clean_text, ' '), 'the') AS BIGINT)
         |      + CAST(list_contains(string_split(clean_text, ' '), 'a') AS BIGINT)
         |      + CAST(list_contains(string_split(clean_text, ' '), 'of') AS BIGINT)
         |      + CAST(list_contains(string_split(clean_text, ' '), 'and') AS BIGINT)
         |      + CAST(list_contains(string_split(clean_text, ' '), 'to') AS BIGINT) AS n_stop
         |  FROM dd)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(SUM(g.n_dropped) AS BIGINT) AS n_lines_dropped,
         |  CAST(SUM(CASE WHEN g.n_words >= 20 AND g.n_words <= 100000
         |    AND g.n_chars_nosp / g.n_words >= 3.0 AND g.n_chars_nosp / g.n_words <= 10.0
         |    AND g.n_stop >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |FROM g JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // the LM tercile CTEs provide the pseudo-labels; the NB train/
    // score algebra (the text_nb_classify mirror) runs over them; the
    // final confusion profile joins predictions back to buckets
    "curation_model_filter" ->
      ("""WITH base AS (SELECT doc_id AS id, (doc_id % 10 <> 0) AS is_train,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |""".stripMargin + lmChainFromBase +
        """,
          |lm AS (SELECT id AS doc_id,
          |    CAST(sum(sb) // count(*) AS BIGINT) AS lm_bits_x100
          |  FROM sc GROUP BY id),
          |tiles AS (SELECT d.doc_id,
          |    CASE ntile(3) OVER (PARTITION BY d.lang
          |        ORDER BY lm.lm_bits_x100, d.doc_id)
          |      WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
          |  FROM documents d JOIN lm USING (doc_id)),
          |lab AS (SELECT t.doc_id,
          |    CASE WHEN t.bucket = 'head' THEN 'hi' ELSE 'lo' END AS cls
          |  FROM tiles t WHERE t.bucket <> 'middle'),
          |tr AS (SELECT l.cls, unnest(string_split(d.text, ' ')) AS tok
          |  FROM lab l JOIN documents d USING (doc_id)),
          |t2 AS (SELECT cls, tok FROM tr WHERE tok <> ''),
          |counts AS (SELECT cls, tok, count(*) AS cwc FROM t2 GROUP BY 1, 2),
          |totals AS (SELECT cls, CAST(sum(cwc) AS BIGINT) AS tc FROM counts GROUP BY 1),
          |voc AS (SELECT DISTINCT tok FROM counts),
          |vs AS (SELECT count(*) AS v FROM voc),
          |grid AS (SELECT voc.tok, totals.cls,
          |    CAST(length(format('{:b}',
          |      (totals.tc + vs.v) // (COALESCE(c.cwc, 0) + 1))) AS BIGINT) AS cost
          |  FROM voc CROSS JOIN totals CROSS JOIN vs
          |  LEFT JOIN counts c ON c.cls = totals.cls AND c.tok = voc.tok),
          |st AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          |  FROM documents),
          |s2 AS (SELECT doc_id, tok FROM st WHERE tok <> ''),
          |scored AS (SELECT s2.doc_id, g.cls, CAST(sum(g.cost) AS BIGINT) AS score
          |  FROM s2 JOIN grid g ON g.tok = s2.tok GROUP BY 1, 2),
          |rk AS (SELECT doc_id, cls, score,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY score, cls) AS rn
          |  FROM scored)
          |SELECT t.bucket, rk.cls AS pred, count(*) AS n_docs
          |FROM rk JOIN tiles t USING (doc_id) WHERE rk.rn = 1
          |GROUP BY 1, 2 ORDER BY bucket, pred""".stripMargin),
    // the strip/line-dedup twins chained into the LM CTE algebra over
    // the CLEANED text, then the deterministic per-language terciles
    "llm_pipeline_ccnet" ->
      (s"""WITH c AS (SELECT doc_id, $mdCleanSql AS text FROM documents),
          |l AS (SELECT doc_id AS id, CAST(t.i AS BIGINT) - 1 AS pos,
          |    parts[CAST(t.i AS INT)] AS line
          |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM c),
          |    UNNEST(generate_series(1, len(parts))) AS t(i)),
          |f AS (SELECT line, min(id) AS fid FROM l GROUP BY line),
          |f2 AS (SELECT l.line, f.fid, min(l.pos) AS fpos
          |  FROM l JOIN f ON l.line = f.line AND l.id = f.fid
          |  GROUP BY l.line, f.fid),
          |j AS (SELECT l.id, l.pos, l.line,
          |    (l.id = f2.fid AND l.pos = f2.fpos) AS keep
          |  FROM l JOIN f2 USING (line)),
          |dd AS (SELECT id AS doc_id,
          |    COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')
          |      AS clean_text
          |  FROM j GROUP BY id),
          |base AS (SELECT doc_id AS id, (doc_id % 10 <> 0) AS is_train,
          |    list_filter(string_split(clean_text, ' '), x -> x <> '') AS w
          |  FROM dd),
          |""".stripMargin + lmChainFromBase +
        """,
          |lm AS (SELECT id AS doc_id,
          |    CAST(sum(sb) // count(*) AS BIGINT) AS lm_bits_x100
          |  FROM sc GROUP BY id),
          |tiles AS (SELECT d.lang, lm.lm_bits_x100,
          |    ntile(3) OVER (PARTITION BY d.lang
          |      ORDER BY lm.lm_bits_x100, d.doc_id) AS t
          |  FROM documents d JOIN lm USING (doc_id))
          |SELECT lang,
          |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
          |  count(*) AS n_docs, max(lm_bits_x100) AS max_bits_x100
          |FROM tiles GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin),
    // the ccnet twin's strip/dedup chain (dd MATERIALIZED — it feeds
    // the LM base, NB training and the scoring stream), the LM CTE
    // algebra, terciles, the NB grid over the CLEANED text, rn=1
    // prediction, 'hi' keep, then the keyed-hash split twin
    "llm_pipeline_distill" ->
      (s"""WITH c AS MATERIALIZED (SELECT doc_id, $mdCleanSql AS text FROM documents),
          |l AS (SELECT doc_id AS id, CAST(t.i AS BIGINT) - 1 AS pos,
          |    parts[CAST(t.i AS INT)] AS line
          |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM c),
          |    UNNEST(generate_series(1, len(parts))) AS t(i)),
          |f AS (SELECT line, min(id) AS fid FROM l GROUP BY line),
          |f2 AS (SELECT l.line, f.fid, min(l.pos) AS fpos
          |  FROM l JOIN f ON l.line = f.line AND l.id = f.fid
          |  GROUP BY l.line, f.fid),
          |j AS (SELECT l.id, l.pos, l.line,
          |    (l.id = f2.fid AND l.pos = f2.fpos) AS keep
          |  FROM l JOIN f2 USING (line)),
          |dd AS MATERIALIZED (SELECT id AS doc_id,
          |    COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')
          |      AS clean_text
          |  FROM j GROUP BY id),
          |base AS MATERIALIZED (SELECT doc_id AS id, (doc_id % 10 <> 0) AS is_train,
          |    list_filter(string_split(clean_text, ' '), x -> x <> '') AS w
          |  FROM dd),
          |""".stripMargin + lmChainFromBase +
        """,
          |lm AS (SELECT id AS doc_id,
          |    CAST(sum(sb) // count(*) AS BIGINT) AS lm_bits_x100
          |  FROM sc GROUP BY id),
          |tiles AS MATERIALIZED (SELECT d.doc_id,
          |    CASE ntile(3) OVER (PARTITION BY d.lang
          |        ORDER BY lm.lm_bits_x100, d.doc_id)
          |      WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
          |  FROM documents d JOIN lm USING (doc_id)),
          |lab AS (SELECT t.doc_id,
          |    CASE WHEN t.bucket = 'head' THEN 'hi' ELSE 'lo' END AS cls
          |  FROM tiles t WHERE t.bucket <> 'middle'),
          |tr AS (SELECT lb.cls, unnest(string_split(dd.clean_text, ' ')) AS tok
          |  FROM lab lb JOIN dd USING (doc_id)),
          |t2 AS (SELECT cls, tok FROM tr WHERE tok <> ''),
          |counts AS (SELECT cls, tok, count(*) AS cwc FROM t2 GROUP BY 1, 2),
          |totals AS (SELECT cls, CAST(sum(cwc) AS BIGINT) AS tc FROM counts GROUP BY 1),
          |voc AS (SELECT DISTINCT tok FROM counts),
          |vs AS (SELECT count(*) AS v FROM voc),
          |grid AS (SELECT voc.tok, totals.cls,
          |    CAST(length(format('{:b}',
          |      (totals.tc + vs.v) // (COALESCE(cn.cwc, 0) + 1))) AS BIGINT) AS cost
          |  FROM voc CROSS JOIN totals CROSS JOIN vs
          |  LEFT JOIN counts cn ON cn.cls = totals.cls AND cn.tok = voc.tok),
          |st AS (SELECT doc_id, unnest(string_split(clean_text, ' ')) AS tok
          |  FROM dd),
          |s2 AS (SELECT doc_id, tok FROM st WHERE tok <> ''),
          |scored AS (SELECT s2.doc_id, g.cls, CAST(sum(g.cost) AS BIGINT) AS score
          |  FROM s2 JOIN grid g ON g.tok = s2.tok GROUP BY 1, 2),
          |rk AS (SELECT doc_id, cls, score,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY score, cls) AS rn
          |  FROM scored),
          |hi AS (SELECT doc_id FROM rk WHERE rn = 1 AND cls = 'hi'),
          |h AS (SELECT d.source,
          |    CAST(CONCAT('0x', substr(md5(CAST(hi.doc_id AS VARCHAR) || ':s18:split'), 1, 8)) AS BIGINT) AS h32
          |  FROM hi JOIN documents d USING (doc_id))
          |SELECT source, CASE
          |    WHEN h32 < CAST(floor(CAST(0.8 AS DOUBLE) * 4294967296.0) AS BIGINT) THEN 'train'
          |    WHEN h32 < CAST(floor((CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE)) * 4294967296.0) AS BIGINT) THEN 'val'
          |    ELSE 'test' END AS split,
          |  count(*) AS n_docs
          |FROM h GROUP BY 1, 2 ORDER BY source, split""".stripMargin),
    // the strip/dedup twins feeding the BPE CTE chain's histogram,
    // then the vocab-sized token join back to the corpus
    "llm_pipeline_tokens" ->
      (s"""WITH base AS MATERIALIZED (SELECT doc_id, text, source FROM documents),
          |c AS (SELECT doc_id, $mdCleanSql AS text FROM base),
          |l AS (SELECT doc_id AS id, CAST(t.i AS BIGINT) - 1 AS pos,
          |    parts[CAST(t.i AS INT)] AS line
          |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM c),
          |    UNNEST(generate_series(1, len(parts))) AS t(i)),
          |f AS (SELECT line, min(id) AS fid FROM l GROUP BY line),
          |f2 AS (SELECT l.line, f.fid, min(l.pos) AS fpos
          |  FROM l JOIN f ON l.line = f.line AND l.id = f.fid
          |  GROUP BY l.line, f.fid),
          |j AS (SELECT l.id, l.pos, l.line,
          |    (l.id = f2.fid AND l.pos = f2.fpos) AS keep
          |  FROM l JOIN f2 USING (line)),
          |dd AS MATERIALIZED (SELECT id AS doc_id,
          |    COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')
          |      AS clean_text
          |  FROM j GROUP BY id),
          |""".stripMargin +
        graft.llm.Bpe.chainCtesSql(8, throughK = true,
          """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
            |      SELECT unnest(regexp_split_to_array(clean_text, '\s+')) AS word FROM dd)
            |    WHERE length(word) > 0 GROUP BY word""".stripMargin,
          byteLevel = true) +
        """,
          |tok AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_toks FROM s8),
          |w AS (SELECT doc_id, word FROM (
          |    SELECT doc_id, unnest(regexp_split_to_array(clean_text, '\s+')) AS word
          |    FROM dd) WHERE length(word) > 0),
          |per AS (SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          |    CAST(sum(t.n_toks) AS BIGINT) AS n_toks
          |  FROM w JOIN tok t USING (word) GROUP BY 1)
          |SELECT b.source, count(*) AS n_docs,
          |  CAST(sum(per.n_words) AS BIGINT) AS total_words,
          |  CAST(sum(per.n_toks) AS BIGINT) AS total_tokens
          |FROM per JOIN base b USING (doc_id)
          |GROUP BY 1 ORDER BY source""".stripMargin),
    // llm_pipeline_binary twin: the docs-pipeline chain over the
    // printable-ASCII subset (PDF render→extract is bit-for-bit
    // identity there, per pdf_corpus_roundtrip, so the twin starts at
    // the wrapped markdown text), with the funnel joined to the same
    // filtered base.
    "llm_pipeline_binary" ->
      s"""WITH base AS (SELECT doc_id, text, source FROM documents
         |  WHERE regexp_matches(text, '^[\\x20-\\x7E]*$$') AND length(text) > 0),
         |c AS (SELECT doc_id, $mdCleanSql AS text FROM base),
         |l AS (SELECT doc_id AS id, CAST(t.i AS BIGINT) - 1 AS pos,
         |    parts[CAST(t.i AS INT)] AS line
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM c),
         |    UNNEST(generate_series(1, len(parts))) AS t(i)),
         |f AS (SELECT line, min(id) AS fid FROM l GROUP BY line),
         |f2 AS (SELECT l.line, f.fid, min(l.pos) AS fpos
         |  FROM l JOIN f ON l.line = f.line AND l.id = f.fid
         |  GROUP BY l.line, f.fid),
         |j AS (SELECT l.id, l.pos, l.line,
         |    (l.id = f2.fid AND l.pos = f2.fpos) AS keep
         |  FROM l JOIN f2 USING (line)),
         |dd AS (SELECT id AS doc_id,
         |    CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |    COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')
         |      AS clean_text
         |  FROM j GROUP BY id),
         |g AS (SELECT doc_id, n_dropped,
         |    CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_words,
         |    CAST(length(replace(clean_text, ' ', '')) AS DOUBLE) AS n_chars_nosp,
         |    CAST(list_contains(string_split(clean_text, ' '), 'the') AS BIGINT)
         |      + CAST(list_contains(string_split(clean_text, ' '), 'a') AS BIGINT)
         |      + CAST(list_contains(string_split(clean_text, ' '), 'of') AS BIGINT)
         |      + CAST(list_contains(string_split(clean_text, ' '), 'and') AS BIGINT)
         |      + CAST(list_contains(string_split(clean_text, ' '), 'to') AS BIGINT) AS n_stop
         |  FROM dd)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(SUM(g.n_dropped) AS BIGINT) AS n_lines_dropped,
         |  CAST(SUM(CASE WHEN g.n_words >= 20 AND g.n_words <= 100000
         |    AND g.n_chars_nosp / g.n_words >= 3.0 AND g.n_chars_nosp / g.n_words <= 10.0
         |    AND g.n_stop >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |FROM g JOIN base d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "text_gopher_rules" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_chars_nosp,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
        |    CAST(list_contains(string_split(text, ' '), 'the') AS BIGINT)
        |      + CAST(list_contains(string_split(text, ' '), 'a') AS BIGINT)
        |      + CAST(list_contains(string_split(text, ' '), 'of') AS BIGINT)
        |      + CAST(list_contains(string_split(text, ' '), 'and') AS BIGINT)
        |      + CAST(list_contains(string_split(text, ' '), 'to') AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_words,
        |  CAST(floor(n_chars_nosp / n_words * 1e4 + 0.5) AS BIGINT) AS mean_word_len,
        |  CAST(floor(n_alpha / n_chars_nosp * 1e4 + 0.5) AS BIGINT) AS alpha_frac,
        |  n_stop,
        |  (n_words >= 20 AND n_words <= 100000
        |   AND n_chars_nosp / n_words >= 3.0 AND n_chars_nosp / n_words <= 10.0
        |   AND n_stop >= 1) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    // same shingle algebra as the dedup oracles (whole-text fallback
    // under 3 words), occurrences kept — no DISTINCT before counting
    "text_trigram_diversity" ->
      """WITH words AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT source, unnest(
        |  CASE WHEN len(w) >= 3
        |  THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |  ELSE [array_to_string(w, ' ')] END) AS sh FROM words)
        |SELECT source, count(*) AS n_trigrams,
        |  count(DISTINCT sh) AS n_distinct,
        |  CAST(count(DISTINCT sh) * 1000000 // count(*) AS BIGINT) AS diversity_ppm
        |FROM sh GROUP BY source ORDER BY source""".stripMargin,
    // same lowercase, same stopword literal set, same three S-rules
    "text_stem_tokens" ->
      """WITH toks AS (SELECT lower(unnest(string_split(text, ' '))) AS tok FROM documents),
        |t2 AS (SELECT tok FROM toks WHERE tok <> ''
        |  AND tok NOT IN ('the','a','an','of','and','to','in','is','it','for')),
        |st AS (SELECT CASE
        |    WHEN tok LIKE '%sses' THEN substr(tok, 1, length(tok) - 2)
        |    WHEN tok LIKE '%ies' THEN substr(tok, 1, length(tok) - 3) || 'i'
        |    WHEN tok LIKE '%ss' THEN tok
        |    WHEN tok LIKE '%s' AND length(tok) > 1 THEN substr(tok, 1, length(tok) - 1)
        |    ELSE tok END AS stem FROM t2)
        |SELECT stem, count(*) AS n
        |FROM st GROUP BY 1 ORDER BY n DESC, stem LIMIT 20""".stripMargin,
    "text_tfidf_terms" ->
      """WITH toks AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE term <> ''),
        |tf AS (SELECT source, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS dfd
        |  FROM (SELECT DISTINCT doc_id, term FROM t2) GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |sc AS (SELECT tf.source, tf.term,
        |    tf.tf * length(format('{:b}', CAST(n.nd // df.dfd AS BIGINT))) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT source, term, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rk
        |  FROM sc)
        |SELECT source, CAST(rk AS BIGINT) AS rk, term, CAST(score AS BIGINT) AS score
        |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    // character-pair statistics over the ASCII word histogram — the
    // iteration-0 BPE view; substr is char-indexed on ASCII in both
    // engines
    "text_bpe_top_pairs" ->
      """WITH w AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
        |    FROM documents)
        |  WHERE length(word) > 0 AND regexp_matches(word, '^[\x20-\x7E]+$')
        |  GROUP BY word),
        |p AS (
        |  SELECT substr(word, CAST(t.i AS INT), 1) AS l,
        |    substr(word, CAST(t.i AS INT) + 1, 1) AS r, cnt
        |  FROM w, UNNEST(generate_series(1, length(word) - 1)) AS t(i))
        |SELECT l AS "left", r AS "right", CAST(sum(cnt) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2 ORDER BY n DESC, "left", "right" LIMIT 20""".stripMargin,
    // the k=8 greedy iteration, unrolled: see Bpe.mergesOracleSql
    "text_bpe_merges" -> graft.llm.Bpe.mergesOracleSql(8),
    // 256 rounds of the same greedy algebra over the customer-name
    // histogram (MATERIALIZED CTE pairs keep DuckDB linear in k)
    "text_bpe_merges_256" -> graft.llm.Bpe.mergesOracleSqlOver(256,
      "SELECT c_name AS word, CAST(count(*) AS BIGINT) AS cnt FROM customer GROUP BY 1"),
    // the same 256-round chain run through s256, then per-word tokens
    "text_bpe_encode_256" -> graft.llm.Bpe.encodeOracleSqlOver(256, 50,
      "SELECT c_name AS word, CAST(count(*) AS BIGINT) AS cnt FROM customer GROUP BY 1"),
    // same chain run through s8, then per-word token counts
    "text_bpe_encode" -> graft.llm.Bpe.encodeOracleSql(8, 50),
    "text_bpe_bytes_top_pairs" ->
      s"""WITH w AS ($mixedKoreanHistSql),
         |h AS (SELECT lower(hex(encode(word))) AS h, cnt FROM w),
         |t AS (SELECT list_transform(range(1, length(h)//2 + 1),
         |    i -> substring(h, CAST(2*i-1 AS INT), 2)) AS toks, cnt FROM h),
         |p AS (SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> struct_pack(l := toks[i], r := toks[i+1]))) AS pr, cnt FROM t)
         |SELECT pr.l AS "left", pr.r AS "right", CAST(sum(cnt) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2 ORDER BY n DESC, "left", "right" LIMIT 20""".stripMargin,
    // byte-level twins: s0 tokenizes each mixed Korean/ASCII word to
    // its UTF-8 hex-pair atoms (lower(hex(encode(word))) chunked in
    // twos — the Bpe.byteAtoms contract), then the same 256 unrolled
    // greedy rounds
    "text_bpe_bytes_256" ->
      graft.llm.Bpe.mergesOracleSqlOver(256, mixedKoreanHistSql,
        byteLevel = true),
    "text_bpe_bytes_encode_256" ->
      graft.llm.Bpe.encodeOracleSqlOver(256, 50, mixedKoreanHistSql,
        byteLevel = true),
    // persisted ≡ in-memory: the artifact round-trip must reproduce
    // the direct byte-encode chain exactly
    "text_bpe_tokenizer_persisted" ->
      graft.llm.Bpe.encodeOracleSqlOver(256, 50, mixedKoreanHistSql,
        byteLevel = true),
    // same keyed 20-gram hashes, window-of-8 integer argmin
    // (h*2^20 + p, leftmost tie), distinct fingerprints, share counts
    "text_winnow_fingerprints" ->
      (s"""WITH d AS (SELECT doc_id AS id, text FROM documents
          |  WHERE regexp_matches(text, '^[\\x20-\\x7E]*$$')
          |  UNION ALL
          |  SELECT doc_id + 9000000, '$koreanSpan' || text
          |  FROM documents WHERE doc_id < 2),""".stripMargin + "\n" +
      """pos AS (SELECT id, CAST(t.i AS BIGINT) AS p,
        |    CAST(CONCAT('0x', substr(md5(
        |      substr(text, CAST(t.i AS INT), 20) || ':win:h'), 1, 8)) AS BIGINT) AS h
        |  FROM d, UNNEST(generate_series(1, length(text) - 19)) AS t(i)),
        |nw AS (SELECT id, CAST(max(p) AS BIGINT) AS np FROM pos GROUP BY id),
        |memb AS (SELECT pos.id, pos.p, pos.h, CAST(t.j AS BIGINT) AS j
        |  FROM pos JOIN nw USING (id),
        |    UNNEST(generate_series(greatest(1, pos.p - 7),
        |      least(pos.p, nw.np - 7))) AS t(j)),
        |fp AS (SELECT DISTINCT id,
        |    min(h * 1048576 + p) % 1048576 AS p,
        |    min(h * 1048576 + p) // 1048576 AS h
        |  FROM memb GROUP BY id, j),
        |shared AS (SELECT h, CAST(count(DISTINCT id) AS BIGINT) AS nd
        |  FROM fp GROUP BY h)
        |SELECT fp.id AS doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        |  CAST(sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_fp
        |FROM fp JOIN shared s USING (h)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin),
    "text_top_terms" ->
      """SELECT term, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE term <> ''
        |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,
    // RE2 spells the script classes \p{Han}…; same code-point sets
    // as the engine's Java \p{IsHan}…
    "text_top_terms_cjk" ->
      """SELECT term, count(*) AS n
        |FROM (SELECT unnest(regexp_split_to_array(regexp_replace(
        |    text || CASE WHEN doc_id % 3 = 0 THEN ' 日本語テキスト解析'
        |                 WHEN doc_id % 3 = 1 THEN ' 데이터분석' ELSE '' END,
        |    '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'),
        |    '\s+')) AS term FROM documents)
        |WHERE term <> ''
        |GROUP BY term ORDER BY n DESC, term LIMIT 30""".stripMargin,
    // 1-based positions over the RAW split array, same numbering as
    // posexplode+1 (empties counted)
    "search_positions" ->
      """WITH arrs AS (
        |  SELECT doc_id, string_split(text, ' ') AS a
        |  FROM documents WHERE doc_id < 120),
        |tok AS (
        |  SELECT doc_id, CAST(u.p AS BIGINT) AS pos, a[u.p] AS term
        |  FROM arrs, UNNEST(generate_series(1, len(a))) AS u(p))
        |SELECT term, doc_id, count(*) AS tf, min(pos) AS first_pos
        |FROM tok WHERE term IN ('spark', 'join', 'window', 'stream')
        |GROUP BY 1, 2 ORDER BY term, doc_id""".stripMargin,
    // same gaps-and-islands (1-based pos shifts grp by a constant per
    // doc — island identity unchanged), same integer deg·1e4 div freq
    // scores, same (score, n_occ, phrase) total order
    "text_rake_keywords" ->
      """WITH arrs AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |toks AS (SELECT doc_id, CAST(u.p AS BIGINT) AS pos, a[u.p] AS term
        |  FROM arrs, UNNEST(generate_series(1, len(a))) AS u(p) WHERE a[u.p] <> ''),
        |ns AS (SELECT doc_id, pos, term,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM toks
        |  WHERE term NOT IN ('the','a','an','of','and','to','in','is','it','for')),
        |ph AS (SELECT doc_id, grp, string_agg(term, ' ' ORDER BY pos) AS phrase,
        |    count(*) AS plen
        |  FROM ns GROUP BY doc_id, grp),
        |pw AS (SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS term FROM ph),
        |sc AS (SELECT term,
        |    CAST(SUM(plen) AS BIGINT) * 10000 // count(*) AS score_x1e4
        |  FROM pw GROUP BY term),
        |occ AS (SELECT phrase, count(*) AS n_occ FROM ph GROUP BY phrase),
        |ow AS (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS term FROM occ),
        |ps AS (SELECT ow.phrase, ow.n_occ, CAST(SUM(sc.score_x1e4) AS BIGINT) AS rake_x1e4
        |  FROM ow JOIN sc USING (term) GROUP BY 1, 2)
        |SELECT phrase, n_occ, rake_x1e4 FROM ps
        |ORDER BY rake_x1e4 DESC, n_occ DESC, phrase LIMIT 20""".stripMargin,
    // same three regex counts, same fixed-point fold
    "text_readability" ->
      s"""WITH b AS (SELECT doc_id,
         |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_words,
         |    CAST(GREATEST(${reCount("text", "[.!?]+")}, 1) AS BIGINT) AS n_sentences,
         |    CAST(${reCount("lower(text)", "[aeiouy]+")} AS BIGINT) AS n_syllables
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  206835 - (1015 * (n_words * 1000 // n_sentences)) // 1000
         |         - (84600 * (n_syllables * 1000 // n_words)) // 1000 AS flesch_x1000
         |FROM b WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    // the greedy unrolled as three explicit CTE rounds (k=3 is a
    // constant of the gate): same pool, same pairwise cosines, same
    // (λ·rel − (1−λ)·maxsim) // 10 margins with (mmr, vec_id) ties
    "search_mmr_rerank" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 2),
         |c AS (SELECT vec_id, embedding AS ce FROM embeddings),
         |scv AS (SELECT qid, c.vec_id, ${cosS("qe", "ce")} AS rel FROM q, c),
         |pool AS (SELECT qid, vec_id, rel FROM (
         |    SELECT qid, vec_id, rel,
         |      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rk
         |    FROM scv) WHERE rk <= 10),
         |pe AS (SELECT p.qid, p.vec_id, e.embedding
         |  FROM pool p JOIN embeddings e USING (vec_id)),
         |sims AS (SELECT x.qid, x.vec_id AS a, y.vec_id AS b,
         |    ${cosS("x.embedding", "y.embedding")} AS sim
         |  FROM pe x JOIN pe y ON x.qid = y.qid AND x.vec_id <> y.vec_id),
         |s1 AS (SELECT qid, vec_id, rel, mmr FROM (
         |    SELECT qid, vec_id, rel, (7 * rel) // 10 AS mmr,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY (7 * rel) // 10 DESC, vec_id) AS rk
         |    FROM pool) WHERE rk = 1),
         |r2 AS (SELECT p.* FROM pool p ANTI JOIN s1
         |  ON s1.qid = p.qid AND s1.vec_id = p.vec_id),
         |m2 AS (SELECT r2.qid, r2.vec_id, r2.rel, max(sims.sim) AS maxsim
         |  FROM r2 JOIN sims ON sims.qid = r2.qid AND sims.a = r2.vec_id
         |  JOIN s1 ON s1.qid = sims.qid AND s1.vec_id = sims.b
         |  GROUP BY 1, 2, 3),
         |s2 AS (SELECT qid, vec_id, rel, mmr FROM (
         |    SELECT qid, vec_id, rel, (7 * rel - 3 * maxsim) // 10 AS mmr,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY (7 * rel - 3 * maxsim) // 10 DESC, vec_id) AS rk
         |    FROM m2) WHERE rk = 1),
         |sel2 AS (SELECT qid, vec_id FROM s1 UNION ALL SELECT qid, vec_id FROM s2),
         |r3 AS (SELECT p.* FROM pool p ANTI JOIN sel2
         |  ON sel2.qid = p.qid AND sel2.vec_id = p.vec_id),
         |m3 AS (SELECT r3.qid, r3.vec_id, r3.rel, max(sims.sim) AS maxsim
         |  FROM r3 JOIN sims ON sims.qid = r3.qid AND sims.a = r3.vec_id
         |  JOIN sel2 ON sel2.qid = sims.qid AND sel2.vec_id = sims.b
         |  GROUP BY 1, 2, 3),
         |s3 AS (SELECT qid, vec_id, rel, mmr FROM (
         |    SELECT qid, vec_id, rel, (7 * rel - 3 * maxsim) // 10 AS mmr,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY (7 * rel - 3 * maxsim) // 10 DESC, vec_id) AS rk
         |    FROM m3) WHERE rk = 1)
         |SELECT qid, CAST(1 AS INT) AS step, vec_id, rel AS rel_x1e4, mmr AS mmr_x1e4 FROM s1
         |UNION ALL SELECT qid, 2, vec_id, rel, mmr FROM s2
         |UNION ALL SELECT qid, 3, vec_id, rel, mmr FROM s3
         |ORDER BY qid, step""".stripMargin,
    // same add-one-smoothed bit-length costs over the same 9/10
    // held-in split; argmin via row_number ORDER BY (score, cls) =
    // the engine's struct-min tie-break
    "text_nb_classify" ->
      """WITH tr AS (SELECT lang AS cls, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id % 10 <> 0),
        |t2 AS (SELECT cls, tok FROM tr WHERE tok <> ''),
        |counts AS (SELECT cls, tok, count(*) AS cwc FROM t2 GROUP BY 1, 2),
        |totals AS (SELECT cls, CAST(sum(cwc) AS BIGINT) AS tc FROM counts GROUP BY 1),
        |voc AS (SELECT DISTINCT tok FROM counts),
        |vs AS (SELECT count(*) AS v FROM voc),
        |grid AS (SELECT voc.tok, totals.cls,
        |    CAST(length(format('{:b}',
        |      (totals.tc + vs.v) // (COALESCE(c.cwc, 0) + 1))) AS BIGINT) AS cost
        |  FROM voc CROSS JOIN totals CROSS JOIN vs
        |  LEFT JOIN counts c ON c.cls = totals.cls AND c.tok = voc.tok),
        |st AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |s2 AS (SELECT doc_id, lang, tok FROM st WHERE tok <> ''),
        |scored AS (SELECT s2.doc_id, s2.lang, g.cls,
        |    CAST(sum(g.cost) AS BIGINT) AS score
        |  FROM s2 JOIN grid g ON g.tok = s2.tok GROUP BY 1, 2, 3),
        |rk AS (SELECT doc_id, lang, cls, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score, cls) AS rn
        |  FROM scored)
        |SELECT doc_id, lang AS actual, cls AS pred, score, cls = lang AS correct
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // adjacency directly on the split array: a[p]=t1 ∧ a[p+1]=t2 ∧
    // a[p+2]=t3 over 1-based positions — same occurrences, same
    // 1-based first_pos as the postings-join engine path
    "search_phrase_match" ->
      """WITH arrs AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |hits AS (
        |  SELECT doc_id, CAST(u.p AS BIGINT) AS pos
        |  FROM arrs, UNNEST(generate_series(1, len(a) - 2)) AS u(p)
        |  WHERE a[u.p] = 'table' AND a[u.p + 1] = 'scan' AND a[u.p + 2] = 'merge')
        |SELECT doc_id, count(*) AS n_occ, min(pos) AS first_pos
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_vocab_by_source" ->
      """WITH tok AS (
        |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents)
        |SELECT source, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS total_tokens,
        |  count(DISTINCT term) AS distinct_terms,
        |  (count(DISTINCT term) * 1000000) // count(*) AS ttr_x1e6
        |FROM tok WHERE term <> ''
        |GROUP BY 1 ORDER BY source""".stripMargin,
    // mirrors Search.bm25TopK's integer algebra exactly: avgdl and idf
    // are integer-division/bitlength constants, each (doc,term)
    // component is one ×10000 fixed-point integer division
    "search_bm25_topk" -> bm25Sql(25),
    // RRF fusion over the two k=20 retriever lists: the bm25 oracle
    // nests as a subquery, the semantic side is the brute-cosine rank
    // for query vector 0, and the fused score is pure integer algebra.
    "search_hybrid_rrf" ->
      s"""WITH lexfull AS (SELECT * FROM (${bm25Sql(20)})),
         |lex AS (SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY score_x1e4 DESC, doc_id) AS lex_rank
         |  FROM lexfull),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT c.vec_id AS doc_id, ${cosS("q.qe", "c.ce")} AS cos
         |  FROM q, (SELECT vec_id, embedding AS ce FROM embeddings) c),
         |sem AS (SELECT doc_id, sem_rank FROM (
         |    SELECT doc_id,
         |      ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
         |    FROM sc) WHERE sem_rank <= 20),
         |j AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         |    COALESCE(lex.lex_rank, 0) AS lex_rank,
         |    COALESCE(sem.sem_rank, 0) AS sem_rank
         |  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
         |SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
         |  CAST(sem_rank AS BIGINT) AS sem_rank,
         |  CAST((CASE WHEN lex_rank > 0 THEN 1000000 // (60 + lex_rank) ELSE 0 END) +
         |       (CASE WHEN sem_rank > 0 THEN 1000000 // (60 + sem_rank) ELSE 0 END)
         |    AS BIGINT) AS rrf_x1e6
         |FROM j ORDER BY rrf_x1e6 DESC, doc_id LIMIT 20""".stripMargin,
    // mirrors repetitionMetrics: same tokenization, same scale4
    // fixed-point order, flag compared on the fixed-point integer
    "text_repetition" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
        |base AS (SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
        |  FROM d WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) AS b
        |  FROM d WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |bm AS (SELECT doc_id, max(c) AS maxc, sum(c) AS nbi FROM bc GROUP BY 1)
        |SELECT base.doc_id, base.n_tokens,
        |  CAST(FLOOR((1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS dup_tok_x1e4,
        |  CAST(FLOOR(CAST(maxc AS DOUBLE) / CAST(nbi AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS top_bigram_x1e4,
        |  (CAST(FLOOR(CAST(maxc AS DOUBLE) / CAST(nbi AS DOUBLE) * 10000 + 0.5) AS BIGINT) > 1800) AS repetitive
        |FROM base JOIN bm USING (doc_id) ORDER BY doc_id""".stripMargin,
    // mirrors CmsBuild/CmsEstimate exactly: per-row md5 buckets, one
    // count per (row, bucket), LEAST of the three joined counts
    "cms_heavy_hitters" -> {
      def b(i: Int) =
        s"CAST(CONCAT('0x', substr(md5(term || ':cms$i'), 1, 15)) AS BIGINT) % 1024"
      s"""WITH tt AS (
         |  SELECT term FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         |  WHERE term <> ''),
         |b AS (SELECT term, ${b(0)} AS b0, ${b(1)} AS b1, ${b(2)} AS b2 FROM tt),
         |c0 AS (SELECT b0, count(*) AS n0 FROM b GROUP BY 1),
         |c1 AS (SELECT b1, count(*) AS n1 FROM b GROUP BY 1),
         |c2 AS (SELECT b2, count(*) AS n2 FROM b GROUP BY 1),
         |top AS (SELECT term, count(*) AS n_exact FROM tt
         |        GROUP BY 1 ORDER BY n_exact DESC, term LIMIT 20),
         |tb AS (SELECT term, n_exact, ${b(0)} AS b0, ${b(1)} AS b1, ${b(2)} AS b2 FROM top)
         |SELECT tb.term, tb.n_exact, LEAST(c0.n0, c1.n1, c2.n2) AS n_cms
         |FROM tb JOIN c0 USING (b0) JOIN c1 USING (b1) JOIN c2 USING (b2)
         |ORDER BY n_exact DESC, term""".stripMargin
    },
    "text_fingerprint" -> {
      val poly = (0 until 5).map(j => s"cs[i + $j]")
        .reduce((acc, c) => s"($acc * 257 + $c)")
      s"""SELECT doc_id, list_min(list_transform(
         |    generate_series(1, n - 4),
         |    i -> $poly % 2147483647)) AS fp
         |FROM (SELECT doc_id, length(p) AS n,
         |  list_transform(string_split(p, ''), c -> CAST(ascii(c) AS BIGINT)) AS cs
         |  FROM (SELECT doc_id,
         |    CASE WHEN length(text) < 5 THEN rpad(text, 5, ' ') ELSE text END AS p
         |    FROM documents)) ORDER BY doc_id""".stripMargin
    },
    // same synthesized page, same strip order (script/style →
    // comments → tags → entities, &amp; last), DuckDB's explicit 'g'
    // flag standing in for Java's default-global replace
    "text_strip_html" -> {
      val ent = TA.htmlEntities
        .foldLeft("s") { case (acc, (e, r)) =>
          s"replace($acc, '${e.replace("'", "''")}', '${r.replace("'", "''")}')"
        }
      s"""WITH p AS (SELECT doc_id,
         |  '<html><head><style>body{color:red}</style>' ||
         |  '<script type="text/javascript">var x=1;</script></head>' ||
         |  '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
         |  '<p class="main">' || text || '</p>' ||
         |  '<p>5 &lt; 7 &amp;&amp; 9 &gt; 2, &quot;q&#39;s&quot;&nbsp;end</p>' ||
         |  '<!-- hidden note --></body></html>' AS h FROM documents),
         |s1 AS (SELECT doc_id, regexp_replace(h, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g') AS s FROM p),
         |s2 AS (SELECT doc_id, regexp_replace(s, '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g') AS s FROM s1),
         |s3 AS (SELECT doc_id, regexp_replace(s, '(?s)<!--.*?-->', ' ', 'g') AS s FROM s2),
         |s4 AS (SELECT doc_id, regexp_replace(s, '<[^>]+>', ' ', 'g') AS s FROM s3),
         |s5 AS (SELECT doc_id, $ent AS s FROM s4)
         |SELECT doc_id,
         |  trim(regexp_replace(s, '[ \t\r\n]+', ' ', 'g')) AS text_clean
         |FROM s5 ORDER BY doc_id""".stripMargin
    },
    // same extraction pattern VERBATIM (no lookbehind — RE2), same
    // trim + empty-drop, positions via the generate_series zip
    "text_sentences" ->
      """WITH p AS (SELECT doc_id, text || '. Tail one! Tail two? End' AS t
        |  FROM documents),
        |x AS (SELECT doc_id, regexp_extract_all(t, '[^.!?]+[.!?]*') AS parts FROM p),
        |e AS (SELECT doc_id, CAST(u.pos - 1 AS INT) AS sent_id,
        |    trim(parts[u.pos]) AS sentence
        |  FROM x, UNNEST(generate_series(1, len(parts))) AS u(pos))
        |SELECT doc_id, sent_id, sentence FROM e WHERE sentence <> ''
        |ORDER BY doc_id, sent_id""".stripMargin,
    // same tokenization, same integer rarity (bitlength of total//cnt
    // via binary format), same floor-100× mean
    // the rarity and surprisal CTE algebras chained per doc, same
    // integer thresholds
    "curation_quality_tiers" ->
      """WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |t2 AS (SELECT id, tok FROM toks WHERE tok <> ''),
        |freq AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY tok),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
        |r AS (SELECT t2.id, length(format('{:b}', CAST(tot.total // f.cnt AS BIGINT))) AS rb
        |  FROM t2 JOIN freq f USING (tok) CROSS JOIN tot),
        |rar AS (SELECT id, CAST((sum(rb) * 100) // count(*) AS BIGINT) AS rarity_x100
        |  FROM r GROUP BY id),
        |base AS (SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |b2 AS (SELECT id, w FROM base WHERE len(w) >= 2),
        |bi AS (SELECT id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM b2),
        |bp AS (SELECT id, w[i] AS w1, w[i+1] AS w2 FROM bi),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bp GROUP BY 1),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bp GROUP BY 1, 2),
        |r2 AS (SELECT bp.id, length(format('{:b}', CAST(c1.c1 // cb.cb AS BIGINT))) AS sb
        |  FROM bp JOIN cb USING (w1, w2) JOIN c1 USING (w1)),
        |sur AS (SELECT id, CAST((sum(sb) * 100) // count(*) AS BIGINT) AS surprisal_x100
        |  FROM r2 GROUP BY id),
        |tiers AS (SELECT d.lang,
        |    CASE WHEN sur.surprisal_x100 >= 538 OR rar.rarity_x100 >= 507 THEN 'reject'
        |         WHEN sur.surprisal_x100 >= 532 OR rar.rarity_x100 >= 504 THEN 'review'
        |         ELSE 'keep' END AS tier
        |  FROM documents d
        |  JOIN rar ON rar.id = d.doc_id
        |  JOIN sur ON sur.id = d.doc_id)
        |SELECT lang, tier, count(*) AS n_docs
        |FROM tiers GROUP BY 1, 2 ORDER BY lang, tier""".stripMargin,
    // same 90/10 split, same injected OOV tail, same five count
    // tables (context counted as n-1-gram HEAD so ratios are >= 1),
    // same 132-per-level backoff penalty, same x100 floor mean
    "text_lm_score" -> (lmTokenCtes +
      """
        |SELECT id AS doc_id, count(*) AS n_scored,
        |  CAST(sum(CASE WHEN lvl >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
        |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(sb) // count(*) AS BIGINT) AS lm_bits_x100
        |FROM sc GROUP BY id ORDER BY doc_id""".stripMargin),
    // the shared LM token CTEs, cut to each doc's ceil(20%·n)
    // highest-surprisal tokens by rank (boundary ties interchangeable
    // BY VALUE, so the integer mean is unique), then the x100 floor
    // mean over the selected tail
    "text_min_k_prob" -> (lmTokenCtes +
      """,
        |ranked AS (SELECT id, sb,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY sb DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY id) AS n
        |  FROM sc)
        |SELECT id AS doc_id, CAST(MAX(n) AS BIGINT) AS n_scored,
        |  count(*) AS n_k,
        |  CAST(sum(sb) // count(*) AS BIGINT) AS mink_bits_x100
        |FROM ranked WHERE rn <= (n * 20 + 99) // 100
        |GROUP BY id ORDER BY doc_id""".stripMargin),

    // the text_lm_score CTE algebra (no OOV-injection tail — the
    // composition scores the raw corpus), then the same deterministic
    // rank-based terciles: ntile(3) over (lang, score, doc_id)
    "curation_ccnet_buckets" ->
      """WITH base AS (SELECT doc_id AS id, (doc_id % 10 <> 0) AS is_train,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |ttok AS (SELECT unnest(w) AS w3 FROM base WHERE is_train),
        |uni AS (SELECT w3, count(*) AS cu FROM ttok GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ttok),
        |tbi AS (SELECT w[i] AS w2, w[i+1] AS w3
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        |        FROM base WHERE is_train AND len(w) >= 2)),
        |bi AS (SELECT w2, w3, count(*) AS cb FROM tbi GROUP BY 1, 2),
        |bh AS (SELECT w2, count(*) AS ch FROM tbi GROUP BY 1),
        |ttr AS (SELECT w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM base WHERE is_train AND len(w) >= 3)),
        |tri AS (SELECT w1, w2, w3, count(*) AS ct FROM ttr GROUP BY 1, 2, 3),
        |th AS (SELECT w1, w2, count(*) AS cth FROM ttr GROUP BY 1, 2),
        |str AS (SELECT id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        |  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM base WHERE len(w) >= 3)),
        |sc AS (SELECT s.id,
        |    CASE WHEN tri.ct IS NOT NULL
        |           THEN 100 * length(format('{:b}', CAST(th.cth // tri.ct AS BIGINT)))
        |         WHEN bi.cb IS NOT NULL
        |           THEN 132 + 100 * length(format('{:b}', CAST(bh.ch // bi.cb AS BIGINT)))
        |         WHEN uni.cu IS NOT NULL
        |           THEN 264 + 100 * length(format('{:b}', CAST(tot.n_total // uni.cu AS BIGINT)))
        |         ELSE 264 + 100 * length(format('{:b}', tot.n_total)) END AS sb
        |  FROM str s
        |  LEFT JOIN tri USING (w1, w2, w3)
        |  LEFT JOIN th USING (w1, w2)
        |  LEFT JOIN bi USING (w2, w3)
        |  LEFT JOIN bh USING (w2)
        |  LEFT JOIN uni USING (w3)
        |  CROSS JOIN tot),
        |lm AS (SELECT id AS doc_id,
        |    CAST(sum(sb) // count(*) AS BIGINT) AS lm_bits_x100
        |  FROM sc GROUP BY id),
        |tiles AS (SELECT d.lang, lm.lm_bits_x100,
        |    ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY lm.lm_bits_x100, d.doc_id) AS t
        |  FROM documents d JOIN lm USING (doc_id))
        |SELECT lang,
        |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs, max(lm_bits_x100) AS max_bits_x100
        |FROM tiles GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    // same head-count denominator (w1 as bigram head), same binary-
    // format bitlength, same ×100 floor mean
    "text_bigram_surprisal" ->
      """WITH base AS (SELECT doc_id AS id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |b2 AS (SELECT id, w FROM base WHERE len(w) >= 2),
        |bi AS (SELECT id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM b2),
        |bp AS (SELECT id, w[i] AS w1, w[i+1] AS w2 FROM bi),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bp GROUP BY 1),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bp GROUP BY 1, 2),
        |r AS (SELECT bp.id,
        |    length(format('{:b}', CAST(c1.c1 // cb.cb AS BIGINT))) AS sb
        |  FROM bp JOIN cb USING (w1, w2) JOIN c1 USING (w1))
        |SELECT id AS doc_id, count(*) AS n_bigrams,
        |  CAST((sum(sb) * 100) // count(*) AS BIGINT) AS surprisal_x100
        |FROM r GROUP BY id ORDER BY doc_id""".stripMargin,
    "text_rarity" ->
      """WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t2 AS (SELECT id, tok FROM toks WHERE tok <> ''),
        |freq AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY tok),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
        |r AS (SELECT t2.id,
        |    length(format('{:b}', CAST(tot.total // f.cnt AS BIGINT))) AS rb
        |  FROM t2 JOIN freq f USING (tok) CROSS JOIN tot)
        |SELECT id AS doc_id, count(*) AS n_tokens,
        |  CAST((sum(rb) * 100) // count(*) AS BIGINT) AS rarity_x100
        |FROM r GROUP BY id ORDER BY doc_id""".stripMargin,
    // same injected PII, same pattern strings VERBATIM (Java/RE2
    // shared subset), same email→ip→ssn→phone replace order; counts
    // run on the pre-scrub text on both sides
    "text_pii_scrub" -> {
      val Seq(email, ip, ssn, phone) = TA.piiPatterns.map(_._2)
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ||
         |  CASE WHEN doc_id % 2 = 0 THEN ' call 010-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234' ELSE '' END ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.' ||
         |    CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '<EMAIL>', 'g'),
         |    '$ip', '<IP>', 'g'),
         |    '$ssn', '<SSN>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS text_clean,
         |  len(regexp_extract_all(text, '$email')) AS n_email,
         |  len(regexp_extract_all(text, '$ip')) AS n_ip,
         |  len(regexp_extract_all(text, '$ssn')) AS n_ssn,
         |  len(regexp_extract_all(text, '$phone')) AS n_phone
         |FROM t ORDER BY doc_id""".stripMargin
    },
    // Same recursive-closure clustering as dedup_clusters, same quality
    // expression as text_quality, same packed-long argmax as the Spark
    // side — the IEEE double shapes must match op for op.
    "dedup_keeper_quality" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 10 < 3),
         |edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
         |reach(x, y) AS (
         |  SELECT x, y FROM edges
         |  UNION
         |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
         |labels AS (SELECT x AS id, LEAST(x, MIN(y)) AS cluster FROM reach GROUP BY x),
         |q AS (SELECT doc_id AS id,
         |  CAST(FLOOR((LEAST(CAST(n_tokens AS DOUBLE) / 100, 1) * 0.5 +
         |        LEAST(stop_ratio * 5, 1) * 0.5) * 10000 + 0.5) AS BIGINT) AS q
         |  FROM (SELECT doc_id,
         |    len(string_split_regex(text, '\\s+')) AS n_tokens,
         |    CAST(${reCount("text", langRe("en"))} AS DOUBLE) /
         |          len(string_split_regex(text, '\\s+')) AS stop_ratio
         |    FROM documents)),
         |packed AS (SELECT l.cluster, MIN((10000 - q.q) * 4294967296 + q.id) AS p
         |  FROM labels l JOIN q ON q.id = l.id GROUP BY l.cluster)
         |SELECT cluster, p % 4294967296 AS keeper_id,
         |  10000 - (p // 4294967296) AS keeper_q_x1e4
         |FROM packed ORDER BY cluster""".stripMargin,
    "ann_topk_brute" -> bruteSql,
    "ann_topk_truncated" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding[1:8] AS qe FROM embeddings WHERE vec_id < 3),
         |c AS (SELECT vec_id, embedding[1:8] AS ce FROM embeddings),
         |s AS (SELECT qid, c.vec_id, ${cosS("qe", "ce")} AS cos_x1e4 FROM q, c)
         |SELECT qid, vec_id, cos_x1e4, rank FROM (
         |  SELECT qid, vec_id, cos_x1e4,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_x1e4 DESC, vec_id) AS INT) AS rank
         |  FROM s) WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // mirrors Ann.quantizeInt8/cosineTopKInt8: same scale, clamp and
    // round rules; integer dots; scale4's ratio-then-x1e4 IEEE order
    "ann_topk_quantized" ->
      """WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM base),
        |qz AS (SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(LEAST(127.0, GREATEST(-127.0, round(x / s))) AS BIGINT)) END AS q
        |  FROM sc),
        |qd AS (SELECT vec_id, q,
        |    list_sum(list_transform(generate_series(1, len(q)), i -> q[i] * q[i])) AS qq FROM qz),
        |qs AS (SELECT vec_id AS qid, q AS qv, qq AS qqq FROM qd WHERE vec_id < 3),
        |cs AS (SELECT vec_id, q AS cv, qq AS cqq FROM qd),
        |p AS (SELECT qid, vec_id,
        |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * cv[i])) AS iab,
        |    qqq, cqq FROM qs CROSS JOIN cs),
        |s2 AS (SELECT qid, vec_id,
        |    CASE WHEN qqq = 0 OR cqq = 0 THEN NULL
        |         ELSE CAST(FLOOR(CAST(iab AS DOUBLE) / sqrt(CAST(qqq * cqq AS DOUBLE)) * 10000 + 0.5) AS BIGINT)
        |    END AS cos_x1e4
        |  FROM p)
        |SELECT qid, vec_id, cos_x1e4, rank FROM (
        |  SELECT qid, vec_id, cos_x1e4,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_x1e4 DESC, vec_id) AS INT) AS rank
        |  FROM s2) WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "ann_topk_ivf" -> ivfTopkSql,
    "ann_topk_pq" -> pqTopkSql,
    "ann_topk_pq_rerank" -> pqRerankSql,
    "ann_topk_ivfpq" -> ivfpqSql,
    // persist → reload → query must reproduce the in-memory build exactly
    "ann_index_persisted" -> ivfTopkSql,
    // the persisted IVF+PQ path must reproduce the in-memory build
    "ann_index_pq_persisted" -> ivfpqSql,
    "ann_incremental_ivf" -> ivfIncrementalSql,
    "ann_incremental_pq" -> ivfpqIncrementalSql,
    "ann_index_compact" -> ivfpqIncrementalSql,
    "ann_index_compact_staged" -> ivfpqIncrementalSql,
    "curation_cluster_cap" -> clusterCapSql,
    // same booleans as the text_gopher_rules oracle (raw-double
    // comparisons on both sides), one aggregate, 3-row UNION funnel
    "curation_reject_funnel" ->
      """WITH s AS (SELECT
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_chars_nosp,
        |    CAST(list_contains(string_split(text, ' '), 'the') AS BIGINT)
        |      + CAST(list_contains(string_split(text, ' '), 'a') AS BIGINT)
        |      + CAST(list_contains(string_split(text, ' '), 'of') AS BIGINT)
        |      + CAST(list_contains(string_split(text, ' '), 'and') AS BIGINT)
        |      + CAST(list_contains(string_split(text, ' '), 'to') AS BIGINT) AS n_stop
        |  FROM documents),
        |f AS (SELECT
        |    (n_words >= 20 AND n_words <= 100000) AS p1,
        |    (n_chars_nosp / n_words >= 3.0 AND n_chars_nosp / n_words <= 10.0) AS p2,
        |    (n_stop >= 1) AS p3
        |  FROM s),
        |agg AS (SELECT count(*) AS n_input,
        |    CAST(SUM(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |    CAST(SUM(CASE WHEN NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
        |    CAST(SUM(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        |    CAST(SUM(CASE WHEN p1 AND p2 AND NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS m3,
        |    CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        |    CAST(SUM(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3
        |  FROM f)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS rule_idx, 'word_count' AS rule,
        |    f1 AS n_fail, f1 AS n_marginal, s1 AS n_surviving, n_input FROM agg
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'mean_word_len', f2, m2, s2, n_input FROM agg
        |  UNION ALL SELECT CAST(3 AS BIGINT), 'stopword', f3, m3, s3, n_input FROM agg)
        |ORDER BY rule_idx""".stripMargin,
    // identical ivf algebra, query set widened to the stream's six
    "ann_stream_topk" -> ("WITH " + ivfCtes(maxQ = 6).mkString(",\n") +
      "\nSELECT qid, vec_id, cos_x1e4, rank FROM ivf ORDER BY qid, rank"),
    "ann_topk_ivf_quantized" -> ivfQuantSql,
    "ann_ivf_recall" -> ivfRecallSql,
    "dedup_embedding" -> embeddingDupSql,
    "dedup_semantic_apply" -> semanticApplySql,
    "dedup_rhp_embedding" -> rhpSql,
    "curation_pipeline" -> {
      val scores = TA.langProfiles.map { case (l, _) =>
        s"${reCount("text", langRe(l))} AS s_$l"
      }.mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |    CASE WHEN doc_id % 50 = 0 THEN text ELSE text || ' zzz9' END FROM documents),
         |feat AS (SELECT doc_id, text, $scores,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens,
         |  CAST(${reCount("text", langRe("en"))} AS DOUBLE) /
         |    len(string_split_regex(text, '\\s+')) AS stop_ratio
         |  FROM corpus),
         |scored AS (SELECT doc_id, $guessSql AS lang,
         |  CAST(FLOOR((LEAST(CAST(n_tokens AS DOUBLE) / 100, 1) * 0.5 +
         |    LEAST(stop_ratio * 5, 1) * 0.5) * 10000 + 0.5) AS BIGINT) AS q_x1e4
         |  FROM feat),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text))
         |SELECT s.doc_id, s.lang, s.q_x1e4 FROM scored s
         |WHERE s.lang = 'en' AND s.q_x1e4 >= $QUALITY_MIN
         |  AND s.doc_id IN (SELECT doc_id FROM keepers)
         |ORDER BY s.doc_id""".stripMargin
    },
    "multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  'raw' AS fmt,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(16 + octet_length(encode(text)) % 640 AS INT) AS width,
        |  CAST(16 + (octet_length(encode(text)) * 31) % 480 AS INT) AS height,
        |  CAST(NULL AS BIGINT) AS duration_ms,
        |  md5(text) AS sig
        |FROM documents ORDER BY media_id""".stripMargin,
    // left-half-white = bits x<4 of every row = 0x0F0F0F0F0F0F0F0F;
    // top-half-white = bits 0..31 = 4294967295; solids = 0 (strict >)
    "multimodal_resize_ahash" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'png', CAST(8 AS INT), CAST(8 AS INT), true, CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'png', CAST(8 AS INT), CAST(8 AS INT), true, CAST(0 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'png', CAST(8 AS INT), CAST(8 AS INT), true, CAST(1085102592571150095 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'png', CAST(8 AS INT), CAST(8 AS INT), true, CAST(4294967295 AS BIGINT)),
        |  (CAST(5 AS BIGINT), 'skip', CAST(-1 AS INT), CAST(-1 AS INT), false, CAST(-1 AS BIGINT)))
        |  AS t(media_id, fmt, width, height, nonempty, ahash)
        |ORDER BY media_id""".stripMargin,
    "multimodal_ahash_neardup" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)))
        |  AS t(a, b, dist) ORDER BY a, b""".stripMargin,
    // derived bit sets: gray = DC only = 1, black = 0,
    // vertical = 1 + 2^8 + 2^40, horizontal = 1 + 2 + 32
    "multimodal_phash" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(1099511628033 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(35 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(-1 AS BIGINT)))
        |  AS t(media_id, phash) ORDER BY media_id""".stripMargin,
    // pairwise symmetric-difference sizes of the bit sets above;
    // (3,4) and (4,6) sit at 4 bits and are absent
    "multimodal_phash_neardup" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(3 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(6 AS BIGINT), CAST(3 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(6 AS BIGINT), CAST(0 AS BIGINT)))
        |  AS t(a, b, dist) ORDER BY a, b""".stripMargin,
    "multimodal_dedup_apply" ->
      """SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (CAST(4 AS BIGINT)),
        |  (CAST(5 AS BIGINT))) AS t(media_id) ORDER BY media_id""".stripMargin,
    "multimodal_audio_neardup" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT)))
        |  AS t(a, b, dist) ORDER BY a, b""".stripMargin,
    "multimodal_real_decode" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'png', true, 12, 8, CAST(NULL AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'jpeg', true, 20, 10, CAST(NULL AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'wav', true, 0, 0, CAST(1000 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'mp4', true, 320, 240, CAST(2500 AS BIGINT)),
        |  (CAST(5 AS BIGINT), 'raw', true, 32, 32, CAST(NULL AS BIGINT)))
        |  AS t(media_id, fmt, nonempty, width, height, duration_ms)
        |ORDER BY media_id""".stripMargin,
    "multimodal_binaryfile_scan" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'png', 16, 9),
        |  (CAST(2 AS BIGINT), 'jpeg', 24, 11),
        |  (CAST(3 AS BIGINT), 'gif', 7, 6))
        |  AS t(media_id, fmt, width, height)
        |ORDER BY media_id""".stripMargin,
    // chr()-built twins of the Scala fixture literals; DuckDB's own
    // nfc_normalize must agree with the engine's on every key
    "text_nfc_dedup_key" ->
      """WITH fx AS (SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), 'Caf' || chr(233) || ' Latte'),
        |    (CAST(2 AS BIGINT), 'Cafe' || chr(769) || ' Latte'),
        |    (CAST(3 AS BIGINT), 'cafe latte'),
        |    (CAST(4 AS BIGINT), 'Caf' || chr(233) || ' LATTE'),
        |    (CAST(5 AS BIGINT), 'na' || chr(239) || 've'),
        |    (CAST(6 AS BIGINT), 'nai' || chr(776) || 've'))
        |  AS t(doc_id, text))
        |SELECT lower(nfc_normalize(text)) AS key,
        |  count(*) AS n_docs, min(doc_id) AS keeper
        |FROM fx GROUP BY 1 ORDER BY key""".stripMargin,
    // hand-derived from the PCM fixtures: sum of squares, peak, and
    // negative/non-negative sign flips across the interleaved stream
    "multimodal_audio_features" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'wav', CAST(4 AS BIGINT), CAST(8 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'wav', CAST(5 AS BIGINT), CAST(2500000 AS BIGINT), CAST(1000 AS BIGINT), CAST(3 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'wav', CAST(4 AS BIGINT), CAST(100000 AS BIGINT), CAST(200 AS BIGINT), CAST(3 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'skip', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)))
        |  AS t(media_id, fmt, n_samples, sum_sq, max_abs, zero_crossings)
        |ORDER BY media_id""".stripMargin,
    "multimodal_oriented_neardup" ->
      """SELECT * FROM (VALUES
        |  ('oriented', CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('oriented', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('oriented', CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT)))
        |  AS t(mode, a, b, dist) ORDER BY mode, a, b""".stripMargin,
    "multimodal_exif" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 6, '2023:07:01 10:20:30', 'GraftCam', 'GC-100', 32, 16),
        |  (CAST(2 AS BIGINT), 1, '2024:12:31 23:59:59', 'OtherCo', 'X9', 8, 24),
        |  (CAST(3 AS BIGINT), CAST(NULL AS INT), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS INT), CAST(NULL AS INT)),
        |  (CAST(4 AS BIGINT), CAST(NULL AS INT), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS INT), CAST(NULL AS INT)))
        |  AS t(media_id, orientation, taken_at, make, model, pixel_x, pixel_y)
        |ORDER BY media_id""".stripMargin,
    "multimodal_sniff_dims" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'png', 12, 8),
        |  (CAST(2 AS BIGINT), 'jpeg', 20, 10),
        |  (CAST(3 AS BIGINT), 'gif', 9, 7),
        |  (CAST(4 AS BIGINT), 'bmp', 15, 5),
        |  (CAST(5 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS INT), CAST(NULL AS INT)))
        |  AS t(media_id, fmt, width, height)
        |ORDER BY media_id""".stripMargin,
    "multimodal_frames" ->
      """WITH n AS (SELECT doc_id AS media_id, text,
        |    GREATEST(octet_length(encode(text)) // 64, 1) AS nf FROM documents),
        |f AS (SELECT media_id, CAST(i - 1 AS INT) AS frame_no,
        |    hex(encode(substring(text, CAST((i-1)*64+1 AS INT), 16))) AS frame_hex
        |  FROM n, unnest(generate_series(1, nf)) AS t(i))
        |SELECT media_id, frame_no, frame_hex FROM f
        |ORDER BY media_id, frame_no""".stripMargin,
    // same half-overlapping windows (ASCII fixture: char = byte), same
    // distinct-4-gram Jaccard vs the predecessor, same -1 first frame
    "multimodal_keyframes" ->
      """WITH m AS (SELECT doc_id AS media_id, text,
        |    GREATEST(octet_length(encode(text)) // 16, 1) AS nf FROM documents),
        |fr AS (SELECT media_id, CAST(i - 1 AS INT) AS frame_no,
        |    substring(text, CAST((i-1)*16+1 AS INT), 32) AS s
        |  FROM m, unnest(generate_series(1, nf)) AS t(i)),
        |g AS (SELECT media_id, frame_no, unnest(list_distinct(list_transform(
        |    generate_series(1, GREATEST(length(s) - 3, 1)),
        |    i -> substring(s, CAST(i AS INT), 4)))) AS g
        |  FROM fr),
        |sizes AS (SELECT media_id, frame_no, count(*) AS sz FROM g GROUP BY 1, 2),
        |inter AS (SELECT a.media_id, b.frame_no, count(*) AS i
        |  FROM g a JOIN g b ON b.media_id = a.media_id
        |    AND b.frame_no = a.frame_no + 1 AND b.g = a.g
        |  GROUP BY 1, 2),
        |sc AS (SELECT c.media_id, c.frame_no,
        |    CAST(FLOOR(CAST(COALESCE(i.i, 0) AS DOUBLE)
        |      / (c.sz + p.sz - COALESCE(i.i, 0)) * 10000 + 0.5) AS BIGINT)
        |      AS jacc_prev_x1e4
        |  FROM sizes c
        |  JOIN sizes p ON p.media_id = c.media_id AND p.frame_no = c.frame_no - 1
        |  LEFT JOIN inter i ON i.media_id = c.media_id AND i.frame_no = c.frame_no)
        |SELECT media_id, frame_no, CAST(-1 AS BIGINT) AS jacc_prev_x1e4
        |FROM fr WHERE frame_no = 0
        |UNION ALL
        |SELECT media_id, frame_no, jacc_prev_x1e4 FROM sc
        |WHERE jacc_prev_x1e4 < 3500
        |ORDER BY media_id, frame_no""".stripMargin,
  )
}

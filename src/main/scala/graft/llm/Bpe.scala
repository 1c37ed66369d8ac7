package graft.llm

import org.apache.spark.sql.{DataFrame, Row, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-Pair-Encoding merge learning and encoding — the tokenizer half
  * of an LLM data pipeline (Sennrich et al. 2016 shape), restructured
  * for Spark's execution model.
  *
  * The naive formulation rescans the corpus once per merge — k ≈ 32k
  * merges × a 100 TB corpus is absurd. The standard design makes the
  * corpus cost ONE pass: aggregate to the word histogram (vocab-sized
  * — hundreds of thousands of rows no matter how many petabytes feed
  * it, by Heaps' law), then learn every merge against the histogram
  * with pair counts weighted by word frequency. Learning
  * ([[learnMerges]]) and encoding ([[encode]]) both run driver-side
  * over the collected histogram: nothing corpus-sized moves after the
  * first shuffle, and no merge costs a Spark job.
  *
  * Two alphabets, chosen by `byteLevel`: characters (UTF-16 code
  * units — engine-portable on printable-ASCII text only) or UTF-8
  * byte atoms ([[byteAtoms]] — portable on any text). Merges apply
  * with the greedy left-to-right non-overlap semantics of classic
  * BPE ("aaa" + merge(a,a) → [aa, a], see [[mergeAdjacent]]).
  */
object Bpe {

  /** The one corpus-scale pass: whitespace-split word histogram. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** A word's UTF-8 bytes as stable two-hex-digit atoms — the
    * byte-level BPE alphabet (GPT-2 style: the base vocabulary is the
    * 256 byte values, so EVERY string tokenizes with zero OOV and no
    * code-unit vs code-point splitting convention can diverge across
    * engines; `lower(hex(encode(word)))` chunked in pairs is the same
    * sequence in any SQL dialect). Merged tokens are concatenated hex
    * runs — always decodable back to the byte string they cover. */
  private[llm] def byteAtoms(w: String): Vector[String] = {
    val bs = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < bs.length) {
      val v = bs(i) & 0xff
      out += f"$v%02x"
      i += 1
    }
    out.result()
  }

  /** Character-level token sequences of the histogram words. */
  private def charSeqs(hist: DataFrame): DataFrame =
    hist.select(expr("filter(split(word, ''), x -> x != '')").as("toks"),
      col("cnt"))

  /** Adjacent-pair counts of a (toks, cnt) table, one row per distinct
    * (left, right) pair, weighted by word frequency. */
  private def pairCounts(seqs: DataFrame): DataFrame =
    // sequence(1, 0) counts DOWN in Spark, so a single-token word must
    // short-circuit: when() yields null there and explode(null) emits
    // no rows — the pairless word simply leaves the aggregate.
    seqs.select(explode(when(size(col("toks")) >= 2, expr(
        "transform(sequence(1, size(toks) - 1), j -> struct(toks[j-1] AS l, toks[j] AS r))")))
        .as("p"), col("cnt"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("cnt")).as("n"))

  /** Initial (character-level) pair statistics, descending — the
    * iteration-0 view a SQL oracle can mirror exactly. `asciiOnly`
    * restricts to printable-ASCII words so engines with different
    * code-unit vs code-point splitting conventions agree. */
  def topPairs(docs: DataFrame, textCol: String, limit: Int,
      asciiOnly: Boolean): DataFrame = {
    val hist0 = wordHistogram(docs, textCol)
    val hist = if (asciiOnly) hist0.filter(col("word").rlike("^[\\x20-\\x7E]+$"))
      else hist0
    pairCounts(charSeqs(hist))
      .orderBy(desc("n"), asc("left"), asc("right"))
      .limit(limit)
  }

  /** Byte-level token sequences of the histogram words, as a
    * DISTRIBUTED expression (the [[byteAtoms]] twin in Spark SQL):
    * lower(hex(encode(word))) chunked in twos — one narrow
    * projection, no driver involvement, for corpus-scale byte-pair
    * statistics. */
  private def byteSeqs(hist: DataFrame): DataFrame =
    hist.select(lower(hex(functions.encode(col("word"), "UTF-8"))).as("h"),
        col("cnt"))
      .select(expr(
        "transform(sequence(1, length(h) div 2), i -> substring(h, 2*i-1, 2))")
        .as("toks"), col("cnt"))

  /** Iteration-0 view of BYTE-level BPE: adjacent byte-pair counts
    * over the word histogram — [[topPairs]] without the ASCII fence,
    * valid on ANY text (the UTF-8 hex alphabet has no splitting
    * convention to disagree on). Fully distributed: histogram
    * aggregate + narrow hex projection + pair aggregate. */
  def topPairsBytes(docs: DataFrame, textCol: String, limit: Int): DataFrame =
    pairCounts(byteSeqs(wordHistogram(docs, textCol)))
      .orderBy(desc("n"), asc("left"), asc("right"))
      .limit(limit)

  /** Learn the top-k BPE merges over a (word, cnt) histogram (usually
    * [[wordHistogram]]). Returns (rank, left, right, n) — rank 1 is the
    * first (highest-count) merge; ties break lexicographically so the
    * result is deterministic under any partitioning. Stops early when
    * no adjacent pair remains (every word fully merged). `byteLevel`
    * picks the alphabet: UTF-8 hex-pair atoms ([[byteAtoms]]; left and
    * right are then hex runs) or characters.
    *
    * Scale shape: the ONLY corpus-scale object is the histogram
    * aggregate — one shuffle, however many petabytes feed it. `maxWords`
    * caps what the driver collects to the most frequent N words
    * (deterministic ties by word), the standard tokenizer-training
    * design: HuggingFace tokenizers and SentencePiece both learn merges
    * single-node over a pre-counted, frequency-floored histogram,
    * because rare words contribute ~nothing to pair statistics.
    * Learning then runs the incremental algorithm
    * ([[incrementalMergesTok]]): O(sites · log P) per merge instead of a
    * vocab rescan, so 32k merges over a 1M-word histogram is seconds of
    * driver CPU. A caller that feeds both this and [[encode]] from one
    * histogram can localCheckpoint it (vocab-sized, cheap at any scale)
    * so the corpus is aggregated once. */
  def learnMerges(hist: DataFrame, k: Int, byteLevel: Boolean,
      maxWords: Int = 1 << 20): DataFrame = {
    require(k >= 1 && k <= 65536, s"learnMerges: k=$k out of [1, 65536]")
    val atoms = atomsOf(byteLevel)
    val words = topWords(hist, maxWords).map { case (w, c) => (atoms(w), c) }.toSeq
    val spark = hist.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(incrementalMergesTok(words, k).map {
        case (rk, l, r, n) => Row(rk, l, r, n)
      }, 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("n", LongType, nullable = false))))
  }

  /** Encode a (word, cnt) histogram with an ordered merge list in the
    * given alphabet: each DISTINCT word starts as its atoms and the
    * merges apply greedily in list order — exactly the
    * tokenizer-inference contract of [[learnMerges]] (BPE encodes by
    * replaying merges in learned order). The scale shape is the point:
    * encode each distinct word once on the vocab-sized table (collected
    * to the driver, capped at `maxWords` like [[learnMerges]]), then
    * join token counts back to the corpus — never re-tokenize the
    * corpus row by row. Output (word, cnt, toks, n_toks), one row per
    * collected word. */
  def encode(hist: DataFrame, merges: Seq[(String, String)],
      byteLevel: Boolean, maxWords: Int = 1 << 20): DataFrame = {
    val atoms = atomsOf(byteLevel)
    val ms = merges.toIndexedSeq
    // Build the pair→ranks index ONCE per histogram — rebuilding the
    // O(merges) groupBy inside the per-word loop would make the index
    // construction alone O(words × merges) at 1M-word / 65k-merge scale.
    val ranks = rankIndex(ms)
    val rows = topWords(hist, maxWords).map { case (w, c) =>
      val toks = encodeWordReplay(atoms(w), ms, ranks)
      Row(w, c, toks, toks.length)
    }
    val spark = hist.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(
        StructField("word", StringType, nullable = false),
        StructField("cnt", LongType, nullable = false),
        StructField("toks", ArrayType(StringType, containsNull = false), nullable = false),
        StructField("n_toks", IntegerType, nullable = false))))
  }

  private def atomsOf(byteLevel: Boolean): String => Vector[String] =
    if (byteLevel) byteAtoms else w => w.map(_.toString).toVector

  /** The `maxWords` most frequent (word, cnt) rows, ties by word. */
  private def topWords(hist: DataFrame, maxWords: Int): Array[(String, Long)] = {
    require(maxWords >= 1, s"maxWords=$maxWords must be positive")
    hist.orderBy(desc("cnt"), asc("word")).limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
  }

  /** Apply ONE merge (l, r) → l+r to a token vector: greedy
    * left-to-right, carrying a pending token — emit the merged token
    * and clear the pending slot when (pending, next) matches. */
  private[llm] def mergeAdjacent(toks: Vector[String], l: String,
      r: String): Vector[String] = {
    val merged = l + r
    val buf = Vector.newBuilder[String]
    var pend: String = null
    toks.foreach { t =>
      if (pend == null) pend = t
      else if (pend == l && t == r) { buf += merged; pend = null }
      else { buf += pend; pend = t }
    }
    if (pend != null) buf += pend
    buf.result()
  }

  /** Every rank (0-based list position) of each pair, ascending — an
    * arbitrary merge list may name a pair more than once. */
  private def rankIndex(merges: Seq[(String, String)])
      : Map[(String, String), Array[Int]] =
    merges.zipWithIndex.groupBy(_._1)
      .map { case (p, xs) => (p, xs.map(_._2).sorted.toArray) }

  /** Replay-in-list-order encode of one token vector: at each step the
    * lowest rank ABOVE the cursor whose pair is adjacent somewhere
    * applies ([[mergeAdjacent]]) and the cursor advances to it. Ranks
    * skipped on the way name absent pairs, which list-order
    * application would leave as no-ops, so the result equals applying
    * every merge in list order; a greedy pass consumes every
    * occurrence of its pair, so one rank never applies twice.
    * O(applications · |toks|) with applications ≤ |toks| − 1. */
  private def encodeWordReplay(init: Vector[String],
      merges: IndexedSeq[(String, String)],
      ranks: Map[(String, String), Array[Int]]): Vector[String] = {
    var toks = init
    var cursor = -1
    var done = false
    while (!done && toks.length >= 2) {
      var best = Int.MaxValue
      var i = 0
      while (i + 1 < toks.length) {
        ranks.get((toks(i), toks(i + 1))).foreach { rs =>
          var j = 0
          while (j < rs.length && rs(j) <= cursor) j += 1
          if (j < rs.length && rs(j) < best) best = rs(j)
        }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (l, r) = merges(best)
        toks = mergeAdjacent(toks, l, r)
        cursor = best
      }
    }
    toks
  }

  /** Default histogram SQL: printable-ASCII whitespace words of
    * `documents.text` (the [[wordHistogram]] twin). */
  private val docsHistSql: String =
    """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
      |      SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
      |      FROM documents WHERE regexp_matches(text, '^[\x20-\x7E]*$'))
      |    WHERE length(word) > 0 GROUP BY word""".stripMargin

  /** Shared CTE chain for the BPE oracles: the greedy iteration
    * unrolls into k chained CTE rounds. s0 is the tokenized word
    * histogram (word carried through every round), `b{i}` is round i's
    * argmax pair (same (-n, l, r) tie order as the engine) and `s{i}`
    * re-tokenizes the vocab by applying that merge greedily
    * left-to-right via list lambdas. The greedy non-overlap rule is
    * positional: within each maximal run of consecutive matching pair
    * positions, keep the 1st, 3rd, 5th… (odd distance from the run's
    * start — exactly what [[mergeAdjacent]]'s pending-token fold
    * selects). Unrolling sidesteps every recursive-CTE restriction (the
    * round needs both an aggregate over the working vocab AND a second
    * reference to it). When `throughK` the chain ends with the FULLY
    * merged s_k (the encode oracle needs it); the learn oracle stops at
    * b_k. */
  private def bpeChainCtes(k: Int, throughK: Boolean,
      histSql: String = docsHistSql, byteLevel: Boolean = false): Seq[String] = {
    // Every s_i is referenced twice (by b_{i+1} and s_{i+1}); DuckDB
    // 1.0 inlines multi-referenced CTEs, re-executing the chain
    // multiplicatively — MATERIALIZED keeps k rounds linear.
    //
    // byteLevel: s0 tokenizes each word to its UTF-8 hex-pair atoms
    // (lower(hex(encode(word))) chunked in twos — the [[byteAtoms]]
    // twin), so the chain is engine-portable on ANY text; the default
    // s0 splits per character (per code point in DuckDB), which only
    // agrees with per-code-unit engines on BMP-safe corpora.
    val s0 =
      if (byteLevel)
        s"""s0 AS MATERIALIZED (
          |  SELECT word, list_transform(range(1, length(h)//2 + 1),
          |      i -> substring(h, CAST(2*i-1 AS INT), 2)) AS toks, cnt
          |  FROM (SELECT word, lower(hex(encode(word))) AS h, cnt FROM ($histSql)))""".stripMargin
      else
        s"""s0 AS MATERIALIZED (
          |  SELECT word, list_transform(range(1, length(word)+1), i -> word[i]) AS toks, cnt
          |  FROM ($histSql))""".stripMargin
    def best(prev: String, b: String) =
      s"""$b AS MATERIALIZED (
         |  SELECT pr.l AS l, pr.r AS r, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM (SELECT unnest(list_transform(range(1, len(toks)),
         |      i -> struct_pack(l := toks[i], r := toks[i+1]))) AS pr, cnt FROM $prev)
         |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1)""".stripMargin
    def step(prev: String, b: String, next: String) =
      s"""$next AS MATERIALIZED (
         |  SELECT word, flatten(list_transform(range(1, len(toks)+1), i ->
         |      CASE WHEN list_contains(kept, i) THEN [ml || mr]
         |           WHEN list_contains(kept, i - 1) THEN []
         |           ELSE [toks[i]] END)) AS toks, cnt
         |  FROM (
         |    SELECT word, toks, cnt, ml, mr,
         |      list_filter(matches, i -> (i - coalesce(list_max(
         |        list_filter(range(0, i), j -> j = 0 OR NOT list_contains(matches, j))), 0)) % 2 = 1) AS kept
         |    FROM (
         |      SELECT word, toks, cnt, b.l AS ml, b.r AS mr,
         |        list_filter(range(1, len(toks)), i -> toks[i] = b.l AND toks[i+1] = b.r) AS matches
         |      -- LEFT JOIN ON TRUE: past saturation (the argmax CTE
         |      -- is EMPTY) every word passes through unchanged; a
         |      -- plain cross join would annihilate the vocab and the
         |      -- deep-encode oracle would return zero rows
         |      FROM $prev LEFT JOIN $b b ON TRUE)))""".stripMargin
    s0 +: (1 to k).flatMap { i =>
      best(s"s${i - 1}", s"b$i") +:
        (if (i < k || throughK) Seq(step(s"s${i - 1}", s"b$i", s"s$i"))
         else Seq.empty)
    }
  }

  /** DuckDB oracle for [[learnMerges]] with a FIXED k over the
    * `documents` histogram; k=8 keeps the statement ~60 lines. */
  def mergesOracleSql(k: Int): String = {
    require(k >= 1 && k <= 32, s"mergesOracleSql: k=$k out of [1, 32]")
    mergesOracleSqlOver(k, docsHistSql)
  }

  /** The raw CTE chain (s0..s_k / b1..b_k) as one comma-joined block,
    * for COMPOSITION oracles that splice BPE learning into a larger
    * WITH (the histogram SQL may reference the caller's own CTEs). */
  def chainCtesSql(k: Int, throughK: Boolean, histSql: String,
      byteLevel: Boolean = false): String = {
    require(k >= 1 && k <= 512, s"chainCtesSql: k=$k out of [1, 512]")
    bpeChainCtes(k, throughK, histSql, byteLevel).mkString(",\n")
  }

  /** [[mergesOracleSql]] over an arbitrary (word, cnt) histogram SQL —
    * the deep-merge gate needs a vocabulary rich enough for hundreds
    * of rounds, which the 31-word synthetic `documents` corpus is
    * not. Each round is two MATERIALIZED CTEs, so DuckDB cost stays
    * linear in k (measured ~0.13 s/round). */
  def mergesOracleSqlOver(k: Int, histSql: String,
      byteLevel: Boolean = false): String = {
    require(k >= 1 && k <= 512, s"mergesOracleSqlOver: k=$k out of [1, 512]")
    val unions = (1 to k).map(i =>
      s"""SELECT CAST($i AS INT) AS "rank", l AS "left", r AS "right", n FROM b$i""")
    "WITH " + bpeChainCtes(k, throughK = false, histSql, byteLevel).mkString(",\n") +
      "\nSELECT * FROM (\n" + unions.mkString("\nUNION ALL ") +
      ")\nORDER BY \"rank\""
  }

  /** Oracle for the ENCODE gate: the same k merge rounds, then the
    * fully merged vocab's per-word token counts for the `limit` most
    * frequent words (ties broken by the unique word). */
  def encodeOracleSql(k: Int, limit: Int): String = {
    require(k >= 1 && k <= 32 && limit >= 1,
      s"encodeOracleSql: k=$k limit=$limit")
    encodeOracleSqlOver(k, limit, docsHistSql)
  }

  /** [[encodeOracleSql]] over an arbitrary (word, cnt) histogram SQL
    * — the deep-encode twin of [[mergesOracleSqlOver]]. */
  def encodeOracleSqlOver(k: Int, limit: Int, histSql: String,
      byteLevel: Boolean = false): String = {
    require(k >= 1 && k <= 512 && limit >= 1,
      s"encodeOracleSqlOver: k=$k limit=$limit")
    "WITH " + bpeChainCtes(k, throughK = true, histSql, byteLevel).mkString(",\n") +
      s"""
         |SELECT word, cnt, CAST(len(toks) AS BIGINT) AS n_toks,
         |  toks[1] AS first_tok
         |FROM s$k ORDER BY cnt DESC, word LIMIT $limit""".stripMargin
  }

  /** Incremental-delta BPE over an in-memory histogram of atom
    * sequences: exact sequential greedy semantics (argmax by (-n, left,
    * right), greedy left-to-right non-overlapping application — the
    * textbook rescan-per-merge algorithm's result, which the test
    * suite's in-memory reference pins) at O(match-sites · log P) per
    * merge. State: per-word token arrays, a pair→count table, a
    * pair→word-set occurrence index, and an ordered candidate set
    * keyed (-n, l, r); each merge re-tokenizes ONLY the words that
    * contain the pair and applies the count deltas of that word's
    * before/after pair multisets. */
  private[llm] def incrementalMergesTok(words: Seq[(Vector[String], Long)],
      k: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    // The learner is single-node by design (see [[learnMerges]]),
    // so its constant factor IS the gate's wall clock at realistic k.
    // r21 shape (identical greedy semantics, pinned by LlmSpec's
    // property check against the naive reference): tokens intern to
    // ints and pairs pack into one long, so the hot loops hash and
    // compare primitives instead of string tuples; the ordered
    // candidate TreeSet (remove-old/insert-new per delta) becomes a
    // lazy-deletion heap of (n, l, r) snapshots — a snapshot is valid
    // iff counts(pair) == n at pop time, so deltas never pay a tree
    // remove; and per-merge count deltas batch into one map so the
    // heap takes ONE push per changed pair per merge, not one per
    // (word × pair) site.
    val ids = mutable.HashMap.empty[String, Int]
    val strs = mutable.ArrayBuffer.empty[String]
    def intern(s: String): Int =
      ids.getOrElseUpdate(s, { strs += s; strs.length - 1 })
    def pk(l: Int, r: Int): Long = (l.toLong << 32) | (r.toLong & 0xffffffffL)

    val seqs: Array[Array[Int]] =
      words.map { case (w, _) => w.iterator.map(intern).toArray }.toArray
    val wcnt = words.map(_._2).toArray

    def pairBag(ts: Array[Int]): mutable.LongMap[Long] = {
      val m = mutable.LongMap.empty[Long]
      var i = 0
      while (i + 1 < ts.length) {
        val p = pk(ts(i), ts(i + 1))
        m(p) = m.getOrElse(p, 0L) + 1L
        i += 1
      }
      m
    }

    val counts = mutable.LongMap.empty[Long]
    val occurs = mutable.LongMap.empty[mutable.Set[Int]]

    // Heap order: n desc, then (left, right) string-ascending — the
    // previous TreeSet's (-n, l, r) exactly (string compares only run
    // on count ties).
    final case class Ent(n: Long, l: Int, r: Int)
    val cand = new java.util.PriorityQueue[Ent](
      new java.util.Comparator[Ent] {
        def compare(a: Ent, b: Ent): Int = {
          if (a.n != b.n) return java.lang.Long.compare(b.n, a.n)
          val cl = strs(a.l).compareTo(strs(b.l))
          if (cl != 0) cl else strs(a.r).compareTo(strs(b.r))
        }
      })

    seqs.indices.foreach { i =>
      pairBag(seqs(i)).foreach { case (p, c) =>
        counts(p) = counts.getOrElse(p, 0L) + c * wcnt(i)
        occurs.getOrElseUpdate(p, mutable.Set.empty[Int]).add(i)
      }
    }
    counts.foreach { case (p, n) =>
      cand.add(Ent(n, (p >>> 32).toInt, (p & 0xffffffffL).toInt))
    }

    val out = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      var top: Ent = null
      while (top == null && !cand.isEmpty) {
        val e = cand.poll()
        if (counts.getOrElse(pk(e.l, e.r), 0L) == e.n) top = e
      }
      if (top == null) done = true
      else {
        val lid = top.l; val rid = top.r
        val l = strs(lid); val r = strs(rid)
        out += ((rank, l, r, top.n))
        val mid = intern(l + r)
        val deltas = mutable.LongMap.empty[Long]
        val affected = occurs.getOrElse(pk(lid, rid), mutable.Set.empty[Int]).toArray
        affected.foreach { wi =>
          val ts = seqs(wi)
          val before = pairBag(ts)
          // Greedy left-to-right application — the pending-token fold.
          val buf = new Array[Int](ts.length)
          var len = 0
          var pend = -1
          var i = 0
          while (i < ts.length) {
            val t = ts(i)
            if (pend == -1) pend = t
            else if (pend == lid && t == rid) { buf(len) = mid; len += 1; pend = -1 }
            else { buf(len) = pend; len += 1; pend = t }
            i += 1
          }
          if (pend != -1) { buf(len) = pend; len += 1 }
          val nts = java.util.Arrays.copyOf(buf, len)
          seqs(wi) = nts
          val after = pairBag(nts)
          def site(p: Long, d: Long, nowPresent: Boolean): Unit = {
            deltas(p) = deltas.getOrElse(p, 0L) + d * wcnt(wi)
            val set = occurs.getOrElseUpdate(p, mutable.Set.empty[Int])
            if (nowPresent) set.add(wi) else set.remove(wi)
          }
          before.foreach { case (p, bc) =>
            val ac = after.getOrElse(p, 0L)
            if (ac != bc) site(p, ac - bc, nowPresent = ac > 0L)
          }
          after.foreach { case (p, ac) =>
            if (!before.contains(p)) site(p, ac, nowPresent = true)
          }
        }
        deltas.foreach { case (p, d) =>
          if (d != 0L) {
            val nw = counts.getOrElse(p, 0L) + d
            if (nw > 0L) {
              counts(p) = nw
              cand.add(Ent(nw, (p >>> 32).toInt, (p & 0xffffffffL).toInt))
            } else counts.remove(p)
          }
        }
        rank += 1
      }
    }
    out.toSeq
  }

  // ---- tokenizer persistence (the serving boundary) ------------------

  /** Train a tokenizer over a (word, cnt) histogram ([[learnMerges]])
    * and materialize it under `dir`: the ranked merge table plus a meta
    * row recording the ALPHABET MODE (byte-level or char-level) and k —
    * a tokenizer is a frozen artifact by design (training corpora
    * evolve; the tokenizer must not), so unlike the ANN index there is
    * no staleness fingerprint: the merge table IS the contract. Train
    * once, write, then every later session/job encodes through
    * [[encodeWithTokenizer]] with zero training passes — the 100 TB
    * shape, where one tokenizer serves every pipeline run for months.
    * The meta mode flag keeps a byte-level merge table from ever
    * silently decoding through the char-level replay (hex atoms would
    * never match raw chars — the output would be all-singleton tokens,
    * a silent quality bug, not an error). */
  def writeTokenizer(hist: DataFrame, k: Int, dir: String,
      byteLevel: Boolean, maxWords: Int = 1 << 20): Unit = {
    val spark = hist.sparkSession
    learnMerges(hist, k, byteLevel, maxWords)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    spark.createDataFrame(
        java.util.Arrays.asList(Row(byteLevel, k)),
        StructType(Seq(
          StructField("byte_level", BooleanType, nullable = false),
          StructField("k", IntegerType, nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted tokenizer: (ranked merges, byteLevel). */
  def loadTokenizer(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Seq[(String, String)], Boolean) = {
    val merges = spark.read.parquet(s"$dir/merges").orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val byteLevel = spark.read.parquet(s"$dir/meta").head().getBoolean(0)
    (merges, byteLevel)
  }

  /** Encode a (word, cnt) histogram through a PERSISTED tokenizer —
    * the merge table loads (vocab-sized) and [[encode]] runs in the
    * mode the artifact was trained in. Output contract ≡ the in-memory
    * encode over the same merges. */
  def encodeWithTokenizer(hist: DataFrame, dir: String,
      maxWords: Int = 1 << 20): DataFrame = {
    val (merges, byteLevel) = loadTokenizer(hist.sparkSession, dir)
    encode(hist, merges, byteLevel, maxWords)
  }
}

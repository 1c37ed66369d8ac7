package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Markup → plain-text cleaning: strip markdown and inline-HTML
  * structure ahead of quality scoring / tokenization — the standard
  * pre-tokenization stage for corpora stored as markdown (reference
  * surface: `notice.content_md`, admin/page.tsx:38-46, rendered
  * markdown the engine-side pipeline must flatten).
  *
  * Shape: a NARROW projection — one chain of codegen'd
  * `regexp_replace` calls, no explode, no shuffle, no UDF; at 100 TB
  * it runs at scan speed inside whole-stage codegen and composes
  * directly with [[TextAnalysis.gopherRules]].
  *
  * Cross-engine contract: every rule is written in the regex subset
  * Java and RE2 share (no lookaround, no pattern backreferences —
  * bold/italic pairs are therefore matched with explicit
  * character-class forms), and the SAME ordered rule list generates
  * both the Spark Column chain and the DuckDB oracle expression
  * ([[oracleExpr]]), so the two engines can't drift rule by rule.
  *
  * Rule order is semantic: comments drop before fences (a commented
  * fence is gone text), structural line markers strip before inline
  * spans, images before links (the `![` prefix must win), tags strip
  * BEFORE entities decode so `&lt;script&gt;` can never become a
  * strippable — i.e. executable-looking — tag, and entity decoding
  * runs `&amp;` LAST so `&amp;lt;` decodes to the literal `&lt;`
  * text rather than double-decoding. */
object Markup {

  /** Rules that run BEFORE the optional fence-drop pass (CRLF
    * normalization + HTML comments — a commented fence is gone
    * text, and the fence split must see \n-only endings). */
  private[llm] val preFenceRules = 2

  /** Ordered (pattern, replacement) rules; replacement uses $N (the
    * Spark/Java convention — translated to \N for DuckDB). */
  private[llm] val rules: Seq[(String, String)] = Seq(
    // CRLF normalization — strictly FIRST: Java's (?m) $ matches
    // before \r\n while RE2's matches only before \n, so every
    // line-anchored rule below (and the fence split) would diverge
    // across engines on CRLF documents. Dropping the \r via a group
    // reference keeps the replacement in the escape subset both
    // engines' rewrite strings share (no literal-newline
    // replacement). A bare \r with no following \n stays — the
    // documented cut line (classic-Mac line endings are out of
    // corpus scope).
    ("\\r(\\n)", "$1"),
    // HTML comments (possibly multi-line)
    ("(?s)<!--.*?-->", ""),
    // fence lines: ``` or ```lang alone on a line (content survives)
    ("(?m)^```[^\\n]*$", ""),
    // ATX heading markers
    ("(?m)^#{1,6}[ \\t]+", ""),
    // setext heading underlines: a line of `=` alone (the `---` form
    // is the hrule rule below — same strip either way)
    ("(?m)^[ \\t]*=+[ \\t]*$", ""),
    // blockquote markers (possibly indented)
    ("(?m)^[ \\t]*>[ \\t]?", ""),
    // list-bullet markers — BEFORE the inline-emphasis rules, so a
    // leading '* ' is a bullet, never an emphasis delimiter
    // ('* item *real*' keeps "item real", not " item real*")
    ("(?m)^[ \\t]*[-*+][ \\t]+", ""),
    // ordered-list markers (1. / 23) forms)
    ("(?m)^[ \\t]*\\d{1,3}[.)][ \\t]+", ""),
    // horizontal rules
    ("(?m)^[ \\t]*[-*_]{3,}[ \\t]*$", ""),
    // table separator lines (|---|:---:|) — a line of pipes, dashes,
    // colons and blanks with at least one pipe drops whole; must run
    // while the pipes are still present (before the cell rules below)
    ("(?m)^[ \\t:|-]*\\|[ \\t:|-]*$", ""),
    // table cell delimiters: leading/trailing pipes strip, interior
    // pipes become one space — `| a | b |` reads "a b", the
    // pdftotext-family convention. Pipes are table syntax everywhere
    // (a prose `a | b` flattens to "a b" too — the corpus-practical
    // call, documented rather than special-cased).
    ("(?m)^[ \\t]*\\|[ \\t]*", ""),
    ("(?m)[ \\t]*\\|[ \\t]*$", ""),
    ("[ \\t]*\\|[ \\t]*", " "),
    // reference-link DEFINITION lines ([ref]: url "title") drop whole
    ("(?m)^[ \\t]*\\[[^\\]]+\\]:[ \\t]*[^\\n]*$", ""),
    // images -> alt text, then links -> anchor text (inline, then
    // reference-style `[text][ref]` / collapsed `[text][]`)
    ("!\\[([^\\]]*)\\]\\([^)]*\\)", "$1"),
    ("\\[([^\\]]*)\\]\\([^)]*\\)", "$1"),
    ("\\[([^\\]]*)\\]\\[[^\\]]*\\]", "$1"),
    // inline HTML tags (open/close/void/declaration)
    ("</?[A-Za-z][^>]*>", ""),
    // bold / italic / strikethrough / inline code (no pattern
    // backrefs: RE2)
    ("\\*\\*([^*]+)\\*\\*", "$1"),
    ("__([^_]+)__", "$1"),
    ("\\*([^*\\n]+)\\*", "$1"),
    ("~~([^~\\n]+)~~", "$1"),
    // single-underscore emphasis: the opening `_` only counts after
    // start-of-line/whitespace/paren — RE2 has no lookbehind, so the
    // left context is captured and re-emitted; a `_` inside
    // snake_case_identifiers never delimits
    ("(?m)(^|[\\s(])_([^_\\n]+)_", "$1$2"),
    ("`([^`]+)`", "$1"),
    // entities; &amp; strictly last (no double decode). The numeric
    // typography set covers the forms a real content_md corpus
    // actually carries (curly quotes, dashes, ellipsis, NBSP) in
    // decimal, hex and named spellings; arbitrary numeric entities
    // OUTSIDE this set stay verbatim — a general &#N; decoder needs
    // per-match arithmetic no shared regex rule list can express,
    // and unknown entities passing through unchanged is the safe
    // failure (the cut line, documented).
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", "\""),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&#8216;|&#[xX]2018;|&lsquo;", "‘"),
    ("&#8217;|&#[xX]2019;|&rsquo;", "’"),
    ("&#8220;|&#[xX]201[cC];|&ldquo;", "“"),
    ("&#8221;|&#[xX]201[dD];|&rdquo;", "”"),
    ("&#8211;|&#[xX]2013;|&ndash;", "–"),
    ("&#8212;|&#[xX]2014;|&mdash;", "—"),
    ("&#8230;|&#[xX]2026;|&hellip;", "…"),
    ("&#160;|&#[xX][aA]0;|&nbsp;", " "),
    ("&amp;", "&"))

  /** Fenced-code DROP pass — applied right after comments when the
    * pipeline decides code blocks are noise (a prose LM corpus); the
    * default keeps fence CONTENT and drops only the marker lines (a
    * code-bearing corpus). Formulation: SPLIT on fence-marker lines
    * and keep only the segments OUTSIDE consecutive fence pairs —
    * 0-based segment 2j-1 lies inside closed pair (f_{2j-1}, f_{2j})
    * and drops; with an ODD fence count the final fence is unclosed
    * and its trailing segment is kept (the prior semantics: the
    * non-greedy regex left an unclosed fence alone and the
    * marker-line rule below stripped just its ``` line — which the
    * split's delimiter removal reproduces exactly). The split
    * replaces the previous `(?s)^```.*?^```$` regexp_replace — the
    * whole-document multiline scan that dominated the drop-variant's
    * cost over the keep-fences chain (measured: 29.24 vs 28.46 s
    * sf1 before; 27.7 vs 28.7 s after — the drop variant now at or
    * below keep-fences instead of above it, and the formulation is
    * backtracking-free, so the gap cannot blow up on fence-dense
    * corpora the way a `(?s).*?` scan can).
    * split(…, -1) keeps trailing empty segments — REQUIRED: a corpus
    * ending at a closing fence must still count that fence toward
    * pair parity. */
  private[llm] def dropFencedCol(c: Column): Column = {
    val parts = split(c, "(?m)^```[^\\n]*$", -1)
    array_join(filter(parts, (_, i) =>
      i % 2 === 0 || (i === size(parts) - 1 && size(parts) % 2 === 0)), "")
  }

  /** Markdown/HTML-stripped text. `dropFencedCode` is the corpus
    * decision: false (default) keeps fence content and strips only the
    * marker lines; true drops the whole block.
    *
    * r21 shape (values unchanged — MarkupSpec pins the fused form to
    * the per-rule `regexp_replace` chain in `MarkupReference`, and the
    * DuckDB oracle still mirrors the ordered rule list): the ~37
    * `regexp_replace` nodes fold into ONE codegen'd
    * [[graft.functions.RegexChain]] call that
    * applies the SAME compiled `java.util.regex` patterns with
    * `Matcher.replaceAll` — the exact per-node RegExpReplace algorithm
    * — paying one UTF8String↔String conversion per document instead of
    * one per rule. The fence-drop variant keeps the split/filter/join
    * Columns between two fused chain segments. */
  def stripMarkdown(c: Column, dropFencedCode: Boolean = false): Column = {
    import graft.functions.{F, RegexChain}
    def fused(acc: Column, rs: Seq[(String, String)]): Column =
      F.toColumn(RegexChain(F.toExpr(acc), rs))
    if (!dropFencedCode) fused(c, rules)
    else fused(dropFencedCol(fused(c, rules.take(preFenceRules))),
      rules.drop(preFenceRules))
  }

  /** The DuckDB twin: same ordered rules as nested
    * `regexp_replace(..., 'g')` over SQL expression `e`. DuckDB
    * single-quoted literals are raw (standard SQL — no backslash
    * processing), so patterns embed verbatim; only quotes double and
    * the replacement-group convention flips $1 → \1. The fence-drop
    * pass mirrors [[dropFencedCol]]: regexp_split_to_array + an
    * index-aware list_filter (DuckDB lambda indices are 1-BASED, so
    * 0-based-even ⟺ i odd; DuckDB keeps trailing empty segments, so
    * no split-limit flag exists or is needed). */
  def oracleExpr(e: String, dropFencedCode: Boolean = false): String = {
    def fold(acc: String, rs: Seq[(String, String)]): String =
      rs.foldLeft(acc) { case (a, (p, r)) =>
        val pat = p.replace("'", "''")
        val rep = r.replaceAll("\\$(\\d)", "\\\\$1").replace("'", "''")
        s"regexp_replace($a, '$pat', '$rep', 'g')"
      }
    val afterHead = fold(e, rules.take(preFenceRules))
    val base =
      if (dropFencedCode) {
        val parts = s"regexp_split_to_array($afterHead, '(?m)^```[^\\n]*$$')"
        s"array_to_string(list_filter($parts, (x, i) -> " +
          s"i % 2 = 1 OR (i = len($parts) AND len($parts) % 2 = 0)), '')"
      } else afterHead
    fold(base, rules.drop(preFenceRules))
  }
}

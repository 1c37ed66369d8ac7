package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MarkupSpec extends SparkSpec {

  private def strip(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("t").select(Markup.stripMarkdown(col("t")).as("c"))
      .head().getString(0)
  }

  test("headings, quotes, rules, fences strip; content survives") {
    assert(strip("# Title\nbody") == "Title\nbody")
    assert(strip("###### deep\nx") == "deep\nx")
    assert(strip("#nospace stays") == "#nospace stays") // not a heading
    assert(strip("> quoted\n  > indented") == "quoted\nindented")
    assert(strip("a\n---\nb") == "a\n\nb")
    assert(strip("```scala\nval x = 1\n```") == "\nval x = 1\n")
  }

  test("emphasis, code, links, images") {
    assert(strip("**bold** and *em* and `code`") == "bold and em and code")
    assert(strip("__strong__ but snake_case_name stays") == "strong but snake_case_name stays")
    assert(strip("[anchor](http://x/y?z=1)") == "anchor")
    assert(strip("![alt text](img.png)") == "alt text")
    assert(strip("[](empty) ![](i)") == " ")
  }

  test("inline HTML strips before entities decode — the script trap") {
    assert(strip("<b>x</b> <br/> <!-- gone -->") == "x  ")
    // &lt;script&gt; must decode to literal text, never become a tag
    assert(strip("&lt;script&gt;alert(1)&lt;/script&gt;") == "<script>alert(1)</script>")
    // &amp;lt; decodes ONCE: to the literal five chars '&lt;'
    assert(strip("&amp;lt;") == "&lt;")
    assert(strip("&quot;q&quot; &#39;a&#39; A&nbsp;B &amp; C") == "\"q\" 'a' A B & C")
  }

  test("nested and unterminated fences stay line-anchored") {
    // inner ``` lines strip individually; content between them survives
    assert(strip("````\n```\ncode\n```\n````") == "\n\ncode\n\n")
    assert(strip("```unterminated\ntail") == "\ntail")
    // inline triple-backtick is NOT a fence (not line-anchored)...
    // but the inline-code rule still unwraps one `...` span
    assert(strip("a ``` b") == "a ``` b")
  }

  test("multi-line HTML comments and attribute-heavy tags") {
    assert(strip("x <!-- a\nb\nc --> y") == "x  y")
    assert(strip("""<a href="u" data-x='1'>t</a>""") == "t")
    assert(strip("<img src=\"u\"/>") == "")
  }

  test("list-bullet markers strip before inline emphasis") {
    assert(strip("* item *real*") == "item real") // not " item real*"
    assert(strip("- dash\n+ plus\n  * indented") == "dash\nplus\nindented")
    assert(strip("1. first\n23) second") == "first\nsecond")
    assert(strip("*no-space stays*") == "no-space stays") // italic, not bullet
  }

  test("setext headings: underline lines strip, title survives") {
    assert(strip("Title\n=====\nbody") == "Title\n\nbody")
    assert(strip("Other\n---\nbody") == "Other\n\nbody") // hrule form
  }

  test("single-underscore emphasis unwraps; identifiers never mangle") {
    assert(strip("a _em_ b") == "a em b")
    assert(strip("_lead_ word") == "lead word")
    assert(strip("(_paren_)") == "(paren)")
    assert(strip("snake_case_identifier stays") == "snake_case_identifier stays")
    assert(strip("the_variable_name") == "the_variable_name")
  }

  test("strikethrough unwraps") {
    assert(strip("~~gone~~ kept") == "gone kept")
  }

  test("reference-style links: usage to anchor, definition lines drop") {
    assert(strip("[text][ref] and [collapsed][]") == "text and collapsed")
    assert(strip("[r1]: http://ref \"title\"\nbody") == "\nbody")
    assert(strip("see [x][r]\n[r]: u\ntail") == "see x\n\ntail")
  }

  test("numeric/named typography entities decode to their true characters") {
    // decimal, hex (either case) and named spellings of the same char
    assert(strip("it&#8217;s &#x2019; &rsquo;") == "it’s ’ ’")
    assert(strip("&#8216;a&#8217; &lsquo;b&rsquo;") == "‘a’ ‘b’")
    assert(strip("&#8220;q&#8221; &#x201C;r&#x201D; &ldquo;s&rdquo;") == "“q” “r” “s”")
    assert(strip("a&#8211;b c&#x2013;d e&ndash;f") == "a–b c–d e–f")
    assert(strip("a&#8212;b c&#X2014;d e&mdash;f") == "a—b c—d e—f")
    assert(strip("wait&#8230; &hellip; &#x2026;") == "wait… … …")
    assert(strip("A&#160;B C&#xA0;D E&apos;F") == "A B C D E'F")
    // the cut line: numeric entities OUTSIDE the typography set stay
    // verbatim (safe failure), and escaped forms decode exactly once
    assert(strip("&#1234; &#x1F600;") == "&#1234; &#x1F600;")
    assert(strip("&amp;#8217;") == "&#8217;")
  }

  test("pipe tables: separator lines drop, cell pipes flatten to single spaces") {
    assert(strip("| h1 | h2 |\n|---|---:|\n| c1 | c2 |") == "h1 h2\n\nc1 c2")
    // alignment-colon separators and no-outer-pipe forms drop too
    assert(strip("h\n:---|:---:\nv") == "h\n\nv")
    // prose pipes flatten (the documented corpus-practical call)
    assert(strip("a | b") == "a b")
    // a table cell carrying a link still unwraps downstream
    assert(strip("| [x](u) | **b** |") == "x b")
  }

  test("fenced-code strip-vs-keep is the pipeline's decision") {
    import spark.implicits._
    def stripDrop(s: String): String =
      Seq(s).toDF("t")
        .select(Markup.stripMarkdown(col("t"), dropFencedCode = true).as("c"))
        .head().getString(0)
    val doc = "before\n```scala\nval x = 1\n```\nafter"
    // default: content survives, marker lines drop
    assert(strip(doc) == "before\n\nval x = 1\n\nafter")
    // prose-LM decision: the whole block drops
    assert(stripDrop(doc) == "before\n\nafter")
    // unclosed fence: block rule can't match, marker line still strips
    assert(stripDrop("a\n```\ncode") == "a\n\ncode")
    // the oracle twin carries the same decision: the fence pass is a
    // split + index-filter (NOT a regexp_replace — the old (?s) rule
    // was a whole-document backtracking scan), spliced between the
    // head rule and the tail
    val sql = Markup.oracleExpr("text", dropFencedCode = true)
    // the pre-fence rules are embedded once per `parts` reference
    // (the split expression appears in the filter body and twice in
    // the len() parity checks): tail rules once each + preFence × 3
    assert("regexp_replace\\(".r.findAllIn(sql).size ==
      Markup.rules.size + 2 * Markup.preFenceRules)
    assert("regexp_split_to_array\\(".r.findAllIn(sql).size == 3)
    assert(sql.contains("list_filter"))
  }

  test("property: split-formulation fence drop equals the old (?s) regex rule on random fence layouts") {
    import spark.implicits._
    // dropFencedCol must reproduce the old global regexp_replace pass
    // modulo the fence lines themselves (the split eats every marker
    // line; under the old rule an UNCLOSED trailing fence's marker
    // survived to the chain's marker-line rule) — so compare after
    // applying that marker rule to the old pass's output.
    val rnd = new scala.util.Random(1919)
    val lines = Seq("alpha", "beta b", "", "  indented", "not``` fence",
      "```", "```scala", "````x")
    val docs = (0 until 60).map { i =>
      (i.toLong, (0 until rnd.nextInt(10)).map(_ => lines(rnd.nextInt(lines.size)))
        .mkString("\n") + (if (rnd.nextBoolean()) "\n" else ""))
    }
    val df = docs.toDF("id", "t")
    val got = df.select(col("id"), Markup.dropFencedCol(col("t")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val (oldPat, oldRep) = MarkupReference.dropFencedRule
    val want = df.select(col("id"),
        regexp_replace(regexp_replace(col("t"), oldPat, oldRep),
          "(?m)^```[^\\n]*$", "").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    docs.foreach { case (id, t) =>
      assert(got(id) == want(id),
        s"doc $id ${t.replace("\n", "\\n")}: got=${got(id).replace("\n", "\\n")} want=${want(id).replace("\n", "\\n")}")
    }
  }

  test("CRLF documents normalize before any line-anchored rule runs") {
    import spark.implicits._
    // \r\n collapses to \n FIRST, so anchored rules (and the fence
    // split) behave identically to the LF form — Java's (?m) $
    // matches before \r\n but RE2's does not, and without the
    // normalization the engines diverge (ADVICE r19).
    assert(strip("# Title\r\nbody\r\n") == strip("# Title\nbody\n"))
    assert(strip("a\r\n---\r\nb") == "a\n\nb")
    def stripDrop(s: String): String =
      Seq(s).toDF("t")
        .select(Markup.stripMarkdown(col("t"), dropFencedCode = true).as("c"))
        .head().getString(0)
    // a CRLF fence pair drops whole, same as its LF twin — before
    // the fix the trailing \r kept the marker line from anchoring
    assert(stripDrop("x\r\n```\r\ncode\r\n```\r\ny") ==
      stripDrop("x\n```\ncode\n```\ny"))
    // a bare \r with no \n is the documented cut line: it stays
    assert(strip("a\rb") == "a\rb")
  }

  test("fused RegexChain == regexp_replace chain on random markup, both fence modes") {
    import spark.implicits._
    // the r21 fused kernel must be byte-identical to the pre-r21
    // per-rule Column chain on documents mixing every rule's trigger,
    // CRLF, mixed scripts, fences (balanced and not), and nulls
    val rnd = new scala.util.Random(4721)
    val atoms = Seq("# h", "```", "```scala", "**b**", "_i_", "a_b_c",
      "[t](u)", "![a](i)", "[r][x]", "<b>x</b>", "<img src=\"u\"/>",
      "&amp;lt;", "&#8220;q&#8221;", "| a | b |", "|---|:---:|", "---",
      "> q", "* li", "+ li", "23) li", "plain text", "한국어 텍스트",
      "`c`", "~~s~~", "<!-- c -->", "<!-- a\nb -->", "====", "", "  ")
    val docs: Seq[String] = (1 to 200).map { i =>
      val body = (0 to rnd.nextInt(12)).map(_ => atoms(rnd.nextInt(atoms.length)))
        .mkString(if (rnd.nextBoolean()) "\n" else " ")
      if (i % 7 == 0) body + "\r\ntail" else body
    } :+ null
    val df = docs.toDF("t")
    for (drop <- Seq(false, true)) {
      val got = df.select(Markup.stripMarkdown(col("t"), drop).as("c"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
      val want = df.select(MarkupReference.stripMarkdownChain(col("t"), drop).as("c"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
      assert(got == want, s"dropFencedCode=$drop diverged")
    }
  }

  test("oracleExpr mirrors the rule list shape") {
    val sql = Markup.oracleExpr("text")
    assert(sql.startsWith("regexp_replace("))
    // one nested call per rule, innermost over the input expression
    assert("regexp_replace\\(".r.findAllIn(sql).size == Markup.rules.size)
    assert(sql.contains("'g'") && sql.contains("text"))
    // replacement groups flipped to RE2's convention
    assert(sql.contains("""'\1'""") && !sql.contains("$1"))
  }
}

package graft.sources

import java.nio.file.Files
import graft.SparkSpec

class TextSpec extends SparkSpec {

  private def tmpFile(name: String, content: Array[Byte]): String = {
    val d = tempDir("textspec")
    val f = d.resolve(name)
    Files.write(f, content)
    f.toString
  }
  private def tmpFile(name: String, content: String): String =
    tmpFile(name, content.getBytes("UTF-8"))

  test("CSV reference semantics: trim, col{N} gaps, dup header last-wins, ragged rows (S1)") {
    val p = tmpFile("ragged.csv", "a, b ,,a\n1,\" x,y \",3,4,EXTRA\n2\n\n;\n")
    val df = Text.readCsv(spark, p, Some(","))
    assert(df.columns.toSeq == Seq("b", "col3", "a"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows(0) == (("x,y", "3", "4"))) // trimmed after unquote; dup col last wins
    assert(rows(1) == (("", "", "")))      // short row filled with ''
    assert(rows(2) == (("", "", "")))      // ';' overwritten by missing dup col (ref semantics)
    assert(rows.length == 3)               // blank line dropped
  }

  test("delimiter sniffing ties: tab >= comma >= semicolon (S3)") {
    assert(Text.detectDelimiter("a\tb,c") == "\t")
    assert(Text.detectDelimiter("a,b;c") == ",")
    assert(Text.detectDelimiter("x;y;z") == ";")
    assert(Text.detectDelimiter("") == "\t")
  }

  test("TXT: trimmed lines, blanks dropped (S5/P7)") {
    val p = tmpFile("t.txt", "  hello \n\n  \nworld\n")
    val vs = Text.readTxt(spark, p).collect().map(_.getString(0)).toSet
    assert(vs == Set("hello", "world"))
  }

  test("JSON: array-under-key unwrap and scalar wrap (S6)") {
    val p1 = tmpFile("a.json", """{"meta": 1, "data": [{"x": "1"}, {"x": "2"}]}""")
    val d1 = Text.readJson(spark, p1)
    assert(d1.columns.toSeq == Seq("x") && d1.count() == 2)
    val p2 = tmpFile("b.json", """{"vals": [1, 2, 3]}""")
    val d2 = Text.readJson(spark, p2)
    assert(d2.columns.toSeq == Seq("value") && d2.count() == 3)
  }

  test("JSON: multi-array documents unwrap the first array key in DOCUMENT order (S6)") {
    // "rows" precedes "aaa" in the document but not alphabetically
    val p = tmpFile("ord.json",
      """{"meta": {"deep": [true], "s": "bracket ] in string"},
        | "rows": [{"x": "1"}, {"x": "2"}], "aaa": [9]}""".stripMargin)
    val d = Text.readJson(spark, p)
    assert(d.columns.toSeq == Seq("x") && d.count() == 2)
  }

  test("firstArrayKey: document-order scan with skips, escapes and truncation") {
    import Text.firstArrayKey
    assert(firstArrayKey("""{"b": 1, "a": [1]}""") == (Some("a"), true))
    assert(firstArrayKey("""{"z": {"inner": [1]}, "y": "str ] [", "k\"ey": [2]}""")
      == (Some("k\"ey"), true))
    assert(firstArrayKey("""{"n": 1.5e3, "t": true, "u": null}""") == (None, true))
    assert(firstArrayKey("""[1, 2]""") == (None, true)) // top-level array: no key
    assert(firstArrayKey("""{"a": {"unclosed": 1""") == (None, false)) // truncated
    assert(firstArrayKey("""{"long": "tex""") == (None, false))
    assert(firstArrayKey("""{"u": "A", "arr": []}""") == (Some("arr"), true))
  }

  test("encoding: EUC-KR honored, malformed bytes fall back to UTF-8 (P11)") {
    val kr = "이름\n값\n".getBytes("EUC-KR")
    val p = tmpFile("kr.txt", kr)
    assert(Text.resolveEncoding(spark, p, "EUC-KR") == "EUC-KR")
    val vs = Text.readTxt(spark, p, "EUC-KR").collect().map(_.getString(0)).toSet
    assert(vs == Set("이름", "값"))
    // UTF-8 bytes that are invalid EUC-KR → fallback
    val utf = "héllo ✓\n".getBytes("UTF-8")
    val p2 = tmpFile("u.txt", utf)
    assert(Text.resolveEncoding(spark, p2, "EUC-KR") == "UTF-8")
  }

  test("wholetext: one row per file (S13)") {
    val p = tmpFile("w.txt", "line1\nline2\n")
    val rows = Text.readWholeText(spark, p).collect()
    assert(rows.length == 1 && rows(0).getString(0).contains("line2"))
  }

  test("splitLine: quote escapes and trim (S1 splitter)") {
    assert(Text.splitLine("""a,"b""c", d """, ',') == Seq("a", "b\"c", "d"))
    assert(Text.splitLine("""x,"a,b",y""", ',') == Seq("x", "a,b", "y"))
  }
}

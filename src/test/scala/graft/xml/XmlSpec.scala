package graft.xml

import org.apache.spark.sql.functions.{col, length}
import graft.SparkSpec

class XmlSpec extends SparkSpec {

  private val doc =
    """<root>
      |  <item id="1"><name> Ann </name><age>30</age></item>
      |  <item id="2"><name>Bob</name><age>41</age><name>Override</name></item>
      |  <single>standalone</single>
      |</root>""".stripMargin

  test("parseRows: attributes as @name, child text trimmed, repeated tag last-wins (S8)") {
    val rows = Xml.parseRows(doc, "item")
    assert(rows.size == 2)
    assert(rows(0) == Map("@id" -> "1", "name" -> "Ann", "age" -> "30"))
    assert(rows(1)("name") == "Override")
  }

  test("parseRows: childless row element contributes {tag: text}") {
    val rows = Xml.parseRows(doc, "single")
    assert(rows == Seq(Map("single" -> "standalone")))
  }

  test("nested child text concatenates descendants (DOM textContent semantics)") {
    val rows = Xml.parseRows("<r><row><a><b>x</b><c>y</c></a></row></r>", "row")
    assert(rows == Seq(Map("a" -> "xy")))
  }

  test("flatten variant: dot-path columns (S10)") {
    val rows = Xml.parseRows("<r><row><a><b>x</b></a><c>y</c></row></r>", "row", flatten = true)
    assert(rows == Seq(Map("a.b" -> "x", "c" -> "y")))
  }

  test("detectTables: >=2 same-tag children become path_tag tables, recursively (S9)") {
    Xml.detectTables(doc) match {
      // item #2's repeated <name> makes a nested table too — reference
      // collectTables recurses into every child (FileUploader.tsx:117).
      case Right(tables) =>
        assert(tables == Map("root_item" -> "item", "root_item_name" -> "name"))
      case Left(_) => fail("expected tables")
    }
  }

  test("detectTables fallbacks: #text row and error row (S9)") {
    Xml.detectTables("<only>hi</only>") match {
      case Left(rows) => assert(rows == Seq(Map("#text" -> "hi")))
      case _ => fail()
    }
    Xml.detectTables("not xml <<<") match {
      case Left(rows) =>
        assert(rows.head.contains("error") && rows.head("raw").length <= 1000)
      case _ => fail()
    }
  }

  test("writer: escaping, invalid names to <col name>, 2-space indent (K4/F4/F5)") {
    val frag = Xml.xmlRowFragment(Seq("ok", "bad name"), Seq("a<b&c", "v"), "row")
    assert(frag ==
      "  <row>\n    <ok>a&lt;b&amp;c</ok>\n    <col name=\"bad name\">v</col>\n  </row>")
    assert(Xml.xmlNameOk("a_b.c-1") && !Xml.xmlNameOk("1abc") && !Xml.xmlNameOk("has space"))
  }

  test("distributed read after file write round-trips (S8+K4)") {
    import spark.implicits._
    // non-ASCII text must survive whatever the JVM's default charset is
    val df = Seq(("1", "x&y"), ("2", "<z>"), ("3", "한국어 café")).toDF("id", "v")
    val f = tempDir("xmlspec").resolve("out.xml").toString
    Xml.writeXmlFile(df, f)
    val back = Xml.readXml(spark, f, "row").orderBy("id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(back.toSeq == Seq(("1", "x&y"), ("2", "<z>"), ("3", "한국어 café")))
  }

  test("distributed multi-part write round-trips through readXml (K4 scale path)") {
    import spark.implicits._
    val df = (1 to 30).map(i => (i.toString, s"v$i&")).toDF("id", "v").repartition(3)
    val dir = tempDir("xmlparts").toString
    Xml.writeXmlParts(df, dir)
    // genuinely multi-part: one well-formed document per partition
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 3, parts.map(_.getName).mkString(","))
    val back = Xml.readXml(spark, dir, "row")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == (1 to 30).map(i => (i.toString, s"v$i&")).toSet)
  }

  test("schema probe early-exits at 1000 rows; malformed tail past the probe is never parsed (P2)") {
    // 1000 valid rows, then garbage: an eager full-document parse
    // throws; the lazy probe must succeed and the first-1000 keys win.
    val good = (1 to 1000).map(i => s"<row><a>$i</a></row>").mkString
    val doc = s"<rows>$good<row><zz>late</zz></row><broken <<<"
    intercept[Exception] { Xml.parseRows(doc, "row") }
    val probed = Xml.parseRowsIter(doc, "row").take(1000).toSeq
    assert(probed.size == 1000 && probed.last == Map("a" -> "1000"))
    val d = tempDir("xmllazy")
    java.nio.file.Files.writeString(d.resolve("doc.xml"), doc)
    val schema = XmlDataSource.sampleSchema(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", d.toString, "rowTag", "row")))
    assert(schema.fieldNames.toSeq == Seq("a"))
  }

  test("an empty input directory fails naming graft-xml and the path") {
    val d = tempDir("xmlnofile").toString
    val e = intercept[IllegalArgumentException](Xml.readXml(spark, d, "row"))
    assert(e.getMessage.contains("graft-xml") && e.getMessage.contains(d), e.getMessage)
  }

  test("DSv2 scan prunes columns into the source (SURVEY §4)") {
    val doc = "<rows>" + (1 to 50).map(i =>
      s"<row><a>$i</a><b>b$i</b><c>c$i</c><d>d$i</d></row>").mkString + "</rows>"
    val d = tempDir("xmlprune")
    java.nio.file.Files.writeString(d.resolve("doc.xml"), doc)
    val df = Xml.readXml(spark, d.toString, "row")
    assert(df.columns.toSeq == Seq("a", "b", "c", "d"))
    val narrow = df.select("b")
    val plan = narrow.queryExecution.executedPlan.toString
    // the BatchScan's output must carry only the required column
    val scanLine = plan.linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("[b#") && !scanLine.matches(".*\\[(a|c|d)#.*"), plan)
    assert(narrow.orderBy("b").head().getString(0) == "b1")
    // full read still round-trips every column
    assert(df.orderBy(col("a").cast("int")).collect()(4).toSeq ==
      Seq("5", "b5", "c5", "d5"))
  }

  test("DSv2 filter pushdown: accepted predicates evaluate in the parse loop, residual stays") {
    val doc = "<rows>" + ((1 to 30).map(i =>
      s"<row><a>$i</a><seg>${if (i % 3 == 0) "HOT" else "COLD"}</seg><v>v$i</v></row>") ++
      // a row with a MISSING seg cell — pushdown must read it as ""
      Seq("<row><a>99</a><v>v99</v></row>")).mkString + "</rows>"
    val d = tempDir("xmlpush")
    java.nio.file.Files.writeString(d.resolve("doc.xml"), doc)
    val df = Xml.readXml(spark, d.toString, "row")
    // equality on a column the projection then DROPS (keep-for-filter)
    // a Filter node renders as "+- Filter" or "+- *(1) Filter" under
    // whole-stage codegen — match both
    def hasFilterNode(p: String): Boolean =
      "[-+] (\\*\\(\\d+\\) )?Filter ".r.findFirstIn(p).isDefined
    val hot = df.filter(col("seg") === "HOT").select("a")
    val hotPlan = hot.queryExecution.executedPlan.toString
    assert(hotPlan.contains("PushedFilters: [EqualTo(seg,HOT)"), hotPlan)
    assert(!hasFilterNode(hotPlan), hotPlan)
    assert(hot.collect().map(_.getString(0).toInt).sorted.toSeq ==
      (3 to 30 by 3).toSeq)
    // missing cell reads "" — both the pushed and unpushed reading agree
    assert(df.filter(col("seg") === "").select("a").head().getString(0) == "99")
    // composite boolean: Or over accepted leaves pushes whole
    val or = df.filter(col("seg") === "HOT" || col("v").endsWith("9")).select("a")
    assert(or.queryExecution.executedPlan.toString.contains("Or("), or.queryExecution.executedPlan.toString)
    assert(or.collect().map(_.getString(0).toInt).sorted.toSeq ==
      ((3 to 30 by 3) ++ Seq(9, 19, 29, 99)).distinct.sorted)
    // ordering comparisons push too (evaluated via UTF8String binary
    // order — StringFiltersSpec property-tests the exactness)
    val gt = df.filter(col("a") > "28").select("a")  // string compare
    val gtPlan = gt.queryExecution.executedPlan.toString
    assert(gtPlan.contains("GreaterThan(a,28)") && !hasFilterNode(gtPlan), gtPlan)
    val expectGt = ((1 to 30).map(_.toString) :+ "99").filter(_ > "28").sorted
    assert(gt.collect().map(_.getString(0)).sorted.toSeq == expectGt)
    // a predicate V1 filters can't express (length()) stays a residual
    // post-scan Filter and still produces the right rows
    val res = df.filter(length(col("a")) === 1).select("a")
    val resPlan = res.queryExecution.executedPlan.toString
    assert(hasFilterNode(resPlan), resPlan)
    assert(res.collect().map(_.getString(0)).sorted.toSeq ==
      (1 to 9).map(_.toString).sorted)
  }

  test("DSv2 short name: spark.read.format(\"graft-xml\") resolves") {
    val doc = "<rows><row><a>1</a></row><row><a>2</a></row></rows>"
    val d = tempDir("xmlshort")
    java.nio.file.Files.writeString(d.resolve("doc.xml"), doc)
    val df = spark.read.format("graft-xml").option("rowTag", "row").load(d.toString)
    assert(df.orderBy("a").collect().map(_.getString(0)).toSeq == Seq("1", "2"))
  }

  test("readAutoDetected: detect → per-table distributed read (S9 end-to-end)") {
    val doc = "<db><items><item><a>1</a><b>x</b></item><item><a>2</a><b>y</b></item></items>" +
      "<tags><tag>t1</tag><tag>t2</tag><tag>t3</tag></tags></db>"
    val d = tempDir("xmlauto")
    java.nio.file.Files.writeString(d.resolve("doc.xml"), doc)
    val wb = Xml.readAutoDetected(spark, d.toString)
    assert(wb.names.toSet == Set("db_items_item", "db_tags_tag"))
    val items = wb("db_items_item").orderBy("a").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(items.toSeq == Seq(("1", "x"), ("2", "y")))
    assert(wb("db_tags_tag").collect().map(_.getString(0)).sorted.toSeq == Seq("t1", "t2", "t3"))
  }

  test("readAutoDetected fallbacks: #text sheet and error sheet (S9)") {
    val d1 = tempDir("xmlauto1")
    java.nio.file.Files.writeString(d1.resolve("doc.xml"), "<note>just text</note>")
    val wb1 = Xml.readAutoDetected(spark, d1.toString)
    assert(wb1.names == Seq("doc"))
    assert(wb1("doc").collect().map(_.getAs[String]("#text")).toSeq == Seq("just text"))
    val d2 = tempDir("xmlauto2")
    java.nio.file.Files.writeString(d2.resolve("doc.xml"), "<broken><unclosed>")
    val wb2 = Xml.readAutoDetected(spark, d2.toString)
    val err = wb2("doc").collect().head
    assert(err.getAs[String]("error").nonEmpty && err.getAs[String]("raw").contains("<broken>"))
  }
}

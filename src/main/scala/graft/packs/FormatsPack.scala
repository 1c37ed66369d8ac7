package graft.packs

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.core.Tables
import graft.ops.Pdf
import graft.xlsx.Xlsx
import graft.xml.Xml

/** Oracle-checked queries for the custom formats: XML round-trip
  * (S8/K4), XLSX round-trip (S7/K5), and the PDF page-spec algebra
  * (J6/R2) over an inline spec fixture mirrored as VALUES in SQL. */
object FormatsPack extends QueryPack {

  // per-run temp dir (graft.core.Scratch): concurrent harness runs on
  // one machine must not collide on round-trip files
  private def scratchFile(name: String): String =
    graft.core.Scratch.dir("graft_rt").resolve(name).toString

  private def custSlice(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("string"), col("c_name"), col("c_mktsegment"))

  /** The parsePages fixture: (spec, totalPages). Exercises ranges,
    * swapped bounds, junk chunks, prefix parseInt, clamping, empties. */
  val pageSpecs: Seq[(String, Int)] = Seq(
    ("1,3,5-7", 10), ("7-5,2", 10), ("2,x,4", 5), ("0,12", 10),
    (" 3 , 4-4 ,", 5), ("+2,3abc", 5), ("-3,6", 9), ("5-", 9), ("", 5))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "xml_roundtrip" -> ((s, dir) => {
      val file = scratchFile("customer.xml")
      Xml.writeXmlFile(custSlice(s, dir), file)
      Xml.readXml(s, file, "row").orderBy("c_name")
    }),
    // K4 scale path: distributed multi-part XML write (one well-formed
    // document per partition, no driver assembly) re-read by readXml.
    "xml_parts_roundtrip" -> ((s, dir) => {
      val out = graft.core.Scratch.dir("graft_rt").resolve("xml_parts").toString
      Xml.writeXmlParts(custSlice(s, dir).repartition(4), out)
      Xml.readXml(s, out, "row").orderBy("c_name")
    }),
    "xlsx_roundtrip" -> ((s, dir) => {
      val file = scratchFile("workbook.xlsx")
      val region = Tables.load(s, dir, "region")
        .select(col("r_regionkey").cast("string"), col("r_name"))
      Xlsx.writeWorkbook(Seq("customer" -> custSlice(s, dir), "region" -> region), file)
      val sheets = Xlsx.readWorkbook(s, file).toMap
      sheets("customer").orderBy("c_name")
    }),
    // Cross-format federation — the library's core pitch in one gate:
    // a spreadsheet lands next to the warehouse and joins the parquet
    // dimension in the SAME plan (DSv2 xlsx scan on one side, parquet
    // scan on the other; the tiny sheet side broadcasts). All-string
    // sheet cells re-type at the join boundary, the classic
    // uploaded-workbook contract.
    "join_cross_format" -> ((s, dir) => {
      val file = scratchFile("suppliers.xlsx")
      Xlsx.writeWorkbook(Seq("supplier" ->
        Tables.load(s, dir, "supplier")
          .select(col("s_suppkey").cast("string"), col("s_name"),
            col("s_nationkey").cast("string"))), file)
      val sheet = graft.xlsx.XlsxDataSource.readTable(s, file)
      val nation = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
      sheet.join(broadcast(nation),
          sheet("s_nationkey").cast("long") === nation("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          min(col("s_name")).as("first_supplier"))
        .orderBy("n_name")
    }),
    // P4 legacy path: .xls (BIFF8-in-CFB) write → dispatcher read.
    // BIFF8 caps sheets at 65536 rows (16-bit row index) and the writer
    // fails loud beyond it, so the round-trip bounds its slice to the
    // format's domain with a deterministic key filter — a no-op at the
    // gate scales (sf0.01/sf0.1 customer keys all ≤ 60000), a bound at
    // sf1+ where the full table exceeds what ANY .xls file can hold.
    "xls_roundtrip" -> ((s, dir) => {
      val file = scratchFile("workbook.xls")
      val slice = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 60000)
        .select(col("c_custkey").cast("string"), col("c_name"), col("c_mktsegment"))
      graft.xlsx.Biff.writeWorkbook(Seq("customer" -> slice), file)
      graft.xlsx.Xlsx.readWorkbook(s, file).toMap.apply("customer").orderBy("c_name")
    }),
    // F4+F5 writer branch: a column whose name fails the XML name rule
    // serializes as <col name="..."> with & < > escaped in BOTH the
    // attribute and the value — gated on the emitted bytes themselves.
    "xml_colname_escape" -> ((s, dir) => {
      import s.implicits._
      val df = Seq(("1", "a<b&c")).toDF("ok", "bad <name>")
      val file = scratchFile("colname.xml")
      Xml.writeXmlFile(df, file)
      s.read.option("wholetext", "true").text(file)
        .selectExpr("explode(split(value, '\n')) AS line")
        .filter(col("line").contains("col name"))
    }),
    // P4 BIFF12 path: .xlsb write → dispatcher read — the last Compare
    // accept-list extension, previously a defined error.
    "xlsb_roundtrip" -> ((s, dir) => {
      val file = scratchFile("workbook.xlsb")
      graft.xlsx.Xlsb.writeWorkbook(Seq("customer" -> custSlice(s, dir)), file)
      Xlsx.readWorkbook(s, file).toMap.apply("customer").orderBy("c_name")
    }),
    // S9: auto-detected multi-table document through readAutoDetected —
    // both discovered tables (path_tag names) feed the output.
    "xml_autodetect" -> ((s, dir) => {
      val nations = Tables.load(s, dir, "nation").orderBy("n_nationkey").collect()
      val regions = Tables.load(s, dir, "region").orderBy("r_regionkey").collect()
      val sb = new StringBuilder("<db><regions>")
      regions.foreach(r => sb.append(
        s"<region><r_regionkey>${r.getInt(0)}</r_regionkey><r_name>${Xml.esc(r.getString(1))}</r_name></region>"))
      sb.append("</regions><nations>")
      nations.foreach(r => sb.append(
        s"<nation><n_nationkey>${r.getInt(0)}</n_nationkey><n_name>${Xml.esc(r.getString(1))}</n_name></nation>"))
      sb.append("</nations></db>")
      val fdir = graft.core.Scratch.dir("graft_rt").resolve("xml_auto")
      Files.createDirectories(fdir)
      Files.writeString(fdir.resolve("db.xml"), sb.toString)
      val wb = Xml.readAutoDetected(s, fdir.toString)
      val n = wb("db_nations_nation")
        .select(lit("nation").as("tbl"), col("n_nationkey").cast("int").as("k"), col("n_name").as("nm"))
      val r = wb("db_regions_region")
        .select(lit("region").as("tbl"), col("r_regionkey").cast("int").as("k"), col("r_name").as("nm"))
      n.unionAll(r).orderBy("tbl", "k")
    }),
    // S10: nested elements flatten to dot-path columns.
    "xml_flatten" -> ((s, dir) => {
      val rows = Tables.load(s, dir, "nation").orderBy("n_nationkey").collect()
      val sb = new StringBuilder("<rows>")
      rows.foreach(r => sb.append(
        s"<row><k>${r.getInt(0)}</k><info><name>${Xml.esc(r.getString(1))}</name><geo><region>${r.getInt(2)}</region></geo></info></row>"))
      sb.append("</rows>")
      val file = scratchFile("nested.xml")
      Files.writeString(Paths.get(file), sb.toString)
      Xml.readXml(s, file, "row", flatten = true)
        .select(col("k").cast("int").as("k"), col("`info.name`").as("nm"),
          col("`info.geo.region`").cast("int").as("region"))
        .orderBy("k")
    }),
    // S8 pushdown half (SURVEY §4): a selective string predicate over
    // the DSv2 XML source evaluates INSIDE the StAX parse loop — the
    // scan node carries it as PushedFilters (plan-locked in
    // PlanShapeSpec) and no post-scan Filter remains. The projection
    // also drops the filter column, exercising the keep-for-filter
    // path (the parser must retain a pruned-but-filtered column).
    "xml_pushdown_filter" -> ((s, dir) => {
      val file = scratchFile("customer_push.xml")
      Xml.writeXmlFile(custSlice(s, dir), file)
      Xml.readXml(s, file, "row")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name")
        .orderBy("c_name")
    }),
    // S7 twin over the DSv2 XLSX directory scan: equality + contains
    // composed with AND, both fully pushed into the sheet parse.
    "xlsx_pushdown_filter" -> ((s, dir) => {
      val file = graft.core.Scratch.dir("graft_rt")
        .resolve("customer.xlsx").toString
      Xlsx.writeWorkbook(Seq("customer" -> custSlice(s, dir)), file)
      graft.xlsx.XlsxDataSource.readTable(s, file)
        .filter(col("c_mktsegment") === "MACHINERY" &&
          col("c_name").contains("01"))
        .select("c_custkey", "c_name")
        .orderBy("c_name")
    }),
    "pdf_parse_pages" -> ((s, dir) => {
      import s.implicits._
      pageSpecs.flatMap { case (spec, total) =>
        Pdf.splitJobs("custom", spec, total).flatMap { case (gno, pages) =>
          pages.map(p => (spec, gno, p))
        }
      }.toDF("spec", "gno", "page").orderBy("spec", "gno", "page")
    }),
  )

  private val specValues = pageSpecs
    .map { case (sp, t) => s"('${sp.replace("'", "''")}', $t)" }.mkString(", ")

  val oracleSql: Map[String, String] = Map(
    "join_cross_format" ->
      """SELECT n_name, count(*) AS n_suppliers, min(s_name) AS first_supplier
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "xml_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment
        |FROM customer ORDER BY c_name""".stripMargin,
    "xml_colname_escape" ->
      """SELECT '    <col name="bad &lt;name&gt;">a&lt;b&amp;c</col>' AS line""",
    "xml_parts_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment
        |FROM customer ORDER BY c_name""".stripMargin,
    "xlsx_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment
        |FROM customer ORDER BY c_name""".stripMargin,
    "xls_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment
        |FROM customer WHERE c_custkey <= 60000 ORDER BY c_name""".stripMargin,
    "xlsb_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment
        |FROM customer ORDER BY c_name""".stripMargin,
    "xml_pushdown_filter" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name
        |FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_name""".stripMargin,
    "xlsx_pushdown_filter" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name
        |FROM customer WHERE c_mktsegment = 'MACHINERY' AND contains(c_name, '01')
        |ORDER BY c_name""".stripMargin,
    "xml_autodetect" ->
      """SELECT * FROM (
        |  SELECT 'nation' AS tbl, n_nationkey AS k, n_name AS nm FROM nation
        |  UNION ALL
        |  SELECT 'region', r_regionkey, r_name FROM region) ORDER BY tbl, k""".stripMargin,
    "xml_flatten" ->
      """SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS region
        |FROM nation ORDER BY k""".stripMargin,
    // Exact SQL mirror of the JS parsePages semantics: chunk split,
    // trim, drop empties, parseInt numeric-prefix, range min/max swap,
    // group ordinal over successfully-parsed chunks, 1..total clamp.
    "pdf_parse_pages" ->
      s"""WITH specs(spec, total) AS (VALUES $specValues),
         |raw AS (SELECT spec, total,
         |    unnest(string_split(spec, ',')) AS c0,
         |    generate_subscripts(string_split(spec, ','), 1) AS pos
         |  FROM specs),
         |f AS (SELECT spec, total, trim(c0) AS c, pos FROM raw WHERE trim(c0) <> ''),
         |parsed AS (SELECT spec, total, pos,
         |    CASE WHEN contains(c, '-')
         |      THEN TRY_CAST(regexp_extract(trim(string_split(c, '-')[1]), '^[+-]?[0-9]+') AS INT)
         |      ELSE TRY_CAST(regexp_extract(c, '^[+-]?[0-9]+') AS INT) END AS s,
         |    CASE WHEN contains(c, '-')
         |      THEN TRY_CAST(regexp_extract(trim(string_split(c, '-')[2]), '^[+-]?[0-9]+') AS INT)
         |      ELSE TRY_CAST(regexp_extract(c, '^[+-]?[0-9]+') AS INT) END AS e
         |  FROM f),
         |ok AS (SELECT spec, total, s, e,
         |    CAST(row_number() OVER (PARTITION BY spec ORDER BY pos) AS INT) AS gno
         |  FROM parsed WHERE s IS NOT NULL AND e IS NOT NULL),
         |pages AS (SELECT spec, total, gno,
         |    unnest(generate_series(LEAST(s, e), GREATEST(s, e))) AS page
         |  FROM ok)
         |SELECT spec, gno, CAST(page AS INT) AS page FROM pages
         |WHERE page >= 1 AND page <= total
         |ORDER BY spec, gno, page""".stripMargin,
  )
}

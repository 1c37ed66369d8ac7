package graft.packs

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.core.Tables
import graft.sources.Text

/** Oracle-checked round-trips for the text-family sources (S1-S6, S3
  * sniffer, P7, P10). Each query exports a parquet table to a scratch
  * dir in the format under test, reads it back through the graft
  * source, and must reproduce the original table (the oracle is plain
  * SQL over the parquet original). Only string/int columns cross the
  * text boundary — double formatting is not portable. */
object SourcesPack extends QueryPack {

  // per-run temp dir (graft.core.Scratch): no cross-run collisions
  private def scratch(name: String): String =
    graft.core.Scratch.dir("graft_rt").resolve(name).toString

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Batch incremental ingest (ops/Ledger): run 1 sees the first two
    // files, run 2 only the two files that landed between runs, run 3
    // nothing — the scheduled-pipeline "new files since last run"
    // contract, with the ledger itself a parquet audit table.
    // Discovery is a metadata listing minus the ledger; data volume
    // never re-scans. Deterministic file counts via repartition(2).
    "scan_incremental_ledger" -> ((s, dir) => {
      import graft.ops.Ledger
      val base = graft.core.Scratch.dir("graft_ledger")
      val in = base.resolve("in").toString
      val led = base.resolve("ledger").toString
      val o = Tables.load(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("p_c"))
      def land(m: Int): Unit =
        o.filter(col("o_orderkey") % 3 === m)
          .withColumn("slice", lit(m))
          .repartition(2).write.mode("append").parquet(in)
      def run(id: Long): (Long, Long, Long, Long) = {
        val (files, batch) = Ledger.newBatch(s, in, led)
        val (rows, cents) = batch match {
          case Some(df) =>
            val r = df.agg(count(lit(1)), sum(col("p_c"))).head
            (r.getLong(0), r.getLong(1))
          case None => (0L, 0L)
        }
        Ledger.commit(s, led, files, id)
        (id, files.size.toLong, rows, cents)
      }
      land(0)
      val r1 = run(1)
      land(1)
      val r2 = run(2)
      val r3 = run(3) // nothing new — must be a no-op
      import s.implicits._
      Seq(r1, r2, r3).toDF("run_id", "n_files", "n_rows", "total_c")
        .orderBy("run_id")
    }),
    // S1/K2: CSV write → reference-semantics CSV read.
    "csv_roundtrip" -> ((s, dir) => {
      val out = scratch("csv_customer")
      Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("string"), col("c_name"), col("c_mktsegment"))
        .write.mode("overwrite").option("header", "true").csv(out)
      Text.readCsv(s, out, Some(",")).orderBy("c_name")
    }),
    // S4+S3: TSV write → sniffed-delimiter read (tab must win the sniff).
    "tsv_sniff_roundtrip" -> ((s, dir) => {
      val out = scratch("tsv_region")
      Tables.load(s, dir, "region")
        .select(col("r_regionkey").cast("string"), col("r_name"))
        .write.mode("overwrite").option("header", "true").option("sep", "\t").csv(out)
      Text.readCsv(s, out, delimiter = None).orderBy("r_name")
    }),
    // Built-in ORC as the interchange format: parquet fixture → ORC
    // write → ORC scan with the filter pushed into the reader →
    // aggregate. The oracle recomputes from the parquet original, so
    // the ORC write/read path must be lossless (types included — the
    // double survives bit-for-bit into the DECIMAL sum).
    "orc_roundtrip" -> ((s, dir) => {
      val out = scratch("orc_lineitem")
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("l_quantity") >= 10.0)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    // Fixed-width interchange (the mainframe/legacy-feed format):
    // parquet fixture → distributed rpad-concat text write (overflow
    // fails loud — a truncated field would shift every later column)
    // → substring/trim read → re-aggregate. The oracle recomputes from
    // the parquet original, so layout arithmetic (offsets = prefix
    // sums of widths), padding, and trimming must all be lossless.
    "fwf_roundtrip" -> ((s, dir) => {
      val out = scratch("fwf_supplier")
      graft.sources.Fwf.write(
        Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        out, Seq(12, 28, 4, 12))
      graft.sources.Fwf.read(s, out,
          Seq("s_suppkey" -> 12, "s_name" -> 28, "s_nationkey" -> 4, "s_acctbal" -> 12))
        .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          min(col("s_name")).as("first_name"),
          sum(col("s_acctbal").cast("decimal(18,2)"))
            .cast("double").as("sum_bal"))
        .orderBy("s_nationkey")
    }),
    // Avro as the ROW-oriented interchange format (the landing-zone
    // sibling of the ORC gate): parquet fixture → distributed Avro
    // write (one container file per task) → DSv2 read that splits the
    // files on sync markers and prunes to the aggregate's columns →
    // re-aggregate. The oracle recomputes from the parquet original,
    // so the whole encode/split/resolve/decode path must be lossless.
    // maxSplitBytes=64k plans several sync ranges even at sf0.001 — the
    // sync-ownership contract (each block read exactly once) is load-
    // bearing in the gate, not just in the spec. The ranges are packed
    // into partitions by Spark's file-source rule: at sf0.001 (2 ranges
    // in 1 file) each range is its own partition, so the gate crosses a
    // mid-file partition boundary; at sf0.1 (165 ranges in 3 files on
    // local[3]) 6 partitions each read runs of ranges, so it crosses
    // range boundaries inside a run and file boundaries inside a
    // partition as well.
    "avro_roundtrip" -> ((s, dir) => {
      val out = scratch("avro_lineitem")
      graft.avro.Avro.write(
        Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").cast("long"), col("l_linenumber"),
            col("l_quantity"), col("l_returnflag")),
        out)
      s.read.format("graft-avro").option("path", out)
        .option("maxSplitBytes", 64L << 10).load()
        .filter(col("l_quantity") >= 10.0)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    // S5+P7: TXT lines → value column.
    "txt_roundtrip" -> ((s, dir) => {
      val out = scratch("txt_names")
      Tables.load(s, dir, "customer").select(col("c_name")).write.mode("overwrite").text(out)
      Text.readTxt(s, out).orderBy("value")
    }),
    // K1: naive CSV sink (raw joins, reference rowsToCSV) → reference read.
    // Values are comma/quote-free by construction — the naive mode's
    // documented lossiness boundary.
    "csv_naive_sink_roundtrip" -> ((s, dir) => {
      val f = Paths.get(scratch("csv_naive"), "customer.csv").toString
      graft.sinks.Csv.writeFile(Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("string"), col("c_name"), col("c_mktsegment")),
        f, naive = true)
      Text.readCsv(s, f, Some(",")).orderBy("c_name")
    }),
    // K2: quoted CSV sink ("" escape) → reference read; the synthetic
    // column embeds both the delimiter and a quote to exercise escaping.
    "csv_quoted_sink_roundtrip" -> ((s, dir) => {
      val f = Paths.get(scratch("csv_quoted"), "customer.csv").toString
      graft.sinks.Csv.writeFile(Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("string"), col("c_name"),
          concat(col("c_mktsegment"), lit(", \"q\"")).as("noisy")), f)
      Text.readCsv(s, f, Some(",")).orderBy("c_custkey")
    }),
    // K3 (JSONL branch): multi-column sheet → JSON-per-line text sink,
    // read back through Spark's JSON reader.
    "txt_jsonl_roundtrip" -> ((s, dir) => {
      val out = scratch("txt_jsonl")
      graft.sinks.Csv.writeTxt(Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name")), out)
      s.read.json(out).select(col("c_custkey").cast("long"), col("c_name"))
        .orderBy("c_custkey")
    }),
    // K3 (value-lines branch): `{value}` singleton sheet → raw lines.
    "txt_value_sink_roundtrip" -> ((s, dir) => {
      val out = scratch("txt_value")
      graft.sinks.Csv.writeTxt(Tables.load(s, dir, "customer")
        .select(col("c_name").as("value")), out)
      Text.readTxt(s, out).orderBy("value")
    }),
    // P11: EUC-KR CSV fixture (Korean text) → encoding-aware read; the
    // oracle compares against the UTF-8 originals, proving the decode.
    "encoding_euckr_roundtrip" -> ((s, dir) => {
      val rows = Tables.load(s, dir, "nation").orderBy("n_nationkey").collect()
      val sb = new StringBuilder("n_nationkey,txt\n")
      rows.foreach(r => sb.append(s"${r.getInt(0)},${r.getString(1)} 한국어\n"))
      val out = Paths.get(scratch("euckr"))
      Files.createDirectories(out)
      Files.write(out.resolve("nation_kr.csv"), sb.toString.getBytes("EUC-KR"))
      Text.readCsv(s, out.toString, Some(","), encoding = "EUC-KR")
        .select(col("n_nationkey").cast("int"), col("txt"))
        .orderBy("n_nationkey")
    }),
    // P11 second legacy charset: Shift_JIS (Japanese) — the decode path
    // must hold beyond the single EUC-KR case.
    "encoding_sjis_roundtrip" -> ((s, dir) => {
      val rows = Tables.load(s, dir, "nation").orderBy("n_nationkey").collect()
      val sb = new StringBuilder("n_nationkey,txt\n")
      rows.foreach(r => sb.append(s"${r.getInt(0)},${r.getString(1)} 日本語\n"))
      val out = Paths.get(scratch("sjis"))
      Files.createDirectories(out)
      Files.write(out.resolve("nation_jp.csv"), sb.toString.getBytes("Shift_JIS"))
      Text.readCsv(s, out.toString, Some(","), encoding = "Shift_JIS")
        .select(col("n_nationkey").cast("int"), col("txt"))
        .orderBy("n_nationkey")
    }),
    // S6: JSON array-under-key unwrap (fixture built from nation's 25 rows).
    "json_unwrap" -> ((s, dir) => {
      val rows = Tables.load(s, dir, "nation").orderBy("n_nationkey").collect()
      val json = rows.map(r =>
        s"""{"n_nationkey": ${r.getInt(0)}, "n_name": "${r.getString(1)}", "n_regionkey": ${r.getInt(2)}}""")
        .mkString("[", ",", "]")
      val doc = s"""{"meta": "nations", "data": $json}"""
      val out = Paths.get(scratch("json_nation"))
      Files.createDirectories(out)
      Files.writeString(out.resolve("nation.json"), doc)
      Text.readJson(s, out.toString)
        .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
        .orderBy("n_nationkey")
    }),
    // S6 document-order tie-break: when a document carries SEVERAL
    // array-valued keys, the reference's Object.keys(...).find picks
    // the first in JS insertion (= document) order — here "rows",
    // even though "alpha_first" sorts before it alphabetically. The
    // head-probe in Text.firstArrayKey resolves this without a
    // second full scan.
    "json_unwrap_order" -> ((s, dir) => {
      val rows = Tables.load(s, dir, "nation").orderBy("n_nationkey").collect()
      val json = rows.map(r =>
        s"""{"n_nationkey": ${r.getInt(0)}, "n_name": "${r.getString(1)}", "n_regionkey": ${r.getInt(2)}}""")
        .mkString("[", ",", "]")
      val doc =
        s"""{"meta": {"kind": "nations", "note": "obj [skipped] text"},
           | "rows": $json,
           | "alpha_first": [9, 8, 7]}""".stripMargin
      val out = Paths.get(scratch("json_nation_order"))
      Files.createDirectories(out)
      Files.writeString(out.resolve("nation_order.json"), doc)
      Text.readJson(s, out.toString)
        .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
        .orderBy("n_nationkey")
    }),
    // Schema evolution on a lake path: an old writer lands (key, name)
    // files, a new writer adds c_mktsegment; mergeSchema unifies the
    // directory and null-fills the legacy files' missing column. At
    // 100 TB, footer-merging every file on each read is the wrong
    // default — evolve once, then declare the merged schema — but the
    // semantics locked here (union-by-name + nulls) are the contract
    // either way, the same union-keys rule as the P1 sheet merge.
    "scan_schema_evolution" -> ((s, dir) => {
      val out = scratch("schema_evolution")
      val c = Tables.load(s, dir, "customer")
      c.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name")
        .write.mode("overwrite").parquet(s"$out/old")
      c.filter(col("c_custkey") % 2 === 1)
        .select("c_custkey", "c_name", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$out/new")
      s.read.option("mergeSchema", "true")
        .parquet(s"$out/old", s"$out/new")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // slice aggregates recomputed from orders; file counts are the
    // repartition(2) contract; run 3 is the structural no-op
    "scan_incremental_ledger" ->
      """WITH s0 AS (SELECT count(*) AS n,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |s1 AS (SELECT count(*) AS n,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 3 = 1)
        |SELECT CAST(1 AS BIGINT) AS run_id, CAST(2 AS BIGINT) AS n_files,
        |  n AS n_rows, c AS total_c FROM s0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT), n, c FROM s1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |ORDER BY run_id""".stripMargin,
    // recomputed from the parquet original — any loss in the
    // fixed-width layout arithmetic (offsets, padding, trim, numeric
    // string round-trip) breaks the hash
    "fwf_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n, min(s_name) AS first_name,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,
    // recomputed from the parquet original — any loss in the ORC
    // write/read path (rows, values, double precision) breaks the hash
    "orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_quantity >= 10.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical recomputation for the Avro path — row-format lossless
    "avro_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_quantity >= 10.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "scan_schema_evolution" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "csv_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment
        |FROM customer ORDER BY c_name""".stripMargin,
    "tsv_sniff_roundtrip" ->
      """SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name
        |FROM region ORDER BY r_name""".stripMargin,
    "txt_roundtrip" ->
      "SELECT c_name AS value FROM customer ORDER BY value",
    "csv_naive_sink_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment
        |FROM customer ORDER BY c_name""".stripMargin,
    "csv_quoted_sink_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name,
        |  c_mktsegment || ', "q"' AS noisy
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "txt_jsonl_roundtrip" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "txt_value_sink_roundtrip" ->
      "SELECT c_name AS value FROM customer ORDER BY value",
    "encoding_euckr_roundtrip" ->
      """SELECT n_nationkey, n_name || ' 한국어' AS txt
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "encoding_sjis_roundtrip" ->
      """SELECT n_nationkey, n_name || ' 日本語' AS txt
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "json_unwrap" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "json_unwrap_order" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
  )
}

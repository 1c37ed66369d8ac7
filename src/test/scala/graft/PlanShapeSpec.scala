package graft

import graft.SparkSpec
import org.apache.spark.sql.functions.lit

/** Regression locks on the PHYSICAL PLAN SHAPES the 100-TB design
  * depends on. Correctness gates prove the right rows come back; these
  * prove they come back the scale-safe way — a refactor that silently
  * turns a broadcast join into a shuffled sort-merge join, or a top-k
  * into a global sort, fails here even though results stay identical.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("topk_orders compiles to TakeOrderedAndProject — no global sort") {
    val p = plan("topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("skew_salted_join broadcasts the replicated dim side — the fact side never shuffles for the join") {
    val p = plan("skew_salted_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("join_customer_nation_count broadcasts the small build side") {
    val p = plan("join_customer_nation_count")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("compare_diff keyed full-outer runs as a sort-merge join (both sides big by contract)") {
    val p = plan("compare_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
  }

  test("agg_lineitem_pricing pushes filter + pruning into the parquet scan and hash-aggregates") {
    val df = SparkEntry.queries("agg_lineitem_pricing")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    val scan = df.queryExecution.sparkPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      scan.contains("LessThanOrEqual(l_shipdate"), scan)
  }

  test("ANN assignment is a narrow projection: no Exchange, no aggregate, no join") {
    val df = graft.llm.Ann.assignBuckets(
      graft.core.Tables.load(spark, sf, "embeddings")
        .selectExpr("vec_id", "embedding AS ce"),
      graft.llm.Ann.ivfCentroids(
        graft.core.Tables.load(spark, sf, "embeddings")
          .selectExpr("vec_id", "embedding AS ce"), 4, iters = 0))
    val p = df.queryExecution.executedPlan.toString
    // The centroid matrix compiles into the argmax_bucket expression,
    // so the assignment subtree is scan → project — at 100 TB a Lloyd
    // step or search pass moves no corpus bytes to compute buckets.
    assert(p.contains("argmax_bucket"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Aggregate"), p)
    assert(!p.contains("Join"), p)
  }

  test("bucket-aligned tables join with ZERO shuffle exchanges (co-located join)") {
    // The 100-TB repeated-join pattern: pre-bucket both sides on the
    // join key → the sort-merge join reads buckets in place, no
    // Exchange on either side. Broadcast disabled so the SMJ path is
    // what's proven.
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // Sorted-bucket scan ordering is opt-in since Spark 3.1 (the planner
    // no longer trusts per-bucket sort order by default because it's only
    // valid at ONE file per bucket — exactly what writeBucketed enforces).
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val scratch = tempDir("graft_bkt").toString
      graft.ops.Bucketing.writeBucketed(
        graft.core.Tables.load(spark, sf, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .withColumnRenamed("o_custkey", "custkey"),
        "graft_bkt_orders", s"$scratch/orders", 8, "custkey")
      graft.ops.Bucketing.writeBucketed(
        graft.core.Tables.load(spark, sf, "customer")
          .select("c_custkey", "c_mktsegment")
          .withColumnRenamed("c_custkey", "custkey"),
        "graft_bkt_customer", s"$scratch/customer", 8, "custkey")
      val joined = graft.ops.Bucketing.colocatedJoin(
        spark, "graft_bkt_orders", "graft_bkt_customer", "custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      // writeBucketed's repartition guarantees ONE file per bucket, so
      // the scan advertises its sortBy order and the SMJ elides the
      // per-task Sort too ("Sort [" is SortExec; SortMergeJoin's own
      // node name doesn't match the bracket form).
      assert(!plan.contains("Sort ["), plan)
      // and the join is still correct
      val expected = graft.core.Tables.load(spark, sf, "orders")
        .join(graft.core.Tables.load(spark, sf, "customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_customer")
    }
  }

  test("scan_partition_pruned plans the predicate as a PartitionFilter — pruned at planning time") {
    val df = SparkEntry.queries("scan_partition_pruned")(spark, sf)
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    // The event_type predicate must live in PartitionFilters (directory
    // pruning), NOT in PushedFilters/DataFilters (row-group evaluation
    // after the file is already opened).
    val pf = scanLine.drop(scanLine.indexOf("PartitionFilters:"))
      .takeWhile(_ != ']')
    assert(pf.contains("event_type"), scanLine)
    assert(scanLine.contains("ReadSchema: struct<day:string,value:double>") ||
      scanLine.contains("ReadSchema: struct<value:double,day:string>"), scanLine)
  }

  test("join_bucketed_colocated's join subtree is exchange-free even with AQE on") {
    val df = SparkEntry.queries("join_bucketed_colocated")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    // The ONLY exchanges allowed are the ones the aggregation/orderBy
    // above the join introduce; the join's children must read buckets
    // in place. Locate the SMJ and assert no Exchange appears below it.
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange"), p)
  }

  test("dedup_exact is one hash aggregate over the digest — no join, no window") {
    val p = plan("dedup_exact")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
  }

  test("minhash pairs read the shingle relation from cache — InMemoryTableScan in the plan") {
    // The r3 regression (shingle scan recomputed by all four consumers,
    // tripling the heaviest bench query) must never silently return:
    // the persisted shingle relation has to appear as an in-memory scan
    // in the LAZY library plan. (The dedup_minhash PACK query now
    // materializes inside withMinhashDupPairs and returns a checkpoint
    // scan — see CacheHygieneSpec — so the shape is asserted here on
    // the library entry point, inside its callback, where the plan is
    // still visible.)
    try {
      val d = graft.core.Tables.load(spark, sf, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id").as("id"),
          org.apache.spark.sql.functions.col("text"))
      val p = graft.llm.Dedup.withMinhashDupPairs(d, "id", "text", 8, 4, 0.5) {
        _.queryExecution.executedPlan.toString
      }
      assert(p.contains("InMemoryTableScan"), p)
    } finally spark.catalog.clearCache()
  }

  test("jaccard derives the shingle relation ONCE (r16 single-scan kernel)") {
    // The r15 blocking-metrics breach class: the old jaccard read its
    // shingle input three times (sizes + both join sides), so an
    // uncached caller paid the split+explode+distinct corpus scan 3x.
    // The kernel now unrolls pairs with a narrow generate and joins
    // the digested shingles once — locked by counting shingle-relation
    // leaves in the UNCACHED library plan: exactly one Generate from
    // the WordShingles kernel may appear.
    val d = graft.core.Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id").as("id"),
        org.apache.spark.sql.functions.col("text"))
    val sh = graft.llm.Dedup.shingles(d, "id", "text")
    val pairs = d.select(org.apache.spark.sql.functions.col("id").as("a"),
      (org.apache.spark.sql.functions.col("id") + 1).as("b"))
    for (q <- Seq(graft.llm.Dedup.jaccard(pairs, sh),
        graft.llm.Dedup.containment(pairs, sh))) {
      val p = q.queryExecution.executedPlan.toString
      assert("(?i)wordshingles".r.findAllIn(p).size <= 1,
        s"shingle relation derived more than once:\n$p")
    }
  }

  test("LM / DSIR / RHP / IVFPQ plans: no cartesian products; DSIR models broadcast") {
    // The r17-session operators' scale shapes: the LM's count-table
    // joins and the IVFPQ candidate join must never degenerate into a
    // cartesian product (the only nested-loop joins allowed are the
    // audited broadcast single-row/metadata crossJoins), and DSIR's
    // bucket-model joins must stay broadcast — a shuffled join there
    // would move the corpus for an 8192-row table.
    // (curation_dsir_scores returns through Materialize's eager
    // localCheckpoint, so its interior join shape is not visible in
    // the returned plan — its broadcast contract is locked below on
    // the uncheckpointed interior instead.)
    Seq("text_lm_score", "text_min_k_prob",
      "dedup_rhp_embedding", "ann_topk_ivfpq", "llm_pipeline_ccnet")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      }
    // DSIR interior: rebuild the scoring join over the same bucketed
    // token stream shape and assert the model joins broadcast — a
    // shuffled join there would move the corpus for an 8192-row table.
    locally {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val docs = (1 to 50).map(i => (i.toLong, s"tok$i common word"))
        .toDF("doc_id", "text")
      val toks = docs
        .select(col("doc_id").as("id"), (col("doc_id") % 2 === 0).as("is_target"),
          explode(split(col("text"), " ")).as("tok"))
        .select(col("id"), col("is_target"),
          org.apache.spark.sql.functions.pmod(
            graft.functions.F.hash32(col("tok"), "dsir", "b"), lit(8192L)).as("b"))
      val model = toks.groupBy("b").agg(
        sum(when(col("is_target"), lit(1L)).otherwise(lit(0L))).as("cp"),
        count(lit(1)).as("cq"))
      val joined = toks.join(broadcast(model), Seq("b"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
    // RHP signatures are a pure narrow projection feeding the band
    // kernel: the codegen'd sign_bits expression is in the plan
    val rhp = plan("dedup_rhp_embedding")
    assert(rhp.contains("sign_bits") || rhp.contains("SignBits"), rhp)
  }

  test("llm_pipeline_full composes without cartesian products or partitionless windows") {
    // The end-to-end chain (clusters → anti-join → salted cap →
    // packing) must keep each stage's scale shape: every Window is
    // keyed (a partitionless one funnels the corpus through one task),
    // the keeper filter stays a broadcastable anti-join, and nothing
    // degenerates into a cartesian product.
    try {
      val p = plan("llm_pipeline_full")
      assert(!p.contains("CartesianProduct"), p)
      // A partitionless window (or a global sort feeding one) shows up
      // as a single-partition exchange — the one shape that funnels
      // the corpus through one task. The final orderBy is the only
      // allowed global sort and compiles to rangepartitioning, not
      // SinglePartition.
      assert(!p.contains("Exchange SinglePartition"), p)
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    } finally spark.catalog.clearCache()
  }

  test("ivfRecall scores each pair once: both ranks fuse into ONE window sort, no cache") {
    try {
      val p = plan("ann_ivf_recall")
      // The r_all/r_cand windows share one partition/order spec, so the
      // (qid, cos desc, vec_id) sort — the only per-pair sort in the
      // query — must appear exactly ONCE. A second one means the
      // brute/IVF sides split back into two scoring passes; an
      // InMemoryTableScan means the old persist-and-score-twice shape
      // came back.
      val pairSorts =
        "Sort \\[qid#\\d+L? ASC NULLS FIRST, cos_x1e4#\\d+L? DESC".r.findAllIn(p).size
      assert(pairSorts == 1, s"expected 1 pair-ranking sort, got $pairSorts:\n$p")
      assert(!p.contains("InMemoryTableScan"), p)
    } finally spark.catalog.clearCache()
  }

  // A Filter node renders as "+- Filter" or "+- *(1) Filter" under
  // whole-stage codegen — the negative lock must match both.
  private def hasFilterNode(p: String): Boolean =
    "[-+] (\\*\\(\\d+\\) )?Filter ".r.findFirstIn(p).isDefined

  test("orc_roundtrip: the quantity predicate pushes into the ORC scan") {
    val p = plan("orc_roundtrip")
    assert(p.contains("Format: ORC") || p.contains("FileScan orc"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)") ||
      p.contains("GreaterThanOrEqual(l_quantity,10.0)"), p)
  }

  test("avro_roundtrip: scan prunes to the aggregate's columns and fans out over sync splits") {
    val df = SparkEntry.queries("avro_roundtrip")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // l_orderkey/l_linenumber were written but the aggregate never reads
    // them — pruning must reach the graft-avro scan's ReadSchema
    assert(p.contains("graft-avro"), p)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"), p)
    // 64k maxSplitBytes at sf0.001 still plans several sync ranges,
    // packed into partitions by Spark's file-source rule
    val parts = graft.avro.AvroPackingSpec.partitions(df)
    val ranges = parts.flatMap(_.files)
    assert(ranges.length >= 2, ranges)
    assert(parts.length == graft.avro.AvroPackingSpec.packedCount(spark, ranges.map(_.length)), parts)
  }

  test("limit pushdown reaches all three DSv2 scans (PushedLimit in the scan node)") {
    val dir = tempDir("limit_push")
    // avro: 3-row limit over a written container dir
    val avroOut = dir.resolve("a").toString
    graft.avro.Avro.write(spark.range(1000).toDF("id"), avroOut)
    val aq = spark.read.format("graft-avro").option("path", avroOut).load().limit(3)
    assert(aq.queryExecution.executedPlan.toString.contains("PushedLimit: 3"),
      aq.queryExecution.executedPlan.toString)
    assert(aq.count() == 3)
    // xml: write a small doc through the engine's own writer
    val xmlOut = dir.resolve("x").toString
    java.nio.file.Files.createDirectories(dir.resolve("x"))
    graft.xml.Xml.writeXmlFile(
      spark.range(100).selectExpr("CAST(id AS STRING) AS id"), xmlOut + "/d.xml")
    val xq = spark.read.format("graft-xml").option("path", xmlOut + "/d.xml")
      .option("rowTag", "row").load().limit(5)
    assert(xq.queryExecution.executedPlan.toString.contains("PushedLimit: 5"),
      xq.queryExecution.executedPlan.toString)
    assert(xq.count() == 5)
    // the pushed limit caps SURVIVING rows — a pushed filter still sees
    // every row, so filter+limit returns filtered rows, not a prefix
    val fq = spark.read.format("graft-xml").option("path", xmlOut + "/d.xml")
      .option("rowTag", "row").load()
      .filter(org.apache.spark.sql.functions.col("id") === "97").limit(5)
    assert(fq.collect().map(_.getString(0)).toSeq == Seq("97"))
    // xlsx: the same two checks over a workbook from the engine's writer
    val xlsxOut = dir.resolve("w.xlsx").toString
    graft.xlsx.Xlsx.writeWorkbook(
      Seq("data" -> spark.range(100).selectExpr("CAST(id AS STRING) AS id")), xlsxOut)
    val wq = graft.xlsx.XlsxDataSource.readTable(spark, xlsxOut).limit(5)
    assert(wq.queryExecution.executedPlan.toString.contains("PushedLimit: 5"),
      wq.queryExecution.executedPlan.toString)
    assert(wq.count() == 5)
    val wfq = graft.xlsx.XlsxDataSource.readTable(spark, xlsxOut)
      .filter(org.apache.spark.sql.functions.col("id") === "97").limit(5)
    assert(wfq.collect().map(_.getString(0)).toSeq == Seq("97"))
  }

  test("xml_pushdown_filter: predicate lives in the graft-xml scan, nothing filters post-scan") {
    val p = plan("xml_pushdown_filter")
    assert(p.contains("PushedFilters: [EqualTo(c_mktsegment,BUILDING)"), p)
    assert(!hasFilterNode(p), p)
  }

  test("xlsx_pushdown_filter: composite predicate fully pushed into the graft-xlsx scan") {
    val p = plan("xlsx_pushdown_filter")
    assert(p.contains("EqualTo(c_mktsegment,MACHINERY)") &&
      p.contains("StringContains(c_name,01)"), p)
    assert(!hasFilterNode(p), p)
  }

  test("events_scd2_lookup joins on (bin, user) — never a nested-loop/cartesian plan") {
    val p = plan("events_scd2_lookup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("range_join_bands is an equi-join on the bin — never a nested-loop/cartesian plan") {
    // The whole point of the binned construction: the interval
    // predicate alone would force BroadcastNestedLoopJoin (and a
    // cartesian once neither side broadcasts); the bin key makes it a
    // plain hash-joinable equi-join at any scale.
    val p = plan("range_join_bands")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("bloom_prefilter_join probes the filter on the big side BEFORE the exact semi-join") {
    // The probe must sit in a Filter under the join (rows that can't
    // match die at the scan), and the exact recovery join must stay a
    // semi-join — if the probe migrates above the join, the prefilter
    // is decorative.
    val df = SparkEntry.queries("bloom_prefilter_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"), p)
    assert(p.contains("LeftSemi"), p)
    val filterIdx = p.indexOf("bloom_might_contain")
    val joinIdx = p.indexOf("LeftSemi")
    // executedPlan prints top-down: the probe Filter must appear BELOW
    // (= after in the string) the semi-join it feeds.
    assert(filterIdx > joinIdx, p)
  }

  test("text_top_terms is explode → hash aggregate → TakeOrderedAndProject") {
    val p = plan("text_top_terms")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("agg_rollup runs Expand into ONE hash aggregate — all levels in a single shuffle") {
    val p = plan("agg_rollup")
    assert(p.contains("Expand"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("sample_stratified's sampler side is a narrow filter — no shuffle before the audit aggregate") {
    // hashSample itself must stay shuffle-free: the filter sits on the
    // scan; the only exchanges in the query belong to the audit
    // groupBy/join, never between scan and filter.
    val d = graft.core.Tables.load(spark, sf, "documents").select("doc_id", "lang")
    val sampled = graft.llm.Curation.hashSample(d, "doc_id", "t", lit(0.5))
    val p = sampled.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Filter"), p)
  }

  test("cms_heavy_hitters builds the sketch as ONE object aggregate with map-side partials") {
    val p = plan("cms_heavy_hitters")
    // TypedImperativeAggregate → ObjectHashAggregate, partial + final:
    // executors fold their token slices into local d×w matrices and
    // only the 24 KB partials cross the wire — never the token stream.
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("agg_cube runs Expand into ONE hash aggregate — 2^n grouping sets, one shuffle") {
    val p = plan("agg_cube")
    assert(p.contains("Expand"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("join_semi_urgent: LEFT SEMI whose build side scans keys-only with the priority filter pushed down") {
    val df = SparkEntry.queries("join_semi_urgent")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p)
    val scan = df.queryExecution.sparkPlan.toString.linesIterator
      .filter(_.contains("FileScan")).find(_.contains("o_custkey")).getOrElse("")
    // the filter reaches the parquet scan and the read schema carries
    // only the join key + filter column — at 100 TB the hash table
    // holds keys, never whole order rows
    assert(scan.contains("EqualTo(o_orderpriority,1-URGENT)"), scan)
    assert(!scan.contains("o_totalprice") && !scan.contains("o_orderdate"), scan)
  }

  test("join_anti_urgent is a LEFT ANTI plan — not a full-outer + null filter") {
    val p = plan("join_anti_urgent")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("FullOuter"), p)
  }

  test("range_join_overlap stays an equi-join on (bin, brand) — never nested-loop/cartesian") {
    val p = plan("range_join_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("search_bm25_topk: idf/totals broadcast, top-k is TakeOrderedAndProject, no cartesian") {
    val p = plan("search_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the postings slice filters on the literal term set BEFORE any join
    assert(p.contains("term#") && p.contains("IN (") || p.contains("INSET"), p)
  }

  test("window_rolling_range is ONE keyed window over one exchange — no join, no extra shuffle") {
    val p = plan("window_rolling_range")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // exactly one shuffle: the user_id hash partitioning for the window
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("events_resample_locf: grid explode adds no shuffle beyond the keyed agg/join/window set") {
    val p = plan("events_resample_locf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("stats_outliers broadcasts the per-group moment table back onto the rows") {
    val p = plan("stats_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ann_topk_quantized broadcasts the quantized query side; HOFs stay per-row") {
    val df = SparkEntry.queries("ann_topk_quantized")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("array_dot_int8"), p)
    // the interpreted transform() lambdas (quantize) must run per ROW
    // below the join — the per-PAIR projection above it carries only
    // the codegen'd integer dot, never a HOF
    val pairProject = p.linesIterator.find(l => l.contains("AS cos_x1e4")).get
    assert(!pairProject.contains("transform("), pairProject)
  }

  test("market_basket_pairs: the pair build is an equi-join on the order key — never cartesian") {
    val p = plan("market_basket_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-50, no global sort
  }

  test("tpch_q5_region_volume: the region-nation slice broadcasts; no cartesian anywhere") {
    val p = plan("tpch_q5_region_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q3_priority: both date filters push into their parquet scans; top-10 is TakeOrdered") {
    val df = SparkEntry.queries("tpch_q3_priority")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    val scans = df.queryExecution.sparkPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scans.contains("GreaterThan(l_shipdate"), scans)
    assert(scans.contains("LessThan(o_orderdate"), scans)
  }

  test("graph_triangles: every stage is an equi-join — no cartesian wedge build") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("events_rolling_wau: linear explode fan-out, no range join, no cartesian beyond the 1-row span broadcast") {
    val p = plan("events_rolling_wau")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("text_pmi_bigrams: unigram joins stay equi-joins; the 1-row total broadcasts; top-k never global-sorts") {
    val p = plan("text_pmi_bigrams")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("hll_distinct_parts: the sketch partial-aggregates map-side (two HashAggregate phases)") {
    val p = plan("hll_distinct_parts")
    assert("hll_distinct".r.findAllIn(p).size >= 2, p) // partial + final
    assert(!p.contains("CartesianProduct"), p)
  }

  test("fifo_cogs_monthly: lot pairing is an equi-join on the part key, overlap as residual") {
    val p = plan("fifo_cogs_monthly")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("events_peak_concurrency: both window frames share ONE exchange on the key") {
    val p = plan("events_peak_concurrency")
    assert(!p.contains("CartesianProduct"), p)
    // delta agg + final agg + the single window partitioning — a self-join
    // regression would add a 4th hashpartitioning on k
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected <=3 hash exchanges, got $exchanges\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("geo_fence_contains: the fence is a scan-side filter — no join in the plan") {
    val p = plan("geo_fence_contains")
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hierarchy_rollup: pointer doubling stays equi-join — no cartesian, no nested loop") {
    val p = plan("hierarchy_rollup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dq_orders_expectations: all four row rules share ONE orders scan") {
    val p = plan("dq_orders_expectations")
    // branches: row-rule scan + unique scan + ref join (orders, customer)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 4, s"expected <=4 parquet scans, got $scans\n$p")
  }

  test("join_null_skew_guard: null keys bypass the join via a Union; the join input filters not-null") {
    val p = plan("join_null_skew_guard")
    assert(p.contains("Union"), p)
    // Catalyst rewrites isnotnull(k) through the null-injecting CASE
    // into isnotnull(user_id) on the scan side — the null slice never
    // reaches the join branch
    assert(p.toLowerCase.contains("isnotnull(user_id"), p)
    assert(p.contains("LeftOuter"), p)
  }

  test("join_shuffle_hash_hint compiles to ShuffledHashJoin — not broadcast, not sort-merge") {
    val p = plan("join_shuffle_hash_hint")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("scan_dpp_join: the fact scan carries a dynamicpruning partition filter from the dim side") {
    val df = SparkEntry.queries("scan_dpp_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("dynamicpruning"), p)
  }

  test("tpch_q16: the supplier denylist is a broadcast LEFT ANTI — excluded lines drop before the part join") {
    val p = plan("tpch_q16_supplier_variety")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q18: the HAVING aggregate runs before any join; top-100 is TakeOrderedAndProject") {
    val p = plan("tpch_q18_big_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the quantity aggregate must sit BELOW the first join: the first
    // SortMergeJoin/BroadcastHashJoin line must come after a HashAggregate line
    val lines = p.linesIterator.toVector
    val firstAgg = lines.indexWhere(_.contains("HashAggregate"))
    assert(firstAgg >= 0, p)
  }

  test("tpch_q22: 1-row average broadcasts; the premium-order NOT EXISTS is LEFT ANTI with the price filter pushed") {
    val df = SparkEntry.queries("tpch_q22_idle_rich")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    val scans = df.queryExecution.sparkPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scans.contains("GreaterThan(o_totalprice"), scans)
  }

  test("dedup_ngram_spans: gram-frequency join stays an equi-join on the digest — no cartesian") {
    val p = plan("dedup_ngram_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch_q6: every predicate reaches the lineitem scan as a pushed row-group filter") {
    // The plan's toString truncates PushedFilters at
    // spark.sql.maxMetadataStringLength chars, so read the scan node's
    // un-truncated metadata instead of grepping the rendered tree.
    val df = SparkEntry.queries("tpch_q6_forecast_revenue")(spark, sf)
    val pushed = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    assert(pushed.contains("LessThan(l_quantity,24.0)"), pushed)
    assert(pushed.contains("GreaterThan(l_discount,0.04)"), pushed)
  }

  test("tpch_q4: the late-line EXISTS is one LEFT SEMI join — orders never duplicate") {
    val p = plan("tpch_q4_order_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q19: disjunctive residual stays on an equi-join; the brand/size disjunction is pushed to the part scan") {
    val df = SparkEntry.queries("tpch_q19_disjunctive_revenue")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val scans = df.queryExecution.sparkPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scans.contains("Or(And(EqualTo(p_brand,Brand#12)"), scans)
  }

  test("tpch_q10: filtered aggregate runs before the dimension joins; top-20 is TakeOrderedAndProject") {
    val p = plan("tpch_q10_returned_revenue")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q15: the 1-row max broadcasts back onto the per-supplier aggregate") {
    val p = plan("tpch_q15_top_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("multimodal_ahash_neardup: banded candidates only — no cartesian, no nested-loop join") {
    val p = plan("multimodal_ahash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ann_incremental_ivf: frozen-centroid search joins on the bucket key — no cartesian") {
    val p = plan("ann_incremental_ivf")
    assert(!p.contains("CartesianProduct"), p)
    // assignment stays the narrow argmax expression on both branches
    assert(p.contains("argmax_bucket"), p)
  }

  test("text_bpe_top_pairs: ASCII prefilter and histogram both hash-aggregate; top-20 is TakeOrdered") {
    val p = plan("text_bpe_top_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("join_cross_format: the xlsx DSv2 scan and the parquet scan meet in one broadcast join") {
    val df = SparkEntry.queries("join_cross_format")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // both source formats present in the same physical plan: the
    // DSv2 xlsx scan (BatchScan graft-xlsx) and the parquet scan
    assert(p.contains("BatchScan"), p)
    assert(p.contains("FileScan parquet"), p)
  }

  test("matview_join_delta: every delta term is an equi-join — no cartesian, no nested loop") {
    val p = plan("matview_join_delta")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("fileindex_footer_scan: the residual range predicate pushes into the pruned parquet scan") {
    val df = SparkEntry.queries("fileindex_footer_scan")(spark, sf)
    val pushed = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(o_orderkey,1000)"), pushed)
    assert(pushed.contains("LessThanOrEqual(o_orderkey,5000)"), pushed)
  }

  test("features_quantile_bins: both passes hash-aggregate; the 1-row bounds broadcast") {
    val p = plan("features_quantile_bins")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("drift_ks_quantity: facts collapse to the distinct-cents grain BEFORE the cumulative window") {
    val df = SparkEntry.queries("drift_ks_quantity")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the single-partition window must sit ABOVE the hash aggregate —
    // it only ever sees the bounded distinct-value relation
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(winIdx >= 0 && aggIdx > winIdx, p)
  }

  test("share_of_parent: facts aggregate to the nation grain BEFORE any window runs") {
    val p = plan("share_of_parent")
    assert(!p.contains("CartesianProduct"), p)
    val lines = p.linesIterator.toVector
    val firstWindow = lines.indexWhere(_.contains("Window"))
    val lastAgg = lines.lastIndexWhere(_.contains("HashAggregate"))
    // physical plans print top-down: the aggregate node must appear
    // BELOW (after) the window nodes — i.e. windows consume its output
    assert(firstWindow >= 0 && lastAgg > firstWindow,
      s"window@$firstWindow agg@$lastAgg\n$p")
  }

  test("dedup_prefix_pairs: candidates come from equi-joins — never a cartesian/nested-loop") {
    val p = plan("dedup_prefix_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("wap_changes_feed diffs snapshots as a key-partitioned full-outer join") {
    val p = plan("wap_changes_feed")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("events_pattern_match: one window pass, no self-join on events") {
    val p = plan("events_pattern_match")
    assert(!p.contains("Join"), p) // window frames replace the per-pattern self-join
    assert(p.contains("Window"), p)
  }

  test("mask_t_closeness: no cartesian; the audit materializes drained (no cache residue)") {
    // tCloseness now drains internally (the contingency cache feeds the
    // one materializing run, then releases — CacheHygieneSpec owns that
    // invariant), so the query plan is a checkpoint scan + sort; the
    // InMemoryTableScan shape lives inside the library run, not here.
    val p = plan("mask_t_closeness")
    assert(!p.contains("CartesianProduct"), p)
    assert(org.apache.spark.sql.graftshim.ExprShim.cacheIsEmpty(spark), p)
  }

  test("text_nb_classify: scoring joins broadcast/equi — no cartesian, no cache residue") {
    // nbTrain drains internally: the model grid materializes once and
    // the term-frequency cache releases with it. The SCORING half of
    // the plan stays lazy and visible — assert its join shapes.
    val p = plan("text_nb_classify")
    assert(!p.contains("CartesianProduct"), p)
    assert(org.apache.spark.sql.graftshim.ExprShim.cacheIsEmpty(spark), p)
  }

  test("events_theil_sen: the pair relation is an equi-join on the series key") {
    val p = plan("events_theil_sen")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("multimodal_keyframes: NO join — consecutive frames meet through a lag window") {
    val p = plan("multimodal_keyframes")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }
}

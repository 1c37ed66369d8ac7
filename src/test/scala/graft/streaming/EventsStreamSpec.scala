package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.streaming.EventsStream.Event

class EventsStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("hourly windowed counts over a memory stream (§2.11)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    src.addData(
      Event(1, ts("2024-01-01 10:05:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 10:55:00"), 2, "view", 2.0),
      Event(3, ts("2024-01-01 11:05:00"), 1, "buy", 5.0))
    val q = EventsStream.hourlyCounts(src.toDF())
      .writeStream.format("memory").queryName("hc").outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT window.start, event_type, n FROM hc ORDER BY 1, 2").collect()
      assert(rows.length == 2)
      assert(rows(0).getString(1) == "view" && rows(0).getLong(2) == 2)
      assert(rows(1).getString(1) == "buy" && rows(1).getLong(2) == 1)
    } finally q.stop()
  }

  test("stream-static join enriches per batch; a dim miss passes through null-padded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col}
    val src = MemoryStream[Event]
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("user_id", "segment")
    val q = src.toDF()
      .join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("segment"))
      .writeStream.format("memory").queryName("enr")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(Event(1, ts("2024-01-01 10:05:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // user 99 has no dim row — the LEFT miss must still emit
      src.addData(Event(2, ts("2024-01-01 10:06:00"), 99, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, segment FROM enr ORDER BY event_id")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1)))
      assert(rows.toSeq == Seq(1L -> Some("GOLD"), 2L -> None))
    } finally q.stop()
  }

  test("sessionize keeps per-user state across batches (mapGroupsWithState)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.sessionize(src.toDS(), gapMs = 0)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Update()).start()
    try {
      src.addData(Event(1, ts("2024-01-01 10:00:00"), 7, "view", 1.0))
      q.processAllAvailable()
      src.addData(Event(2, ts("2024-01-01 10:10:00"), 7, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, n_events, duration_sec FROM sess ORDER BY n_events").collect()
      assert(rows.map(_.getInt(1)).toSeq == Seq(1, 2)) // state accumulated across batches
      assert(rows.last.getLong(2) == 600)
    } finally q.stop()
  }

  test("event-time sessionizer splits on the gap within a batch and closes via the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.sessionizeEventTime(src.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_et").outputMode(OutputMode.Append()).start()
    try {
      // user 7: two bursts 2 h apart INSIDE one batch → the first
      // session must close immediately (no timeout involved).
      src.addData(
        Event(1, ts("2024-01-01 10:00:00"), 7, "view", 1.0),
        Event(2, ts("2024-01-01 10:10:00"), 7, "view", 1.0),
        Event(3, ts("2024-01-01 12:10:00"), 7, "view", 1.0),
        Event(4, ts("2024-01-01 12:00:00"), 8, "view", 1.0))
      q.processAllAvailable()
      val afterBatch1 = spark.sql("SELECT user_id, n_events, duration_sec FROM sess_et").collect()
      assert(afterBatch1.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
        Seq((7L, 2, 600L)), afterBatch1.mkString(","))
      // watermark sentinel far in the future: both open sessions
      // (user 7's second burst, user 8's singleton) time out and emit.
      src.addData(Event(99, ts("2024-01-02 12:00:00"), 99, "view", 1.0))
      q.processAllAvailable()
      src.addData(Event(100, ts("2024-01-03 12:00:00"), 99, "view", 1.0))
      q.processAllAvailable()
      val all = spark.sql(
        "SELECT user_id, n_events, duration_sec FROM sess_et ORDER BY user_id, duration_sec").collect()
      val real = all.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).filter(_._1 < 99)
      assert(real.toSeq == Seq((7L, 1, 0L), (7L, 2, 600L), (8L, 1, 0L)), all.mkString(","))
    } finally q.stop()
  }

  test("sliding windows: each event lands in exactly its two covering 2h slots") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    src.addData(
      Event(1, ts("2024-01-01 10:30:00"), 1, "view", 1.0), // windows 09:00, 10:00
      Event(2, ts("2024-01-01 10:45:00"), 2, "view", 2.0), // windows 09:00, 10:00
      Event(3, ts("2024-01-01 11:05:00"), 1, "buy", 5.0))  // windows 10:00, 11:00
    val q = EventsStream.slidingCounts(src.toDF())
      .writeStream.format("memory").queryName("slide").outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT date_format(window.start, 'HH:mm') AS ws, event_type, n FROM slide ORDER BY ws, event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(rows.toSeq == Seq(
        ("09:00", "view", 2L),
        ("10:00", "buy", 1L), ("10:00", "view", 2L),
        ("11:00", "buy", 1L)), rows.mkString(","))
    } finally q.stop()
  }

  test("materializeLatest never regresses a key to an older row (out-of-order redelivery)") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("cdc_spec")
    val src = MemoryStream[Event]
    val q = EventsStream.materializeLatest(src.toDF(),
      base.resolve("state").toString, base.resolve("ckpt").toString)
    try {
      // batch 0: the NEWER row arrives first
      src.addData(Event(10, ts("2024-01-01 12:00:00"), 7, "view", 5.0))
      q.processAllAvailable()
      // batch 1: an OLDER row for the same key is redelivered late —
      // arrival order must not win over event time
      src.addData(
        Event(9, ts("2024-01-01 10:00:00"), 7, "view", 1.0),
        Event(20, ts("2024-01-01 11:00:00"), 8, "view", 2.0))
      q.processAllAvailable()
      val cur = EventsStream.currentStateVersion(spark, base.resolve("state").toString).get
      val rows = spark.read.parquet(cur)
        .select("user_id", "event_id", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(rows.toSeq == Seq((7L, 10L, 5.0), (8L, 20L, 2.0)), rows.mkString(","))
    } finally q.stop()
  }

  test("materializeLatest restarts from its checkpoint: old batches never re-run, new files process") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = tempDir("cdc_restart")
    val in = base.resolve("in"); java.nio.file.Files.createDirectories(in)
    val state = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    def writeFeed(name: String, eid: Long, t: String, v: Double): Unit =
      Seq((eid, ts(t), 7L, "view", v))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in.resolve(name).toString)
    def stream() = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString + "/*")
    // instance 1: one batch
    writeFeed("f1", 1L, "2024-01-01 10:00:00", 1.0)
    val q1 = EventsStream.materializeLatest(stream(), state, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val v1 = EventsStream.currentStateVersion(spark, state).get
    // instance 2, SAME checkpoint, no new data: no batch re-runs, the
    // state version is untouched
    val q2 = EventsStream.materializeLatest(stream(), state, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(EventsStream.currentStateVersion(spark, state).get == v1,
      "restart with no new data must not produce a new state version")
    // instance 3: one NEW file — exactly one more batch processes and
    // the state advances to the newer row
    writeFeed("f2", 2L, "2024-01-01 11:00:00", 9.0)
    val q3 = EventsStream.materializeLatest(stream(), state, ckpt)
    try q3.processAllAvailable() finally q3.stop()
    val v3 = EventsStream.currentStateVersion(spark, state).get
    assert(v3 != v1)
    val rows = spark.read.parquet(v3)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((7L, 2L, 9.0)), rows.mkString(","))
  }

  test("materializeLatest batch retry after a torn write recovers (crash between write and commit)") {
    // The at-least-once window foreachBatch must survive: attempt 1 of
    // batch N writes v<N> but the checkpoint commit never lands, so the
    // restarted query re-runs batch N. The merge input must be the
    // newest version STRICTLY BELOW N — picking v<N> itself would read
    // and overwrite the same path (Spark refuses, and the query would
    // fail identically on every restart). Simulated by invoking the
    // extracted per-batch commit directly, twice with the same id.
    val base = tempDir("cdc_retry")
    val state = base.resolve("state").toString
    def batchDf(rows: (Long, String, Long, Double)*) =
      rows.map { case (eid, t, uid, v) => Event(eid, ts(t), uid, "view", v) }
        .toDF()
    // batch 0 commits clean
    EventsStream.mergeBatchIntoState(
      batchDf((1L, "2024-01-01 10:00:00", 7L, 1.0)), 0L, state)
    // attempt 1 of batch 1 writes v1, then "crashes" before the
    // checkpoint commit (nothing else to do — v1 is on disk)
    val b1 = batchDf((2L, "2024-01-01 11:00:00", 7L, 9.0),
      (3L, "2024-01-01 10:30:00", 8L, 2.0))
    EventsStream.mergeBatchIntoState(b1, 1L, state)
    // the retry must not read v1 while overwriting it — and must land
    // the same result the first attempt computed (idempotent)
    EventsStream.mergeBatchIntoState(b1, 1L, state)
    val cur = EventsStream.currentStateVersion(spark, state).get
    assert(cur.endsWith("/v1"), cur)
    val rows = spark.read.parquet(cur)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((7L, 2L, 9.0), (8L, 3L, 2.0)), rows.mkString(","))
  }

  test("kmv sketch state: redelivery is absorbed, merge accumulates, torn-batch retry is idempotent") {
    val base = tempDir("kmv_retry")
    val state = base.resolve("state").toString
    def batchDf(rows: (Long, String, Long)*) =
      rows.map { case (eid, t, uid) => Event(eid, ts(t), uid, "view", 1.0) }.toDF()
    // batch 0: three users in hour 10
    EventsStream.mergeSketchIntoState(
      batchDf((1L, "2024-01-01 10:00:00", 7L), (2L, "2024-01-01 10:10:00", 8L),
        (3L, "2024-01-01 10:20:00", 9L)), 0L, state)
    def sketch(dir: String) = spark.read.parquet(dir)
      .select("hour", "sk").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val s0 = sketch(EventsStream.currentStateVersion(spark, state).get)
    assert(s0("2024-01-01 10").length == 3)
    // batch 1: full redelivery of user 7 + one NEW user in a new hour
    val b1 = batchDf((4L, "2024-01-01 10:05:00", 7L), (5L, "2024-01-01 11:00:00", 10L))
    EventsStream.mergeSketchIntoState(b1, 1L, state)
    // torn-batch retry: same id again must reproduce identical state
    EventsStream.mergeSketchIntoState(b1, 1L, state)
    val cur = EventsStream.currentStateVersion(spark, state).get
    assert(cur.endsWith("/v1"), cur)
    val s1 = sketch(cur)
    // hour 10 unchanged (user 7 was already in the sketch); hour 11 new
    assert(s1("2024-01-01 10") == s0("2024-01-01 10"), s1)
    assert(s1("2024-01-01 11").length == 1)
    // arrays stay sorted min-k
    s1.values.foreach(a => assert(a == a.sorted))
  }

  test("cms sketch state: disjoint batches add, torn-batch retry is idempotent, estimates exact") {
    import graft.functions.Cms
    import org.apache.spark.sql.functions.{col, explode}
    val w = 1024
    val base = tempDir("cms_retry")
    val state = base.resolve("state").toString
    def batchDf(rows: (Long, String, String)*) =
      rows.map { case (eid, t, typ) => Event(eid, ts(t), 1L, typ, 1.0) }.toDF()
    // batch 0: hour 10 sees view×2 + click×1
    EventsStream.mergeCmsIntoState(
      batchDf((1L, "2024-01-01 10:00:00", "view"), (2L, "2024-01-01 10:10:00", "view"),
        (3L, "2024-01-01 10:20:00", "click")), 0L, state, w)
    def est(dir: String): Map[(String, String), Long] = {
      val Seq(b0, b1, b2) = Cms.buckets(col("event_type"), w)
      spark.read.parquet(dir)
        .select(col("hour"), explode(col("types")).as("event_type"), col("cms"))
        .select(col("hour"), col("event_type"),
          Cms.estimate(col("cms"), b0, b1, b2).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    val s0 = est(EventsStream.currentStateVersion(spark, state).get)
    assert(s0 == Map(("2024-01-01 10", "view") -> 2L, ("2024-01-01 10", "click") -> 1L), s0)
    // batch 1: one more view in hour 10 (counters must ADD), a new hour 11
    val b1 = batchDf((4L, "2024-01-01 10:05:00", "view"), (5L, "2024-01-01 11:00:00", "click"))
    EventsStream.mergeCmsIntoState(b1, 1L, state, w)
    // torn-batch retry: same id must reproduce identical state, not double-add
    EventsStream.mergeCmsIntoState(b1, 1L, state, w)
    val cur = EventsStream.currentStateVersion(spark, state).get
    assert(cur.endsWith("/v1"), cur)
    val s1 = est(cur)
    assert(s1 == Map(("2024-01-01 10", "view") -> 3L, ("2024-01-01 10", "click") -> 1L,
      ("2024-01-01 11", "click") -> 1L), s1)
  }

  test("cms_merge of per-shard sketches is bit-identical to one cms_build over the union") {
    import graft.functions.Cms
    import org.apache.spark.sql.functions.col
    val w = 64
    val terms = Seq("a", "b", "a", "c", "a", "b").zipWithIndex
      .map { case (t, i) => (i % 3, t) }.toDF("shard", "term")
    val Seq(b0, b1, b2) = Cms.buckets(col("term"), w)
    val single = terms.agg(Cms.build(b0, b1, b2, w).as("cms"))
      .head.getAs[Array[Byte]]("cms")
    val merged = terms.groupBy("shard").agg(Cms.build(b0, b1, b2, w).as("cms"))
      .agg(Cms.merge(col("cms"), w).as("cms"))
      .head.getAs[Array[Byte]]("cms")
    assert(java.util.Arrays.equals(single, merged))
    // width mismatch fails loud, not silently mis-counts
    val bad = intercept[Exception] {
      terms.groupBy("shard").agg(Cms.build(b0, b1, b2, w).as("cms"))
        .agg(Cms.merge(col("cms"), 128).as("cms")).collect()
    }
    assert(bad.getMessage != null)
  }

  test("moments state: disjoint batches add exactly, torn-batch retry is idempotent") {
    import org.apache.spark.sql.functions.col
    val base = tempDir("mom_retry")
    val state = base.resolve("state").toString
    def batchDf(rows: (Long, String, Double)*) =
      rows.map { case (eid, t, v) => Event(eid, ts(t), 1L, "view", v) }.toDF()
    EventsStream.mergeMomentsIntoState(
      batchDf((1L, "2024-01-01 10:00:00", 1.00), (2L, "2024-01-01 10:10:00", 3.00)),
      0L, state)
    def st(dir: String) = spark.read.parquet(dir)
      .select("hour", "n", "s", "q").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val s0 = st(EventsStream.currentStateVersion(spark, state).get)
    // cents: 100 and 300 → n=2, s=400, q=100^2+300^2=100000
    assert(s0("2024-01-01 10") == ((2L, 400L, 100000L)), s0)
    val b1 = batchDf((3L, "2024-01-01 10:20:00", 2.00), (4L, "2024-01-01 11:00:00", 5.00))
    EventsStream.mergeMomentsIntoState(b1, 1L, state)
    EventsStream.mergeMomentsIntoState(b1, 1L, state) // torn-batch retry
    val s1 = st(EventsStream.currentStateVersion(spark, state).get)
    assert(s1("2024-01-01 10") == ((3L, 600L, 140000L)), s1)
    assert(s1("2024-01-01 11") == ((1L, 500L, 250000L)), s1)
  }

  test("cusum state: calibrate-then-monitor fold carries its place; torn retry idempotent") {
    import org.apache.spark.sql.functions.col
    val base = tempDir("cusum_retry")
    val state = base.resolve("state").toString
    def batchDf(rows: (Long, String)*) =
      rows.zipWithIndex.map { case ((_, t), i) =>
        Event(i.toLong, ts(t), 1L, "view", 1.0) }.toDF()
    // Calibration hours 10..11: counts 2, 2 -> mu = 20000, slack 2500,
    // h = 80000.
    EventsStream.mergeCusumIntoState(batchDf(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:10:00"),
      (3L, "2024-01-01 11:00:00"), (4L, "2024-01-01 11:10:00")), 0L, state)
    def st(dir: String) = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("mu"), r.getAs[Long]("n_obs"), r.getAs[Long]("na"),
          r.getAs[Long]("mx"), r.getAs[Long]("s"))).toMap
    val s0 = st(EventsStream.currentStateVersion(spark, state).get)
    assert(s0("view") == ((20000L, 0L, 0L, 0L, 0L)), s0)
    // Monitor: 13 events in hour 12 -> one dense monitor hour.
    // sPre = 130000 - 20000 - 2500 = 107500 >= h=80000 -> alarm, reset.
    val b2 = batchDf((1 to 13).map(i => (10L + i, s"2024-01-01 12:${i % 60}:00")): _*)
    EventsStream.mergeCusumIntoState(b2, 1L, state)
    EventsStream.mergeCusumIntoState(b2, 1L, state) // torn-batch retry
    val s1 = st(EventsStream.currentStateVersion(spark, state).get)
    assert(s1("view") == ((20000L, 1L, 1L, 107500L, 0L)), s1)
  }

  test("cusum/holt state: an initial empty micro-batch is a no-op, not a crash") {
    import org.apache.spark.sql.functions.col
    val base = tempDir("cusum_empty")
    val cusumState = base.resolve("cusum").toString
    val holtState = base.resolve("holt").toString
    val empty = Seq.empty[Event].toDF()
    // batch 0 carries no data: no version must be written, no exception
    EventsStream.mergeCusumIntoState(empty, 0L, cusumState)
    EventsStream.mergeHoltIntoState(empty, 0L, holtState)
    assert(EventsStream.currentStateVersion(spark, cusumState).isEmpty)
    assert(EventsStream.currentStateVersion(spark, holtState).isEmpty)
    // calibration then happens on the FIRST NON-EMPTY batch
    val b1 = Seq(
      Event(1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      Event(2L, ts("2024-01-01 11:00:00"), 1L, "view", 1.0)).toDF()
    EventsStream.mergeCusumIntoState(b1, 1L, cusumState)
    EventsStream.mergeHoltIntoState(b1, 1L, holtState)
    val cal = spark.read.parquet(
      EventsStream.currentStateVersion(spark, cusumState).get)
      .select("event_type", "mu").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cal("view") == 10000L, cal) // 1 event/hr over 2 dense hours
    assert(EventsStream.currentStateVersion(spark, holtState).isDefined)
  }

  test("holt stream state: fold continuity — two batches equal the single shot; retry idempotent") {
    import org.apache.spark.sql.functions.col
    val base = tempDir("holt_retry")
    val state = base.resolve("state").toString
    // hourly counts 1,3,2,4 on hours 10..13, split 2+2 across batches
    def hourEvents(hour: Int, k: Int): Seq[Event] =
      (1 to k).map(i => Event(hour * 100L + i, ts(f"2024-01-01 $hour%02d:${i % 60}%02d:00"), 1L, "view", 1.0))
    val b1 = (hourEvents(10, 1) ++ hourEvents(11, 3)).toDF()
    val b2 = (hourEvents(12, 2) ++ hourEvents(13, 4)).toDF()
    EventsStream.mergeHoltIntoState(b1, 0L, state)
    EventsStream.mergeHoltIntoState(b2, 1L, state)
    EventsStream.mergeHoltIntoState(b2, 1L, state) // torn-batch retry
    val got = spark.read.parquet(
      EventsStream.currentStateVersion(spark, state).get)
      .select("event_type", "l", "b", "n_obs").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // single-shot reference over the same dense series
    val single = graft.ops.Forecast.holtLinear(
      Seq(1L, 3L, 2L, 4L).zipWithIndex.map { case (y, t) => ("view", t.toLong, y) }
        .toDF("key", "t", "y"), "key", "t", "y").collect()(0)
    assert(got("view") == ((single.getAs[Long]("level_x1e4"),
      single.getAs[Long]("trend_x1e4"), 4L)), got)
  }

  test("runToFiles: deployable file-source → parquet-sink pipeline (§2.11)") {
    val base = tempDir("evstream")
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // The streaming file source takes a directory — stage the fixture
    // file into one (a deployment would point at the landing dir).
    val in = base.resolve("in")
    java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events.parquet"))
    // Bounded run over the sf0.001 events fixture: the watermark closes
    // windows as the (single) batch completes; append mode emits only
    // finalized windows to the file sink.
    val q = EventsStream.runToFiles(spark, in.toString, ckpt, out)
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(out)
    assert(written.columns.toSeq ==
      Seq("hour_start", "hour_end", "event_type", "n", "total_value"))
    // append mode withholds windows still inside the watermark; the
    // fixture spans many hours, so most windows must have closed.
    assert(written.count() > 0, "no finalized windows written")
  }

  test("stream-join gate metrics: deterministic totals, bounded state (noise-robust bench binding)") {
    // The bench artifact gates these queries on EventSream.gateMetrics
    // equality (wall-clock is only a soft ceiling — micro-batch
    // scheduling swung 2-6x on identical code under r17 full-suite
    // load). This locks the SCALE property independently of timing:
    // input accounting is exact, nothing is dropped as late, and the
    // state left after the run is the tiny tail within the join
    // horizon of the final watermark — NOT proportional to the feed.
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    EventsStream.purchaseViewJoinViaFileSink(spark, sf).collect()
    val inner = EventsStream.gateMetrics("events_stream_join")
    assert(inner("input_rows") == 2 * nEvents, inner)
    assert(inner("dropped_by_watermark") == 0L, inner)
    assert(inner("state_rows_final") < nEvents / 10, inner)

    EventsStream.purchaseViewJoinFullViaFileSink(spark, sf).collect()
    val full = EventsStream.gateMetrics("events_stream_join_full")
    // + 8: two dual-type sentinel batches x 2 rows, read by both sides
    assert(full("input_rows") == 2 * nEvents + 8, full)
    assert(full("dropped_by_watermark") == 0L, full)
    assert(full("state_rows_final") < nEvents / 10, full)
  }

  test("gate results read a swept Scratch dir that holds only the sink or the final state version") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def children(d: Path): Seq[String] = {
      val l = Files.list(d)
      try l.iterator.asScala.map(_.getFileName.toString).toList.sorted finally l.close()
    }
    // the Scratch dir (swept at JVM exit) that every file of `df` lies under
    def sweptRoot(df: org.apache.spark.sql.DataFrame): (Path, Seq[Path]) = {
      val files = df.inputFiles.toSeq.map(f => Paths.get(new java.net.URI(f)))
      assert(files.nonEmpty)
      val root = graft.core.Scratch.swept.find(d => files.forall(_.startsWith(d)))
      assert(root.isDefined, s"${files.head} lies under no dir the exit sweep covers")
      (root.get, files)
    }

    // append-sink gate: only the sink survives (no in, ckpt or stage*)
    val hourly = EventsStream.hourlyViaFileSink(spark, sf)
    assert(hourly.collect().nonEmpty)
    val (sinkRoot, sinkFiles) = sweptRoot(hourly)
    assert(children(sinkRoot) == Seq("out"))
    assert(sinkFiles.forall(_.startsWith(sinkRoot.resolve("out"))))

    // versioned-state gate: only the final version survives
    val cms = EventsStream.cmsStateViaFileSink(spark, sf)
    assert(cms.collect().nonEmpty)
    val (stateRoot, stateFiles) = sweptRoot(cms)
    assert(children(stateRoot) == Seq("state"))
    val versions = children(stateRoot.resolve("state"))
    assert(versions.size == 1 && versions.head.matches("v\\d+"), versions)
    assert(stateFiles.forall(_.startsWith(stateRoot.resolve("state").resolve(versions.head))))
  }

  test("streaming ingest dedup drops redelivered events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.dedupEvents(src.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    try {
      src.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0), // same-batch dup
        Event(2, ts("2024-01-01 10:01:00"), 2, "view", 2.0))
      q.processAllAvailable()
      src.addData(Event(1, ts("2024-01-01 10:00:01"), 1, "view", 1.0)) // redelivery
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-stream interval join matches within the horizon, excludes outside it") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.purchaseViewJoin(src.toDF(), horizon = "1 hour")
      .writeStream.format("memory").queryName("ssj").outputMode(OutputMode.Append()).start()
    try {
      src.addData(
        Event(10, ts("2024-01-01 09:30:00"), 1, "view", 1.0),     // 30 min before: in
        Event(11, ts("2024-01-01 08:30:00"), 1, "view", 1.0),     // 90 min before: out
        Event(12, ts("2024-01-01 10:00:00"), 1, "view", 1.0),     // same instant: in
        Event(13, ts("2024-01-01 10:10:00"), 1, "view", 1.0),     // after: out
        Event(14, ts("2024-01-01 09:45:00"), 2, "view", 1.0),     // other user: out
        Event(20, ts("2024-01-01 10:00:00"), 1, "purchase", 5.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT purchase_id, view_id FROM ssj ORDER BY view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == Seq((20L, 10L), (20L, 12L)))
    } finally q.stop()
  }

  test("left-outer stream join: null-pad emits only after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.purchaseViewJoin(src.toDF(), horizon = "1 hour",
        joinType = "left_outer")
      .writeStream.format("memory").queryName("ssjo").outputMode(OutputMode.Append()).start()
    try {
      src.addData(
        Event(10, ts("2024-01-01 09:30:00"), 1, "view", 1.0),
        Event(20, ts("2024-01-01 10:00:00"), 1, "purchase", 5.0),  // matched
        Event(21, ts("2024-01-01 10:00:00"), 2, "purchase", 5.0))  // no view
      q.processAllAvailable()
      // matched row emits immediately; the unmatched one is withheld —
      // a view inside its window could still arrive
      val early = spark.sql("SELECT purchase_id, view_id FROM ssjo").collect()
      assert(early.map(r => (r.getLong(0), r.isNullAt(1))).toSeq == Seq((20L, false)))
      // watermark advance on BOTH branches closes purchase 21's window
      src.addData(
        Event(30, ts("2024-01-01 20:00:00"), 9, "view", 1.0),
        Event(31, ts("2024-01-01 20:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      src.addData( // second advance: state eviction lags one batch
        Event(32, ts("2024-01-02 08:00:00"), 9, "view", 1.0),
        Event(33, ts("2024-01-02 08:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      val ids = spark.sql("SELECT purchase_id FROM ssjo WHERE view_id IS NULL")
        .collect().map(_.getLong(0))
      assert(ids.contains(21L), s"unmatched purchase never null-padded: ${ids.toSeq}")
    } finally q.stop()
  }

  test("full-outer stream join: an unmatched VIEW null-pads with its own user id") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.purchaseViewJoin(src.toDF(), horizon = "1 hour",
        joinType = "full_outer")
      .writeStream.format("memory").queryName("ssjf").outputMode(OutputMode.Append()).start()
    try {
      src.addData(
        Event(10, ts("2024-01-01 09:30:00"), 1, "view", 1.0),
        Event(20, ts("2024-01-01 10:00:00"), 1, "purchase", 5.0),  // matched pair
        Event(11, ts("2024-01-01 10:00:00"), 3, "view", 1.0))     // no purchase follows
      q.processAllAvailable()
      // two watermark advances on both branches close view 11's window
      Seq("2024-01-01 20:00:00", "2024-01-02 08:00:00").zipWithIndex.foreach {
        case (t, i) =>
          src.addData(
            Event(40 + i, ts(t), 9, "view", 1.0),
            Event(50 + i, ts(t), 9, "purchase", 1.0))
          q.processAllAvailable()
      }
      val unmatchedViews = spark.sql(
        "SELECT user_id, view_id FROM ssjf WHERE purchase_id IS NULL")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // the view-side row keeps its key through the coalesce — a
      // null user_id here would mean the select dropped the v-side key
      assert(unmatchedViews.contains((3L, 11L)),
        s"unmatched view never emitted: ${unmatchedViews.toSeq}")
    } finally q.stop()
  }

  test("gate harnesses leave the caller's session conf and catalog untouched") {
    val shuffleBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val nanosBefore = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    val out = EventsStream.sessionizeViaMemory(spark, sf)
    assert(out.count() > 0)
    // the stream pinned 4 state partitions and set the nanosAsLong
    // probe flag — on its cloned session only
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffleBefore)
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong") == nanosBefore)
    // the memory-sink table registered on the clone's catalog, not ours
    assert(!spark.catalog.tableExists("graft_sessions"))
  }

  test("session_window boundary: exactly-gap events MERGE (inclusive), a millisecond over splits") {
    import org.apache.spark.sql.functions.{col, count, lit, session_window}
    // batch evaluation of the same aggregate sessionWindowAgg uses:
    // u1 events at 0 and +30:00.000 — touching windows MERGE (Spark
    // treats session end as inclusive for the merge test);
    // u2 events at 0 and +30:00.001 — past the gap, two sessions.
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (2L, Timestamp.valueOf("2024-01-01 10:30:00"), 1L),
      (3L, Timestamp.valueOf("2024-01-01 10:00:00"), 2L),
      (4L, new Timestamp(Timestamp.valueOf("2024-01-01 10:30:00").getTime + 1L), 2L))
      .toDF("event_id", "ts", "user_id")
    val out = df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select("user_id", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (2L, 1L)))
  }

  test("sessionWindowAgg end-to-end file-sink gate emits well-formed closed sessions") {
    val out = EventsStream.sessionWindowViaFileSink(spark, sf)
    val rows = out.collect()
    assert(rows.length > 0)
    // session invariants: end = start + at least the gap; n >= 1
    rows.foreach { r =>
      val start = java.sql.Timestamp.valueOf(r.getAs[String]("sess_start"))
      val end = java.sql.Timestamp.valueOf(r.getAs[String]("sess_end"))
      assert(end.getTime - start.getTime >= 30 * 60 * 1000L)
      assert(r.getAs[Long]("n_events") >= 1L)
    }
  }

  test("top-k complete-mode view shape (O1+O2 on a stream)") {
    val batch = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "a", 10.0),
      Event(2, ts("2024-01-01 10:01:00"), 2, "a", 30.0),
      Event(3, ts("2024-01-01 10:02:00"), 1, "a", 5.0)).toDF()
    val top = EventsStream.topUsersByValue(batch, 1).collect()
    assert(top.length == 1 && top(0).getLong(0) == 2L)
  }

  test("complete-mode top-k RE-RANKS on every trigger (the onSnapshot notices contract)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.topUsersByValue(src.toDF(), 2).writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName("rerank_t")
      .start()
    try {
      // trigger 1: user 1 leads
      src.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "a", 10.0),
        Event(2, ts("2024-01-01 10:01:00"), 2, "a", 4.0))
      q.processAllAvailable()
      val snap1 = spark.table("rerank_t").orderBy($"total_value".desc).collect()
      assert(snap1.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      // trigger 2: user 2 overtakes and user 3 pushes user 1 out of top-2 —
      // the snapshot is a full re-rank of ALL state, not an append
      src.addData(
        Event(3, ts("2024-01-01 10:02:00"), 2, "a", 20.0),
        Event(4, ts("2024-01-01 10:03:00"), 3, "a", 12.0))
      q.processAllAvailable()
      val snap2 = spark.table("rerank_t").orderBy($"total_value".desc).collect()
      assert(snap2.map(_.getLong(0)).toSeq == Seq(2L, 3L))
      assert(snap2.find(_.getLong(0) == 2L).get.getDouble(1) == 24.0)
    } finally q.stop()
  }
}

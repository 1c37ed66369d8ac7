package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured-Streaming analogue of the reference's Firestore
  * `onSnapshot` realtime surface (SURVEY §2.11; reference
  * admin/page.tsx:296, app/page.tsx:155-171).
  *
  * The reference pushes full snapshots per change and re-sorts on the
  * client; the Spark-native shape is: readStream → event-time windowed
  * aggregation with a watermark (bounded state at 100 TB/day rates) →
  * complete-mode re-rank for the "notices" top-50 view, plus a
  * mapGroupsWithState sessionizer for custom per-key state.
  */
object EventsStream {

  /** Deterministic progress TOTALS of the last completed run of each
    * metric-instrumented gate, keyed by gate name. The stream-stream
    * join gates' wall-clock is dominated by micro-batch scheduling
    * (an idle-box artifact, r17 showed 2-6× swings on identical
    * code), so the bench artifact records these noise-free figures
    * alongside the seconds and tools/check_bench.py gates on METRIC
    * EQUALITY with wall-clock as a soft ceiling. Only sums and the
    * settled final value are recorded — batch count and per-batch
    * shapes are trigger-scheduling details (see
    * [[progressAuditViaFileSink]]) and are deliberately excluded. */
  val gateMetrics =
    new scala.collection.concurrent.TrieMap[String, Map[String, Long]]()

  /** Windowed per-type counts with a 1-hour watermark — the streaming
    * twin of the batch `events_hourly` query (same plan shape; state
    * pruned by the watermark). */
  def hourlyCounts(events: DataFrame): DataFrame =
    hourlyAgg(events.withWatermark("ts", "1 hour"))

  /** The aggregate half of [[hourlyCounts]], watermark supplied
    * upstream — chained stateful operators (dedup → window agg) must
    * set the watermark ONCE; redefining it downstream is disallowed. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Sliding (hopping) windowed counts — every event lands in the TWO
    * 2-hour windows that cover it (slide = 1 h). Same bounded-state
    * shape as the tumbling aggregate: the watermark closes a window
    * slot once no event can still fall into it; the only cost delta is
    * the 2× state fan-out (duration/slide slots per event), which is a
    * constant, not a function of rate. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Correctness gate for [[slidingCounts]]: the fixture plus the two
    * watermark sentinels ([[StreamGate.sentinels]] — Append mode
    * only emits a window once the watermark passes its END, and
    * sliding windows end up to 2 h past their last event). The oracle
    * is the batch identity "a 2h/1h window at start W counts events
    * with trunc(ts) ∈ {W, W+1h}": each event contributes to exactly
    * two window starts. */
  def slidingViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "stream")
    g.stage(g.eventsFile(sfDir) +: g.sentinels(sfDir))
    g.run(g.appendSink(
      slidingCounts(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1)))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("total_value"))))
    spark.read.parquet(g.keep(g.out))
      .filter(col("event_type") =!= "sentinel")
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:00:00").as("win_start"),
        col("event_type"), col("n"))
      .orderBy("win_start", "event_type")
  }

  /** Built-in gap sessions: `session_window` is the DECLARATIVE twin
    * of the flatMapGroupsWithState sessionizer ([[sessionizeEventTime]])
    * — Spark merges each key's overlapping [ts, ts+gap) windows into
    * sessions inside the aggregate, the watermark closes them, Append
    * emits each exactly once. Prefer this form wherever the per-event
    * output of the custom sessionizer isn't needed: it keeps the whole
    * query in Catalyst (state pruning, no Encoder round-trips).
    * Boundary (spec-locked): Spark merges INCLUSIVELY — an event at
    * exactly prev + gap still joins prev's session; only a strictly
    * larger gap splits. Same `> gap` split convention as the batch
    * sessionization twin, so the gate oracle reuses its CTE shape. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))

  /** Correctness gate for [[sessionWindowAgg]]: staged fixture + the
    * two sentinel batches (the second pushes the watermark past every
    * real session's end), file sink, then the closed sessions compared
    * to the batch gap-split twin. Sentinel sessions belong to user −1
    * and are filtered after the batch read-back. */
  def sessionWindowViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "stream")
    g.stage(g.eventsFile(sfDir) +: g.sentinels(sfDir))
    g.run(g.appendSink(
      sessionWindowAgg(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1)))
        .select(col("user_id"),
          col("session_window.start").as("sess_start"),
          col("session_window.end").as("sess_end"),
          col("n_events"))))
    spark.read.parquet(g.keep(g.out))
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_format(col("sess_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("sess_start"),
        date_format(col("sess_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("sess_end"),
        col("n_events"))
      .orderBy("user_id", "sess_start")
  }

  /** Streaming ingest dedup: at-least-once sources redeliver events;
    * dropDuplicatesWithinWatermark keys state by event_id and prunes
    * it past the watermark — bounded state at any ingest rate (the
    * streaming twin of the batch exact-dedup operator). */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join (§2.11): each purchase pairs with the
    * views of the same user in the preceding `horizon`. Both sides
    * carry event-time watermarks and the join condition bounds the
    * time range, so Spark can prune join state past the watermark —
    * bounded state at any rate, the canonical watermarked
    * stream-stream join shape. Inner-join matches emit as they arrive
    * (no window-close wait); the watermark only governs state cleanup. */
  def purchaseViewJoin(events: DataFrame, horizon: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", horizon)
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("ts").as("vts"))
      .withWatermark("vts", horizon)
    p.join(v, expr(
        s"user_id = v_user_id AND vts BETWEEN pts - INTERVAL $horizon AND pts"),
        joinType)
      // coalesce keeps the key on view-side-only rows (full outer);
      // for inner/left joins it is the purchase key unchanged
      .select(coalesce(col("user_id"), col("v_user_id")).as("user_id"),
        col("purchase_id"), col("view_id"))
  }

  /** The notices view: latest state re-ranked per trigger
    * (orderBy × limit in complete mode — O1+O2 on a stream). */
  def topUsersByValue(events: DataFrame, k: Int = 50): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(sum(col("value")).as("total_value"), count(lit(1)).as("n_events"))
      .orderBy(desc("total_value"), asc("user_id"))
      .limit(k)

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int)
  case class Session(user_id: Long, n_events: Int, duration_sec: Long, closed: Boolean)

  /** Per-user sessionization with a processing-time gap timeout —
    * KeyValueGroupedDataset.mapGroupsWithState custom state (SURVEY
    * §2.11 "custom state" requirement). `gapMs <= 0` disables the
    * timeout (bounded tests: timer batches otherwise keep the trigger
    * loop busy and block processAllAvailable). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (gapMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(timeoutConf)(
        (uid: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Session(uid, s.n, (s.last - s.start) / 1000, closed = true)
          } else {
            val times = batch.map(_.ts.getTime).toSeq
            val prev = state.getOption.getOrElse(
              SessionState(times.min, times.min, 0))
            val next = SessionState(
              math.min(prev.start, times.min),
              math.max(prev.last, times.max), prev.n + times.size)
            state.update(next)
            if (gapMs > 0) state.setTimeoutDuration(gapMs)
            Session(uid, next.n, (next.last - next.start) / 1000, closed = false)
          }
        })
  }

  case class ClosedSession(user_id: Long, start_ms: Long, n_events: Int, duration_sec: Long)

  /** Event-time gap sessionization — the scale-correct sibling of
    * [[sessionize]]: flatMapGroupsWithState with EventTimeTimeout, so
    * a session CLOSES when the WATERMARK (not the wall clock) passes
    * its last event + gap. Closed sessions are emitted exactly once,
    * which makes the operator Append-mode compatible → it can feed a
    * parquet file sink (Update-mode mapGroupsWithState cannot).
    *
    * Semantics match the batch twin (`events_sessionize_batch`): a
    * strictly-greater-than-gap gap between consecutive events starts a
    * new session, INCLUDING within one micro-batch — the per-batch
    * fold splits eagerly and emits the finished sessions immediately;
    * only the trailing open session waits for its timeout. Late rows
    * landing behind an already-closed session start a fresh one — the
    * documented at-least-once recovery behavior; the watermark bounds
    * how long that window stays open. */
  def sessionizeEventTime(events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "0 seconds"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    def close(uid: Long, s: SessionState) =
      ClosedSession(uid, s.start, s.n, (s.last - s.start) / 1000)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(uid, s))
          } else {
            val times = batch.map(_.ts.getTime).toArray.sorted
            val closed = Seq.newBuilder[ClosedSession]
            var open = state.getOption.orNull
            times.foreach { t =>
              open =
                if (open == null) SessionState(t, t, 1)
                else if (t - open.last > gapMs) {
                  closed += close(uid, open)
                  SessionState(t, t, 1)
                } else SessionState(open.start, math.max(open.last, t), open.n + 1)
            }
            state.update(open)
            // the timeout must sit strictly past the current watermark
            // (Spark rejects earlier values); for a session that is
            // already expired relative to the watermark, +1 ms fires
            // it on the very next trigger.
            state.setTimeoutTimestamp(
              math.max(open.last + gapMs, state.getCurrentWatermarkMs() + 1))
            closed.result().iterator
          }
        })
  }

  /** File-source stream over a directory of parquet events. Handles
    * the fixture's TIMESTAMP(NANOS) parquet the same way Tables.load
    * does (nanos-as-long + integer µs truncation), type-gated by a
    * one-off batch schema probe so standard µs-timestamp parquet (any
    * real deployment) streams through the same entry unchanged —
    * readStream needs the schema declared up front, so the gate cannot
    * live inside the plan. */
  private def readEvents(spark: SparkSession, inputDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ts = TsLayout.of(spark, inputDir)
    val reader = spark.readStream
      .schema(s"event_id LONG, ${ts.ddl}, user_id LONG, event_type STRING, value DOUBLE, props STRING")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(inputDir).withColumn("ts", ts.timestamp)
  }

  /** Physical layout of an events parquet's `ts`: long nanos (the
    * driver fixture's TIMESTAMP(NANOS), read under nanosAsLong) or a
    * standard µs timestamp. [[readEvents]] and every gate that stages
    * derived event files decide it here, so a derived file always
    * matches the fixture it streams beside. */
  private[streaming] final case class TsLayout(isLong: Boolean) {
    def ddl: String = if (isLong) "ts LONG" else "ts TIMESTAMP_NTZ"

    /** The stored `ts` as a µs TIMESTAMP (sub-µs nanos truncate). */
    def timestamp: Column =
      if (isLong) timestamp_micros(expr("ts DIV 1000"))
      else col("ts").cast("timestamp")

    def micros: Column = unix_micros(timestamp)

    /** µs since the epoch, in this layout. */
    def fromMicros(us: Column): Column =
      if (isLong) us * 1000L else timestamp_micros(us).cast("timestamp_ntz")
  }

  private[streaming] object TsLayout {
    /** The layout of the parquet at `path`; sets nanosAsLong on `spark`
      * so a TIMESTAMP(NANOS) column reads at all. */
    def of(spark: SparkSession, path: String): TsLayout = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      TsLayout(spark.read.parquet(path).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
    }
  }

  /** The deployable entry: file source → watermarked hourly aggregate →
    * partitioned parquet file sink (exactly-once via the checkpoint +
    * file-sink log; every component is executor-side and restart-safe).
    * The window struct flattens to start/end columns — parquet sinks
    * take flat schemas. */
  def runToFiles(spark: SparkSession, inputDir: String, checkpoint: String,
      outDir: String, maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    hourlyCounts(readEvents(spark, inputDir, maxFilesPerTrigger))
      .select(col("window.start").as("hour_start"), col("window.end").as("hour_end"),
        col("event_type"), col("n"), col("total_value"))
      .writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Correctness-gate harness for [[runToFiles]]: run the deployable
    * file-sink pipeline over a staged copy of `<sfDir>/events.parquet`
    * plus two watermark-advancing sentinel files
    * ([[StreamGate.sentinels]]), each its own micro-batch
    * (maxFilesPerTrigger=1, mtime-ordered), then batch-read the sink
    * shaped like the `events_hourly` batch twin. */
  def hourlyViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "stream")
    g.stage(g.eventsFile(sfDir) +: g.sentinels(sfDir))
    g.run(runToFiles(g.ss, g.in, g.checkpoint, g.out, maxFilesPerTrigger = Some(1)))
    // a trailing no-data batch may close the first sentinel's window
    // too — the sentinels are harness scaffolding, not data
    spark.read.parquet(g.keep(g.out))
      .filter(col("event_type") =!= "sentinel")
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"))
      .orderBy("hour", "event_type")
  }

  /** Correctness gate for the streaming ingest-dedup operator
    * ([[dedupEvents]]): stage the events fixture TWICE (the second
    * copy a later micro-batch — an at-least-once source redelivering
    * the whole feed), stream through
    * `dropDuplicatesWithinWatermark(event_id)` into a parquet file
    * sink, batch-read the sink and aggregate per type. Batch 1
    * delivers every event once; batch 2's copies are dropped either
    * by the dedup state (within the watermark) or as late rows
    * (behind it) — both the correct at-least-once outcome — so the
    * sink holds exactly one copy of each event and the per-type
    * counts hash-match the plain batch aggregate. */
  def dedupViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "dedup")
    g.stage(Seq(g.eventsFile(sfDir), g.eventsFile(sfDir)))
    g.run(g.appendSink(
      dedupEvents(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1)))
        .select(col("event_id"), col("event_type"), col("value"))))
    spark.read.parquet(g.keep(g.out))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Chained-stateful-operator gate: ingest-dedup FOLLOWED BY the
    * watermarked hourly aggregate in ONE streaming query (Spark's
    * multiple-stateful-operators support) — the realistic deployment
    * shape, where an at-least-once feed is deduplicated before
    * aggregation in the same job. Staging combines both harness
    * tricks: the fixture redelivered as a second micro-batch (dedup
    * must drop it — per-hour counts would double otherwise) plus two
    * far-future sentinel batches that advance the watermark so append
    * mode releases every real window. Oracle: the plain batch hourly
    * aggregate over the ORIGINAL (unduplicated) feed. */
  def dedupHourlyViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "deduphourly")
    g.stage(Seq(g.eventsFile(sfDir), g.eventsFile(sfDir)) ++ g.sentinels(sfDir))
    g.run(g.appendSink(
      hourlyAgg(dedupEvents(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1))))
        .select(col("window.start").as("hour_start"), col("event_type"), col("n"))))
    spark.read.parquet(g.keep(g.out))
      .filter(col("event_type") =!= "sentinel")
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"))
      .orderBy("hour", "event_type")
  }

  /** Last-writer-wins reducer for [[materializeLatest]]: one row per
    * key, the row with the greatest (ts, event_id) — a single hash
    * aggregate over a packed struct (no window, no sort), so merging
    * N state rows with M batch rows is one shuffle at any scale. */
  def latestPerKey(rows: DataFrame): DataFrame =
    rows.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts"),
        col("m.event_id").as("event_id"), col("m.value").as("value"))

  /** §2.11 × K8: CDC-style streaming materialization. Each micro-batch
    * merges its per-key latest rows into a versioned parquet state dir
    * via foreachBatch — the streaming form of the reference's keyed
    * setDoc overwrite (reference: lib/firebase/saveUser.ts:34-78).
    *
    * Merge = latestPerKey(previous state ∪ batch), i.e. last-writer-
    * wins by EVENT TIME, not arrival order — a redelivered or
    * out-of-order batch can never regress a key to an older row, which
    * is what makes the sink idempotent under the source's at-least-once
    * contract. Each version lands in `state/v<batchId>`: foreachBatch
    * re-runs after a restart reuse the same batch id, so the overwrite
    * is the exactly-once mechanism (the same reason the version dir is
    * keyed by batch id, not a timestamp). Old versions are the
    * caller's vacuum concern; at scale the version flip is a
    * table-format pointer swap. */
  def materializeLatest(events: DataFrame, stateBase: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchIntoState(batch, batchId, stateBase)
      }
      .start()

  /** One [[materializeLatest]] micro-batch commit: merge the batch's
    * per-key latest rows into the newest state version STRICTLY BELOW
    * `batchId` and write `v<batchId>`. The strict bound is the retry
    * safety: a foreachBatch re-run after a crash that wrote v<N> but
    * died before the checkpoint commit would otherwise pick v<N>
    * itself as the merge input and overwrite the very path it is
    * reading ("Cannot overwrite a path that is also being read from"
    * — an unrecoverable restart loop). Bounding to id < batchId makes
    * the retry read exactly what the first attempt read (v<N-1>'s
    * state), so re-running batch N is idempotent by construction:
    * same input version + same batch rows → same v<N>. */
  def mergeBatchIntoState(batch: DataFrame, batchId: Long, stateBase: String): Unit = {
    val ss = batch.sparkSession
    val latest = latestPerKey(
      batch.select(col("user_id"), col("ts"), col("event_id"), col("value")))
    val merged = currentStateVersion(ss, stateBase, below = batchId) match {
      case Some(dir) => latestPerKey(ss.read.parquet(dir).unionByName(latest))
      case None => latest
    }
    merged.write.mode("overwrite").parquet(s"$stateBase/v$batchId")
  }

  /** Hourly distinct-user KMV sketch of one slice of the feed: the
    * mergeable min-k array (functions.KmvSketch, k=64) over a 40-bit
    * keyed hash of the user id, per event hour. 40 bits so the
    * estimator arithmetic downstream stays in exact longs. */
  def kmvHourly(events: DataFrame): DataFrame = {
    import graft.functions.{F, KmvSketch}
    val h = conv(substring(md5(concat(col("user_id").cast("string"),
      lit(":kmw"))), 1, 10), 16, 10).cast("long")
    events.select(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"), h.as("h"))
      .groupBy("hour")
      .agg(F.toColumn(KmvSketch(F.toExpr(col("h")), 64)
        .toAggregateExpression()).as("sk"))
  }

  /** §2.11 × sketches: streaming distinct-user estimation via
    * MERGEABLE KMV state. Each micro-batch reduces to (hour, min-k
    * sketch) and merges into the versioned store by pure sketch union
    * (flatten → distinct → sort → first k) — O(k) state per hour
    * FOREVER, at any event rate, where a streaming count(distinct)
    * would hold every key. Set semantics absorb redelivered users, so
    * the source's at-least-once contract cannot inflate the estimate.
    * Exactly-once mechanism shared with [[materializeLatest]]: merge
    * reads the newest version STRICTLY BELOW the batch id and
    * overwrites `v<batchId>`, so a torn-batch retry reproduces
    * identical state. */
  def kmvStreamState(events: DataFrame, stateBase: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeSketchIntoState(batch, batchId, stateBase)
      }
      .start()

  /** One [[kmvStreamState]] micro-batch commit. The union aggregate's
    * collect_list is bounded by construction: per hour it sees at most
    * one state row plus one batch row, each an array of ≤ k longs, and
    * the flatten→distinct→sort→slice pipeline is order-insensitive —
    * merge order can never change the kept set. */
  def mergeSketchIntoState(batch: DataFrame, batchId: Long,
      stateBase: String): Unit = {
    val ss = batch.sparkSession
    val b = kmvHourly(batch)
    val merged = currentStateVersion(ss, stateBase, below = batchId) match {
      case Some(dir) =>
        ss.read.parquet(dir).unionByName(b)
          .groupBy("hour")
          .agg(expr("slice(array_sort(array_distinct(flatten(collect_list(sk)))), 1, 64)")
            .as("sk"))
      case None => b
    }
    merged.write.mode("overwrite").parquet(s"$stateBase/v$batchId")
  }

  /** Correctness gate for [[kmvStreamState]]: the events fixture
    * streams in TWO micro-batches — the original plus a full
    * REDELIVERY (new event ids, same users, same timestamps). The
    * final state's per-hour estimates must equal the single-shot KMV
    * of the original fixture alone: the duplicate delivery is fully
    * absorbed by set semantics. Output (hour, nk, est_users) via the
    * estimator arms shared with kmv_segment_overlap. */
  def kmvStateViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "kmv")
    g.stage(Seq(g.eventsFile(sfDir), StreamGate.Frame(g.events(sfDir)
      .withColumn("event_id", col("event_id") + 1000000L))))
    val state = g.dir("state")
    g.run(kmvStreamState(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1)),
      state, g.checkpoint))
    spark.read.parquet(g.keep(g.lastVersion(state)))
      .withColumn("nk", size(col("sk")))
      .withColumn("hk", expr("element_at(sk, nk)"))
      .select(col("hour"), col("nk").cast("long").as("nk"),
        when(col("nk") < 64, col("nk").cast("long"))
          .otherwise(expr("63 * 1099511627776 DIV hk")).as("est_users"))
      .orderBy("hour")
  }

  /** §2.11 × sketches: streaming FREQUENCY estimation via mergeable
    * Count-Min state — the additive sibling of [[kmvStreamState]]'s
    * set-union state. Each micro-batch reduces to one (hour, type-set,
    * d×w sketch) row per hour and merges into the versioned store by
    * element-wise counter ADD ([[graft.functions.CmsMerge]]), so state
    * stays O(d·w + |type domain|) per hour forever where a streaming
    * exact count would key state by every distinct term. Counts are
    * additive (unlike KMV's sets), so redelivery is NOT absorbed by
    * the sketch itself — exactly-once rests entirely on the shared
    * versioned-state mechanism: merge reads the newest version
    * STRICTLY BELOW the batch id and overwrites `v<batchId>`, making a
    * torn-batch retry reproduce identical counters. */
  def cmsHourly(events: DataFrame, w: Int = 1024): DataFrame = {
    import graft.functions.Cms
    val Seq(b0, b1, b2) = Cms.buckets(col("event_type"), w)
    events.select(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), b0.as("b0"), b1.as("b1"), b2.as("b2"))
      .groupBy("hour")
      .agg(array_sort(collect_set(col("event_type"))).as("types"),
        Cms.build(col("b0"), col("b1"), col("b2"), w).as("cms"))
  }

  def cmsStreamState(events: DataFrame, stateBase: String,
      checkpoint: String, w: Int = 1024): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeCmsIntoState(batch, batchId, stateBase, w)
      }
      .start()

  /** One [[cmsStreamState]] micro-batch commit. Per hour the merge
    * aggregate sees at most one state row plus one batch row; the
    * type set unions (bounded by contract — event_type is the
    * low-cardinality heavy-hitter domain the sketch answers for) and
    * the sketches add counter-wise, which commutes, so merge order
    * can never change the state. */
  def mergeCmsIntoState(batch: DataFrame, batchId: Long,
      stateBase: String, w: Int = 1024): Unit = {
    val ss = batch.sparkSession
    val b = cmsHourly(batch, w)
    val merged = currentStateVersion(ss, stateBase, below = batchId) match {
      case Some(dir) =>
        ss.read.parquet(dir).unionByName(b)
          .groupBy("hour")
          .agg(array_sort(array_distinct(flatten(collect_list(col("types")))))
            .as("types"),
            graft.functions.Cms.merge(col("cms"), w).as("cms"))
      case None => b
    }
    merged.write.mode("overwrite").parquet(s"$stateBase/v$batchId")
  }

  /** Correctness gate for [[cmsStreamState]]: the events fixture
    * streams in TWO DISJOINT micro-batches (split by event_id parity),
    * so the final state's additive counters must reproduce the exact
    * per-(hour, type) counts of the whole feed — a dropped batch,
    * double-merged batch, or wrong-version merge input each shift a
    * count and fail the compare. Estimates equal exact counts because
    * the per-hour key domain (≈5 types) is far under w=1024 and the
    * estimate takes the min over d=3 independently-hashed rows. */
  def cmsStateViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Cms
    val w = 1024
    val g = new StreamGate(spark, "cms")
    g.stage(g.parityHalves(sfDir))
    val state = g.dir("state")
    g.run(cmsStreamState(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1)),
      state, g.checkpoint, w))
    val Seq(b0, b1, b2) = Cms.buckets(col("event_type"), w)
    spark.read.parquet(g.keep(g.lastVersion(state)))
      .select(col("hour"), explode(col("types")).as("event_type"), col("cms"))
      .select(col("hour"), col("event_type"),
        Cms.estimate(col("cms"), b0, b1, b2).as("n_est"))
      .orderBy("hour", "event_type")
  }

  /** Per-batch progress of a finished query as a DataFrame — the
    * observability surface an operations team audits (rows ingested
    * per trigger, batches fired). Reads `query.recentProgress` (a
    * bounded ring buffer, `spark.sql.streaming.numRecentProgressUpdates`
    * deep); a production deployment streams the same records out
    * through a StreamingQueryListener into a metrics sink instead of
    * polling — same payload, push not pull. */
  def progressRows(q: StreamingQuery): Seq[(Long, Long)] =
    q.recentProgress.toSeq.map(p => (p.batchId, p.numInputRows))

  /** Observability gate: the fixture streams in two staged halves
    * (maxFilesPerTrigger=1) through the hourly aggregate; the
    * progress records must account for EXACTLY every input row —
    * conservation between the source and the progress accounting.
    * Batch count and per-batch sizes are trigger-scheduling details
    * (empty flush batches come and go), so the gate sums — the
    * deterministic invariant — rather than asserting shapes. */
  def progressAuditViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "obs")
    g.stage(g.parityHalves(sfDir))
    val q = g.appendSink(
      hourlyCounts(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1)))
        .select(col("window.start").as("hour_start"), col("event_type"), col("n")))
    g.run(q)
    g.clear()
    import spark.implicits._
    Seq(("input_rows", progressRows(q).map(_._2).sum)).toDF("metric", "value")
  }

  /** §2.11 × stats: streaming anomaly detection over MERGEABLE moment
    * state. Each micro-batch reduces to per-hour exact integer moments
    * (n, Σcents, Σcents²) and merges into the versioned store by
    * element-wise ADD — O(1) state per hour forever, the same additive
    * shape as the CMS gate, with the same strictly-below-batchId
    * exactly-once mechanism. The flag then derives from pure integer
    * algebra: hour mean m = Σc div n, global (N, S, Q), and
    * "anomalous" ⟺ (m·N − S)² > k²·(N·Q − S²) — the z-score test with
    * the division and sqrt multiplied away, so both engines branch on
    * identical integers (no IEEE sqrt at the decision boundary). */
  def momentsHourly(events: DataFrame): DataFrame =
    events.select(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy("hour")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))

  def momentsStreamState(events: DataFrame, stateBase: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeMomentsIntoState(batch, batchId, stateBase)
      }
      .start()

  /** One micro-batch commit: moments add hour-wise (integer sums
    * commute — merge order can never change the state). */
  def mergeMomentsIntoState(batch: DataFrame, batchId: Long,
      stateBase: String): Unit = {
    val ss = batch.sparkSession
    val b = momentsHourly(batch)
    val merged = currentStateVersion(ss, stateBase, below = batchId) match {
      case Some(dir) =>
        ss.read.parquet(dir).unionByName(b)
          .groupBy("hour")
          .agg(sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("q")).as("q"))
      case None => b
    }
    merged.write.mode("overwrite").parquet(s"$stateBase/v$batchId")
  }

  /** Correctness gate for [[momentsStreamState]]: the fixture streams
    * in two DISJOINT halves; the final state's per-hour flags must
    * equal the batch recompute of the whole feed (the oracle) — a
    * dropped batch or double merge shifts a moment and flips flags or
    * counts. k = 2 (beyond two global standard deviations). */
  def anomalyViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "anom")
    g.stage(g.parityHalves(sfDir))
    val state = g.dir("state")
    g.run(momentsStreamState(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1)),
      state, g.checkpoint))
    val fin = spark.read.parquet(g.keep(g.lastVersion(state)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = fin.agg(sum(col("n")).as("gn"), sum(col("s")).as("gs"),
      sum(col("q")).as("gq"))
    // All quantities stay ≤ cents² after the integer divisions, so no
    // product can overflow INT64 at any sf (the naive (m·N − S)² form
    // would at sf0.1). Integer-div variance is biased by < 1 cent² —
    // identical bias in both engines, so the flags compare exactly.
    val out = fin.crossJoin(broadcast(tot))
      .select(col("hour"), col("n"),
        expr("s DIV n").as("mean_c"),
        expr("gs DIV gn").as("gmean_c"),
        ((expr("s DIV n") - expr("gs DIV gn")) *
          (expr("s DIV n") - expr("gs DIV gn")) >
          lit(4L) * (expr("gq DIV gn") - expr("(gs DIV gn) * (gs DIV gn)")))
          .as("is_anomaly"))
      .orderBy("hour")
    // hourly-sized gate result: materialize once, release the state
    // cache with it — no relation left pinned after the gate's action
    graft.core.Materialize.drained(out, fin)
  }

  /** Per-batch hourly counts per type — the CUSUM monitor's input
    * relation (same hour bucketing as the batch events_cusum_alarm
    * gate). */
  def cusumHourly(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
        (graft.ops.Resample.epochSec(col("ts")) / 3600L).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"))

  /** §2.11 × monitoring: STREAMING CUSUM — the first ORDER-DEPENDENT
    * state in this surface (every other versioned store merges
    * order-free: latest-row, sketch union, moment addition; a CUSUM
    * trajectory is a fold, so the state carries WHERE the fold stands).
    * Calibrate-then-monitor contract:
    *
    *  - micro-batch 1 is the CALIBRATION PREFIX: per event type, the
    *    dense hourly grid from the type's first hour to the batch's
    *    global max hour trains (mu, slack, h) — exactly the batch
    *    gate's derivation, on the prefix only (a streaming monitor
    *    cannot know the future mean);
    *  - every later batch folds its dense hours (state.last_hr + 1 ..
    *    batch global max, zeros filled) through the shared
    *    Forecast.cusumFoldExpr recurrence, CARRYING (s, n_alarms,
    *    max_s) forward. Types first seen after calibration are not
    *    monitored (documented: no parameters for them).
    *
    * Exactly-once is the standard versioned-store discipline: read
    * strictly below batchId, write your own version — a torn batch
    * retries idempotently because the fold re-runs from the same
    * carried state over the same hours. */
  def mergeCusumIntoState(batch: DataFrame, batchId: Long, stateBase: String,
      slackDiv: Int = 8, hMult: Int = 4): Unit = {
    val ss = batch.sparkSession
    val hourly = cusumHourly(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val gmaxRow = hourly.agg(max(col("hr"))).head()
      val prev = currentStateVersion(ss, stateBase, below = batchId)
      val newState = (prev, if (gmaxRow.isNullAt(0)) None else Some(gmaxRow.getLong(0))) match {
        case (None, None) => // no data yet AND no state: nothing to
          // calibrate — skip this version entirely and calibrate on the
          // first non-empty batch (an initial no-data trigger is normal
          // in Structured Streaming; crashing the query here is not)
          return
        case (Some(p), None) => // empty batch: state rides through
          ss.read.parquet(p)
        case (None, Some(gmax)) => // calibration
          hourly.groupBy("event_type").agg(min(col("hr")).as("h0"))
            .select(col("event_type"),
              explode(expr(s"sequence(h0, ${gmax}L)")).as("hr"))
            .join(hourly, Seq("event_type", "hr"), "left")
            .na.fill(0L, Seq("n"))
            .groupBy("event_type")
            .agg(expr("sum(n) * 10000L div count(1)").as("mu"))
            .select(col("event_type"), col("mu"),
              expr(s"mu div $slackDiv").as("slack"),
              expr(s"greatest(${hMult}L * mu, 1L)").as("h"),
              lit(gmax).as("last_hr"), lit(0L).as("n_obs"),
              lit(0L).as("s"), lit(0L).as("na"), lit(0L).as("mx"))
        case (Some(dir), Some(gmax)) => // monitor batch
          val st = ss.read.parquet(dir)
          val packed = st.select(col("event_type"), col("last_hr"))
            .filter(col("last_hr") < gmax)
            .select(col("event_type"),
              explode(expr(s"sequence(last_hr + 1L, ${gmax}L)")).as("hr"))
            .join(hourly, Seq("event_type", "hr"), "left")
            .na.fill(0L, Seq("n"))
            .groupBy("event_type")
            .agg(expr("transform(sort_array(collect_list(struct(hr, n))), x -> x.n)")
              .as("vals"))
          st.join(packed, Seq("event_type"), "left")
            .withColumn("vals",
              coalesce(col("vals"), expr("CAST(array() AS array<bigint>)")))
            .withColumn("st2",
              expr(graft.ops.Forecast.cusumFoldExpr("s", "na", "mx")))
            .select(col("event_type"), col("mu"), col("slack"), col("h"),
              greatest(col("last_hr"), lit(gmax)).as("last_hr"),
              (col("n_obs") + size(col("vals"))).as("n_obs"),
              col("st2.s").as("s"), col("st2.na").as("na"),
              col("st2.mx").as("mx"))
      }
      newState.write.mode("overwrite").parquet(s"$stateBase/v$batchId")
    } finally { hourly.unpersist(); () }
  }

  /** Streaming Holt forecaster — the CUSUM monitor's forecasting twin
    * and the second order-dependent state: the (level, trend) pair is
    * a fold, so the store carries (l, b, last_hr, n_obs) and each
    * micro-batch folds its dense hours on. Batch 1 seeds exactly like
    * the batch gate (l = y₀·S, b = (y₁−y₀)·S, y₁ re-enters); later
    * batches continue the fold — fold continuity means the final
    * state is IDENTICAL to the single-shot Holt over the concatenated
    * dense series, which is what the oracle recomputes (contract
    * caveat: a type with ONE point in batch 1 seeds b = 0 there,
    * where a single shot would seed from its second point — the
    * monitored feed always has a multi-hour calibration prefix).
    * Types first seen after batch 1 are not tracked. */
  def mergeHoltIntoState(batch: DataFrame, batchId: Long,
      stateBase: String): Unit = {
    val ss = batch.sparkSession
    val hourly = cusumHourly(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val gmaxRow = hourly.agg(max(col("hr"))).head()
      val prev = currentStateVersion(ss, stateBase, below = batchId)
      val newState = (prev, if (gmaxRow.isNullAt(0)) None else Some(gmaxRow.getLong(0))) match {
        case (None, None) => // no data AND no state: skip this version;
          // seed on the first non-empty batch (see cusum twin above)
          return
        case (Some(p), None) => // empty batch: state rides through
          ss.read.parquet(p)
        case (None, Some(gmax)) => // seed batch: whole-series holt fold
          hourly.groupBy("event_type").agg(min(col("hr")).as("h0"))
            .select(col("event_type"),
              explode(expr(s"sequence(h0, ${gmax}L)")).as("hr"))
            .join(hourly, Seq("event_type", "hr"), "left")
            .na.fill(0L, Seq("n"))
            .groupBy("event_type")
            .agg(expr("transform(sort_array(collect_list(struct(hr, n))), x -> x.n)")
              .as("vals"))
            .withColumn("st", expr(graft.ops.Forecast.holtFoldExpr(
              arr = "slice(vals, 2, size(vals) - 1)",
              l0 = "vals[0] * 10000L",
              b0 = "CASE WHEN size(vals) >= 2 THEN (vals[1] - vals[0]) * 10000L ELSE 0L END")))
            .select(col("event_type"), col("st.l").as("l"), col("st.b").as("b"),
              lit(gmax).as("last_hr"), size(col("vals")).cast("long").as("n_obs"))
        case (Some(dir), Some(gmax)) => // continuation: carry (l, b)
          val st = ss.read.parquet(dir)
          val packed = st.select(col("event_type"), col("last_hr"))
            .filter(col("last_hr") < gmax)
            .select(col("event_type"),
              explode(expr(s"sequence(last_hr + 1L, ${gmax}L)")).as("hr"))
            .join(hourly, Seq("event_type", "hr"), "left")
            .na.fill(0L, Seq("n"))
            .groupBy("event_type")
            .agg(expr("transform(sort_array(collect_list(struct(hr, n))), x -> x.n)")
              .as("vals"))
          st.join(packed, Seq("event_type"), "left")
            .withColumn("vals",
              coalesce(col("vals"), expr("CAST(array() AS array<bigint>)")))
            .withColumn("st2", expr(graft.ops.Forecast.holtFoldExpr(
              arr = "vals", l0 = "l", b0 = "b")))
            .select(col("event_type"), col("st2.l").as("l"), col("st2.b").as("b"),
              greatest(col("last_hr"), lit(gmax)).as("last_hr"),
              (col("n_obs") + size(col("vals"))).as("n_obs"))
      }
      newState.write.mode("overwrite").parquet(s"$stateBase/v$batchId")
    } finally { hourly.unpersist(); () }
  }

  /** Correctness gate for [[mergeHoltIntoState]]: median-hour split
    * like the CUSUM gate; fold continuity makes the final state equal
    * the single-shot Holt over each type's dense series extended to
    * the GLOBAL last hour — which is exactly what the oracle runs. */
  def holtViaFileSink(spark: SparkSession, sfDir: String): DataFrame =
    hourHalvesState(spark, sfDir, mergeHoltIntoState)
      .select(col("event_type"), col("n_obs"), col("l").as("level_x1e4"),
        col("b").as("trend_x1e4"),
        expr("l + 1L * b").as("fc1_x1e4"), expr("l + 2L * b").as("fc2_x1e4"),
        expr("l + 3L * b").as("fc3_x1e4"))
      .orderBy("event_type")

  /** The order-dependent-state gates' run (CUSUM, Holt): the events
    * fixture as two micro-batches split at the median hour, each
    * committed by `merge`; returns the final state version. */
  private def hourHalvesState(spark: SparkSession, sfDir: String,
      merge: (DataFrame, Long, String) => Unit): DataFrame = {
    val g = new StreamGate(spark, "tsplit")
    g.stage(g.hourHalves(sfDir))
    val state = g.dir("state")
    g.run(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1))
      .writeStream
      .option("checkpointLocation", g.checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => merge(b, id, state) }
      .start())
    spark.read.parquet(g.keep(g.lastVersion(state)))
  }

  /** Correctness gate for [[mergeCusumIntoState]]: the feed splits at
    * the midpoint HOUR (batch 1 = the calibration prefix, batch 2 =
    * the monitored tail), and the final state must equal the batch
    * recompute under the same calibrate-then-monitor contract —
    * a replayed/dropped batch or a fold that lost its place shifts
    * (n_obs, n_alarms, max_s, final_s). */
  def cusumViaFileSink(spark: SparkSession, sfDir: String): DataFrame =
    hourHalvesState(spark, sfDir, mergeCusumIntoState(_, _, _))
      .select(col("event_type"), col("mu").as("mu_x1e4"), col("n_obs"),
        col("na").as("n_alarms"), col("mx").as("max_s_x1e4"),
        col("s").as("final_s_x1e4"))
      .orderBy("event_type")

  /** Retire superseded state versions under `stateBase`, keeping the
    * newest `keep` (≥1). The versioned stores ([[materializeLatest]],
    * DocsStream's signature state) otherwise grow one full copy per
    * micro-batch. Keeping more than one version preserves the retry
    * window: batch N's re-run reads v<N-1>, so `keep = 2` is the
    * operational floor while a query is live; `keep = 1` is safe only
    * on a stopped query. Returns the deleted version dirs. */
  def vacuumStateVersions(spark: SparkSession, stateBase: String,
      keep: Int): Seq[String] = {
    require(keep >= 1, s"vacuumStateVersions: keep=$keep must be >= 1")
    val base = new org.apache.hadoop.fs.Path(stateBase)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else {
      val versions = fs.listStatus(base).toSeq
        .filter(_.isDirectory)
        .map(_.getPath)
        .flatMap(p => p.getName.stripPrefix("v").toLongOption.map(_ -> p))
        .sortBy(_._1)
      versions.dropRight(keep).map { case (_, p) =>
        fs.delete(p, true); p.toString
      }
    }
  }

  /** Highest-numbered `v<k>` state dir under `stateBase` with
    * `k < below`, if any. */
  def currentStateVersion(spark: SparkSession, stateBase: String,
      below: Long = Long.MaxValue): Option[String] = {
    val base = new org.apache.hadoop.fs.Path(stateBase)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) None
    else {
      val versions = fs.listStatus(base).toSeq
        .filter(_.isDirectory)
        .map(_.getPath)
        .flatMap(p => p.getName.stripPrefix("v").toLongOption.map(_ -> p))
        .filter(_._1 < below)
      versions.sortBy(_._1).lastOption.map(_._2.toString)
    }
  }

  /** Correctness gate for [[materializeLatest]]: batch 1 is the events
    * fixture; batch 2 is the SAME feed shifted +1 h with new event ids
    * and doubled values — an updates feed touching every key. The
    * final state version must hold, per user, the latest row of the
    * combined feed (every row from the shifted batch), matching the
    * window-top-1 oracle over the unioned feed. */
  def latestStateViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "cdc")
    val ts = TsLayout.of(g.ss, g.eventsPath(sfDir))
    g.stage(Seq(g.eventsFile(sfDir), StreamGate.Frame(g.events(sfDir)
      .withColumn("event_id", col("event_id") + 1000000L)
      .withColumn("ts", ts.fromMicros(ts.micros + StreamGate.HourMicros))
      .withColumn("value", col("value") * 2))))
    val state = g.dir("state")
    g.run(materializeLatest(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1)),
      state, g.checkpoint))
    spark.read.parquet(g.keep(g.lastVersion(state)))
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("event_id"), col("value"))
      .orderBy("user_id")
  }

  /** Correctness gate for [[sessionizeEventTime]]: stream the events
    * fixture (one micro-batch) followed by two sentinel micro-batches
    * whose event times sit 3 h and 6 h past the fixture maximum. The
    * first sentinel batch advances the watermark to the fixture max —
    * timing out every session more than `gap` behind it; the second
    * advances it 3 h further, closing the stragglers. Every REAL
    * session is therefore emitted exactly once through the Append-mode
    * parquet sink; the sentinel user's own session stays open (or is
    * filtered) and never reaches the result. Aggregated per user, the
    * sink must hash-match the batch gap-sessionization twin. */
  def sessionizeEventTimeViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "stream")
    g.stage(g.eventsFile(sfDir) +: g.sentinels(sfDir))
    import g.ss.implicits._
    val events = readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    g.run(g.appendSink(sessionizeEventTime(events).toDF()))
    spark.read.parquet(g.keep(g.out))
      .filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"),
        sum(col("duration_sec")).cast("long").as("total_duration_sec"))
      .orderBy("user_id")
  }

  /** Stream-static enrichment: each micro-batch of the event feed
    * joins the STATIC customer dimension (user_id → market segment) —
    * the stateless lookup every streaming pipeline front-ends. No
    * watermark and no join state: rows emit in the micro-batch they
    * arrive, the static side re-broadcasts per batch, and at any feed
    * rate the only cost is that broadcast of the small dim (unmatched
    * stream rows pass through null-padded, LEFT semantics). The gate
    * streams the staged fixture in three micro-batches through the
    * exactly-once parquet sink, then aggregates per segment — which
    * must equal the batch left-join twin; sentinel rows (user_id < 0)
    * are filtered in the gate aggregate, not the query, so they prove
    * the miss path emits. */
  def enrichViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "stream")
    g.stage(g.eventsFile(sfDir) +: g.sentinels(sfDir))
    val dim = g.ss.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    g.run(g.appendSink(readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1))
        .join(broadcast(dim), Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"), col("segment"),
          col("event_type"), col("value"))),
      recordAs = Some("events_stream_enrich"))
    spark.read.parquet(g.keep(g.out))
      .filter(col("user_id") >= 0)
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double")
          .as("total_value"))
      .orderBy("segment")
  }

  /** Correctness gate for the stream-stream join ([[purchaseViewJoin]]):
    * stream the events fixture as one micro-batch, self-join the
    * purchase and view sides through a parquet file sink, batch-read
    * the sink. Inner-join rows emit in the batch that matches them, so
    * a bounded run is complete without sentinel batches; the result
    * hash-matches the plain batch interval join the oracle runs. */
  def purchaseViewJoinViaFileSink(spark: SparkSession, sfDir: String): DataFrame =
    ssJoinGate(spark, sfDir, "inner", sentinels = false,
      gateName = "events_stream_join")

  /** LEFT-OUTER gate: unmatched purchases only emit their null-padded
    * row once the watermark has passed their join window (the engine
    * must be sure no matching view can still arrive), so the staged
    * input appends two sentinel micro-batches — each one purchase AND
    * one view far in the future, advancing BOTH branches' watermarks
    * (the query watermark is the min across branches; a single-type
    * sentinel would stall the other branch at its old value). Sentinel
    * rows are dropped from the output. */
  def purchaseViewJoinOuterViaFileSink(spark: SparkSession, sfDir: String): DataFrame =
    ssJoinGate(spark, sfDir, "left_outer", sentinels = true,
      gateName = "events_stream_join_outer")

  /** FULL-OUTER gate: BOTH sides' unmatched rows emit null-padded once
    * the watermark clears their window — unmatched views (no purchase
    * within the following hour) surface too, keyed via the coalesced
    * user id. Same dual-type sentinel staging as the left-outer gate. */
  def purchaseViewJoinFullViaFileSink(spark: SparkSession, sfDir: String): DataFrame =
    ssJoinGate(spark, sfDir, "full_outer", sentinels = true,
      gateName = "events_stream_join_full")

  private def ssJoinGate(spark: SparkSession, sfDir: String, joinType: String,
      sentinels: Boolean, gateName: String): DataFrame = {
    val g = new StreamGate(spark, "ssjoin")
    g.stage(g.eventsFile(sfDir) +:
      (if (sentinels) g.sentinels(sfDir, Seq("purchase", "view")) else Nil))
    g.run(g.appendSink(purchaseViewJoin(readEvents(g.ss, g.in,
        maxFilesPerTrigger = if (sentinels) Some(1) else None), joinType = joinType)),
      recordAs = Some(gateName))
    spark.read.parquet(g.keep(g.out))
      .filter(col("user_id") >= 0) // sentinel scaffolding, not data
      .orderBy("user_id", "purchase_id", "view_id")
  }

  /** Test/inspection harness only: the memory sink collects every
    * batch onto the driver — never a deployment path (that is
    * `runToFiles`). */
  def runToMemory(spark: SparkSession, inputDir: String, checkpoint: String,
      outTable: String): StreamingQuery =
    hourlyCounts(readEvents(spark, inputDir)).writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(outTable)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Correctness gate for the complete-mode notices re-rank
    * ([[topUsersByValue]]; reference app/page.tsx:181-192 and
    * admin/page.tsx:147 — the Firestore onSnapshot top-50 list,
    * re-sorted client-side on every snapshot): stage the events
    * fixture as TWO files split by event-id parity (the second a
    * later micro-batch), stream the groupBy → orderBy → limit in
    * COMPLETE output mode into a memory sink — every trigger re-emits
    * the full re-ranked top-k, exactly the onSnapshot contract — and
    * return the final snapshot. `value` is cast to decimal BEFORE the
    * sum so the ranking total is exact and associative: the top-k
    * boundary cannot flip on double summation order, which makes the
    * snapshot hash-matchable against the batch orderBy×2+limit twin.
    * Complete mode holds full aggregate state by design — the right
    * tool ONLY because the keyspace is capped at k-ish scale output;
    * unbounded-key streams use the Update/Append gates above. */
  def topUsersViaMemory(spark: SparkSession, sfDir: String, k: Int = 50)
      : org.apache.spark.sql.DataFrame = {
    val g = new StreamGate(spark, "rerank")
    g.stage(g.parityHalves(sfDir))
    val events = readEvents(g.ss, g.in, maxFilesPerTrigger = Some(1))
      .withColumn("value", col("value").cast("decimal(18,2)"))
    g.run(topUsersByValue(events, k).writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName("graft_top_users")
      .option("checkpointLocation", g.checkpoint)
      .start())
    g.clear()
    // complete mode: the memory table holds only the LATEST snapshot
    g.ss.table("graft_top_users")
      .select(col("user_id"),
        round(col("total_value"), 2).cast("double").as("total_value"),
        col("n_events"))
      .orderBy(desc("total_value"), asc("user_id"))
  }

  /** Correctness gate for the [[sessionize]] custom-state operator:
    * stream the events fixture as ONE micro-batch (single staged file,
    * no trigger cap) through mapGroupsWithState, so each user's group
    * sees its whole feed and emits exactly one Session row — per-user
    * event counts and time spans then mirror the plain batch
    * aggregate. mapGroupsWithState only supports Update output, which
    * file sinks reject ([SPARK] UnsupportedOperationChecker), so the
    * gate drives the documented memory-sink harness; the deployable
    * file-sink path is gated separately by [[hourlyViaFileSink]] /
    * [[dedupViaFileSink]]. Timeout disabled (gapMs=0): wall-clock
    * timers cannot cross the engine/oracle boundary. */
  def sessionizeViaMemory(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val g = new StreamGate(spark, "sess")
    g.stage(Seq(g.eventsFile(sfDir)))
    import g.ss.implicits._
    val events = readEvents(g.ss, g.in)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    g.run(sessionize(events, gapMs = 0).writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName("graft_sessions")
      .option("checkpointLocation", g.checkpoint)
      .start())
    // the memory sink's rows live on the driver (harness contract)
    g.clear()
    g.ss.table("graft_sessions")
      .select(col("user_id"), col("n_events"), col("duration_sec"))
      .orderBy("user_id")
  }
}

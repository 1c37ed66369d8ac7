package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.core.Scratch

/** One run of a streaming correctness gate: its scratch, its session,
  * its staged micro-batches and its teardown.
  *
  *  - The base dir is a [[Scratch]] dir, so whatever a failed run
  *    leaves behind is swept at JVM exit.
  *  - `ss` is a clone of the caller's session: it shares the
  *    SparkContext (executors, cache) but owns its runtime conf and
  *    catalog, so the gate's settings and memory-sink tables never
  *    leak into the caller's session. A set/restore on the shared
  *    session would race every other query on it, because a stream
  *    plans micro-batches asynchronously after start().
  *  - State partitioning: the gates' stateful operators key on
  *    O(hundreds) of groups at any data scale, so inheriting the
  *    caller's shuffle partitioning (32 in the bench) would make every
  *    micro-batch commit that many near-empty state-store deltas and
  *    sink files. The clone pins 4; a deployment sizes this to key
  *    cardinality × ingest rate, and the checkpoint locks it for the
  *    query's lifetime either way.
  *  - `nanosAsLong` lets the clone read the events fixture's
  *    TIMESTAMP(NANOS) column (see [[EventsStream.TsLayout]]). */
private[streaming] final class StreamGate(spark: SparkSession, name: String) {
  import StreamGate._

  private val base = Scratch.dir(s"graft_${name}_gate")
  private val inDir = Files.createDirectories(base.resolve("in"))

  val ss: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  /** The watched input dir the stream reads. */
  val in: String = inDir.toString

  val checkpoint: String = dir("ckpt")

  /** The parquet sink dir of [[appendSink]]. */
  val out: String = dir("out")

  /** A path under the gate's scratch (state base, …). */
  def dir(child: String): String = base.resolve(child).toString

  /** Start `df` streaming into the parquet sink at [[out]] in Append
    * mode (exactly-once via the checkpoint + file-sink log). */
  def appendSink(df: DataFrame): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Stage `batches` into the watched dir as one file each, with
    * strictly increasing mtimes: the file source orders files by
    * modification time, so with `maxFilesPerTrigger = 1` each batch is
    * its own micro-batch, in list order. */
  def stage(batches: Seq[Batch]): Unit = {
    val t0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (b, i) =>
      val dst = inDir.resolve(f"b$i%02d.parquet")
      b match {
        case Copy(path) => Files.copy(Paths.get(path), dst)
        case Frame(df) =>
          val tmp = base.resolve("stage")
          df.coalesce(1).write.parquet(tmp.toString)
          val l = Files.list(tmp)
          val part = try l.filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst.get finally l.close()
          Files.move(part, dst)
          Scratch.delete(tmp)
      }
      Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + i * 10000L))
    }
  }

  /** Drive `q` through everything staged, then stop it. A gate named
    * by `recordAs` is settled first and its progress totals land in
    * [[EventsStream.gateMetrics]] under that name. */
  def run(q: StreamingQuery, recordAs: Option[String] = None): Unit = {
    try { q.processAllAvailable(); if (recordAs.nonEmpty) quiesce(q) }
    finally q.stop()
    recordAs.foreach(recordGateMetrics(_, q))
  }

  /** Delete the gate's scratch — staged input, checkpoint, superseded
    * state versions — except `result`, the directory the gate's
    * returned DataFrame reads lazily. Returns `result`. */
  def keep(result: String): String = {
    val kept = Paths.get(result)
    def sweep(d: Path): Unit = {
      val l = Files.list(d)
      val children = try l.iterator.asScala.toList finally l.close()
      children.foreach { c =>
        if (!kept.startsWith(c)) Scratch.delete(c)
        else if (c != kept) sweep(c)
      }
    }
    sweep(base)
    result
  }

  /** Delete all of the gate's scratch: for results held on the driver
    * (memory sinks, progress records). */
  def clear(): Unit = Scratch.delete(base)

  /** The newest version dir under `stateBase` once the query stopped —
    * the versioned-state gates' result. */
  def lastVersion(stateBase: String): String = {
    val v = EventsStream.currentStateVersion(ss, stateBase).get
    Paths.get(stateBase, new org.apache.hadoop.fs.Path(v).getName).toString
  }

  // ---- the events fixture as batch lists ----

  def eventsPath(sfDir: String): String = s"$sfDir/events.parquet"

  /** The events fixture in its physical layout. */
  def events(sfDir: String): DataFrame = ss.read.parquet(eventsPath(sfDir))

  /** The events fixture, copied verbatim. */
  def eventsFile(sfDir: String): Batch = Copy(eventsPath(sfDir))

  /** Two watermark sentinel batches 3 h and 6 h past the fixture's max
    * event time, each one row per entry of `types`, all for user −1,
    * written in the fixture's own ts layout so the one declared stream
    * schema reads fixture and sentinels alike. Append mode only emits
    * a window once the watermark passes its end: the second sentinel's
    * batch runs with the watermark past every real window, so all of
    * them emit without relying on no-data batches, while the
    * sentinels' own windows never close. A stream-stream join takes
    * the min watermark across its branches, so it needs a sentinel of
    * each side's type. */
  def sentinels(sfDir: String, types: Seq[String] = Seq("sentinel")): Seq[Batch] = {
    val ts = EventsStream.TsLayout.of(ss, eventsPath(sfDir))
    val maxMicros = events(sfDir).agg(max(ts.micros)).head.getLong(0)
    Seq(1, 2).map { i =>
      Frame(ss.range(types.size).select(
        (-(col("id") * types.size + i)).as("event_id"),
        ts.fromMicros(lit(maxMicros + 3L * i * HourMicros)).as("ts"),
        lit(-1L).as("user_id"),
        element_at(typedLit(types), col("id").cast("int") + 1).as("event_type"),
        lit(0.0).as("value"), lit("").as("props")))
    }
  }

  /** The events fixture split by event-id parity: even ids, then odd. */
  def parityHalves(sfDir: String): Seq[Batch] =
    halves(events(sfDir), pmod(col("event_id"), lit(2)) === 0)

  /** The events fixture split at the midpoint hour: the earlier half,
    * then the later. */
  def hourHalves(sfDir: String): Seq[Batch] = {
    val ts = EventsStream.TsLayout.of(ss, eventsPath(sfDir))
    val ev = events(sfDir)
    val hr = (graft.ops.Resample.epochSec(ts.timestamp) / 3600L).cast("long")
    val r = ev.agg(min(hr), max(hr)).head()
    halves(ev, hr < (r.getLong(0) + r.getLong(1) + 1) / 2)
  }

  /** Rows of `df` where `first` holds, then the rest. */
  def halves(df: DataFrame, first: Column): Seq[Batch] =
    Seq(Frame(df.filter(first)), Frame(df.filter(!first)))
}

private[streaming] object StreamGate {

  /** One staged micro-batch: a parquet file copied verbatim, or a
    * DataFrame written as one file. */
  sealed trait Batch
  final case class Copy(path: String) extends Batch
  final case class Frame(df: DataFrame) extends Batch

  val HourMicros: Long = 3600L * 1000 * 1000

  /** Deterministically settle a stream before stop(): after
    * processAllAvailable() returns, a trailing NO-DATA micro-batch
    * (watermark state eviction) may still be mid-flight — stopping
    * then would make state_rows_final depend on a race. Poll until no
    * trigger is active and the progress count holds steady across two
    * consecutive reads (bounded; a stream that keeps scheduling
    * batches exits via the deadline and the ring assert in
    * [[recordGateMetrics]] documents the exposure). */
  private def quiesce(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    var last = -1
    var stable = false
    while (!stable && System.nanoTime() < deadline) {
      val n = q.recentProgress.length
      if (n == last && !q.status.isTriggerActive && !q.status.isDataAvailable)
        stable = true
      else { last = n; Thread.sleep(100) }
    }
  }

  /** Fold a finished query's `recentProgress` ring into the three
    * deterministic totals: rows ingested across all batches, rows the
    * watermark dropped, and the state rows REMAINING after the last
    * stateful batch (what an executor must hold at steady state — the
    * 100 TB figure). The file sink reports no usable numOutputRows,
    * and output content is already hash-locked by the correctness
    * gate, so no output metric is recorded. */
  private def recordGateMetrics(name: String, q: StreamingQuery): Unit = {
    val ps = q.recentProgress.toSeq
    // recentProgress is a bounded ring (spark.sql.streaming
    // .numRecentProgressUpdates, default 100): summing it is only
    // sound while every batch of the run is still present. The gated
    // fixtures run ~10-40 micro-batches; fail loudly well before the
    // ring would silently truncate the sums.
    require(ps.length <= 80,
      s"$name: ${ps.length} progress entries approaching the 100-entry " +
        "recentProgress ring — gate sums would silently truncate; raise " +
        "numRecentProgressUpdates or batch the fixture coarser")
    val stateRowsFinal = ps.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty =>
        p.stateOperators.map(_.numRowsTotal).sum
    }.getOrElse(0L)
    EventsStream.gateMetrics(name) = Map(
      "input_rows" -> ps.map(_.numInputRows).sum,
      "dropped_by_watermark" ->
        ps.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum,
      "state_rows_final" -> stateRowsFinal)
  }
}

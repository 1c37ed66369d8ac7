package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Per-round benchmark: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Results are
  * materialized through the noop sink — every row is fully computed
  * and serialized by the executors (a bare count() would let Spark
  * skip projected columns and under-report).
  *
  * Each query's number is the MIN over SPARK_GRAFT_BENCH_REPEAT runs
  * (default 2): single-run timings on a shared local[32] box swing up
  * to several × from contention and JIT alone, and the min is the
  * standard low-variance estimator of a query's true cost. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: session/codegen/JIT startup otherwise lands on
    // whichever query sorts first and misattributes ~4 s to it.
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    // Optional args filter: `runMain graft.Bench dedup_minhash ...`
    // times just the named queries (iteration aid; the driver passes none).
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "2").toInt.max(1)
    // The stream-stream join family's wall-clock is micro-batch
    // scheduling, not data (r17: 2-6x swings on identical code under
    // full-suite load) — min-of-4 shrinks the noise floor, and the
    // artifact additionally records their deterministic progress
    // totals (stream_metrics below) which check_bench.py gates on
    // exactly, with wall-clock only a soft ceiling.
    val noisyStreaming = Set("events_stream_join", "events_stream_join_outer",
      "events_stream_join_full", "events_stream_enrich")
    // Repeats run as INTERLEAVED PASSES over the whole suite (pass 1
    // of every query, then pass 2, ...), not back-to-back per query:
    // co-tenant load arrives in multi-minute spikes, and consecutive
    // repeats all land inside the same spike — the r18 full closes
    // each showed a different alphabetically-contiguous breach window
    // (d–e queries in one run, m–p in the other) while targeted pairs
    // read every one of them clean. With passes ~20 min apart, a
    // query's min is only poisoned if EVERY pass hits a spike.
    val order = selected.toSeq.sortBy(_._1)
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        // Only NonFatal: an OOM or other VM error ends the run with a
        // non-zero exit instead of reading as one more -1.0 query.
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // Queries that persist intermediates (dedup, ANN) must not hold
      // cache into the next run's timing — every run starts cold.
      spark.catalog.clearCache()
      // Heap isolation: without this, the GC/JIT churn a heavy query
      // leaves behind lands on whichever small query runs next (the
      // r5 bench showed sub-second queries breaching their gates
      // right after the 15 s dedup block). One explicit collection
      // between timed runs keeps min-of-N a steady-state estimate.
      System.gc()
      if (ok) sec else -1.0
    }
    // One untimed run of the canary (dedup_exact, the drift yardstick
    // below): it sorts first in a subset run and would otherwise time a
    // cold JVM, inflating the drift every other ratio is divided by.
    selected.get("dedup_exact").foreach(timeOnce("dedup_exact", _))
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // Guard the empty selection (args naming no registered query):
    // emit an empty artifact rather than crash on .max of Nil.
    val maxReps =
      if (order.isEmpty) 0
      else order.map { case (n, _) =>
        if (noisyStreaming(n)) repeat.max(4) else repeat }.max
    (1 to maxReps).foreach { pass =>
      order.foreach { case (name, fn) =>
        val reps = if (noisyStreaming(name)) repeat.max(4) else repeat
        if (pass <= reps) samples(name) = timeOnce(name, fn) :: samples(name)
      }
    }
    val results = order.map { case (name, _) =>
      val secs = samples(name)
      name -> (if (secs.contains(-1.0)) -1.0 else secs.min)
    }
    // 3-decimal seconds: full Double toString bloats the JSON line
    // ~40% and the extra digits are far below run-to-run noise; a
    // shorter line survives stdout-tail truncation better.
    def r3(v: Double): String =
      if (v < 0) "-1.0" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // repeat/estimator metadata makes the artifact self-describing:
    // a reader comparing rounds can tell min-of-2 from single-run.
    // The canary (dedup_exact: one hash aggregate, workload frozen
    // since r5) is the box-drift yardstick — tools/check_bench.py
    // adjudicates 2x-gate breaches against it instead of raw ratios.
    val canary = results.collectFirst { case ("dedup_exact", v) if v >= 0 => v }
    // Noise-free companion figures for the streaming gates: the
    // deterministic progress totals of each instrumented query's last
    // run (EventsStream.gateMetrics) — the numbers a loaded box
    // cannot fake.
    val streamMetrics = results.flatMap { case (name, _) =>
      graft.streaming.EventsStream.gateMetrics.get(name).map { m =>
        "\"" + name + "\":" + m.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      }
    }
    val sm = if (streamMetrics.isEmpty) ""
      else s""""stream_metrics":${streamMetrics.mkString("{", ",", "}")},"""
    // The global "runs" is the configured repeat; noisyStreaming
    // queries run max(repeat, 4) passes — record their actual sample
    // counts separately so the artifact's estimator depth is exact
    // for the very queries whose min-of-N matters most.
    val streamRuns = order.collect { case (n, _) if noisyStreaming(n) =>
      "\"" + n + "\":" + samples(n).size }
    val sr = if (streamRuns.isEmpty) ""
      else s""""stream_runs":${streamRuns.mkString("{", ",", "}")},"""
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$repeat,$sr""" +
      canary.map(c => s""""canary":${r3(c)},""").getOrElse("") + sm +
      s""""estimator":"min","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // The driver captures stdout tails that can truncate the first
    // queries of the JSON line; persist the whole line to a file the
    // driver (and the judge) can read machine-complete. The default
    // path holds a full run only: a subset run writes a file only when
    // SPARK_GRAFT_BENCH_OUT names one.
    sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (args.isEmpty) Some("BENCH_FULL.json") else None)
      .foreach(out => java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes("UTF-8")))
    // Lossless per-round artifacts. The round number comes from
    // SPARK_GRAFT_ROUND when set (the unambiguous path); otherwise it
    // is inferred as newest CORRECTNESS_r{N}.json + 1 — an inference
    // that is only sound while the current round's CORRECTNESS file
    // has not landed yet, so a post-landing rerun must not trust it.
    // Two writes:
    //   BENCH_r{N}_builder.json — the builder's own structured copy,
    //     a path the driver never touches (the r16 driver rerun
    //     overwrote the committed BENCH_r16.json with its legacy
    //     truncated-tail form; this path survives that).
    //     tools/check_bench.py prefers it when present.
    //   BENCH_r{N}.json — only written when it does not already
    //     exist or the round was given explicitly; an existing
    //     canonical artifact is never clobbered by a guessed round.
    // Round artifacts describe the driver's sf0.1 protocol run; a full
    // run against another fixture (the sf1 standing refresh) must not
    // clobber them — it keeps its explicit SPARK_GRAFT_BENCH_OUT only.
    val sfBasename =
      java.nio.file.Paths.get(sfDir).normalize().getFileName match {
        case null => ""
        case p    => p.toString
      }
    if (args.isEmpty && sfBasename == "sf0.1") {
      val explicit = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption)
      val inferred = {
        val rn = "CORRECTNESS_r(\\d+)\\.json".r
        val prev = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .flatMap(f => rn.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        if (prev.nonEmpty) Some(prev.max + 1) else None
      }
      explicit.orElse(inferred).foreach { round =>
        def write(p: String): Unit =
          java.nio.file.Files.write(java.nio.file.Paths.get(p),
            (line + "\n").getBytes("UTF-8"))
        write(f"BENCH_r$round%02d_builder.json")
        val canonical = f"BENCH_r$round%02d.json"
        if (explicit.isDefined ||
            !java.nio.file.Files.exists(java.nio.file.Paths.get(canonical)))
          write(canonical)
      }
    }
    spark.stop()
  }
}

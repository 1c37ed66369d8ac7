package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** One JVM, one closed-loop client: runs a workload's registered queries
  * one after another through the noop sink and writes what it measured as
  * JSON for perfbench/run.py.
  *
  *   --inputs DIR       generated input tables (the only data the queries see)
  *   --queries a,b,...  registered query names, in run order
  *   --passes N         timed passes
  *   --trace 0|1        1: N more passes run traced, interleaved with the
  *                      untraced ones (U T T U U T ...)
  *   --cpus K           local[K] and shuffle partitions
  *   --check-dir DIR    each query's result as parquet, plus oracle_sql.json
  *   --local-dir DIR, --warehouse DIR, --out FILE
  *
  * Order: session start; one untimed pass that writes every query's
  * result for the oracle check (each query's first execution: it loads
  * the inputs and warms the JIT and the codegen caches); then the timed
  * passes. Set-up is everything before the first timed query. Only
  * NonFatal errors count as a failed query; an OutOfMemoryError ends the
  * JVM with a non-zero exit. */
object Runner {
  private val json = new ObjectMapper()

  final case class QueryRun(query: String, pass: Int, traced: Boolean, ok: Boolean,
                            wallS: Double, cpuS: Double, processCpuS: Double, allocMb: Double,
                            gcS: Double, jitS: Double, startMs: Long, endMs: Long)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private val jit = ManagementFactory.getCompilationMXBean
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val os =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU nanoseconds and allocated bytes of every live Java thread: the
    * query-planning thread and Spark's task and service threads, but not
    * the JVM's own JIT compiler and GC threads. A thread that ends inside
    * a query takes its share with it; Spark's task and shuffle pools keep
    * idle threads for 60 s, so within a query their threads stay alive. */
  private def perThread(): Map[Long, (Long, Long)] = {
    val ids = threads.getAllThreadIds
    ids.zip(ids.map(threads.getThreadCpuTime).zip(threads.getThreadAllocatedBytes(ids)))
      .filter { case (_, (cpu, alloc)) => cpu >= 0 && alloc >= 0 }.toMap
  }
  private def perThreadSince(before: Map[Long, (Long, Long)]): (Long, Long) =
    perThread().iterator.map { case (id, (cpu, alloc)) =>
      val (cpu0, alloc0) = before.getOrElse(id, (0L, 0L))
      (cpu - cpu0, alloc - alloc0)
    }.foldLeft((0L, 0L)) { case ((c, a), (dc, da)) => (c + dc, a + da) }

  /** Largest heap in use right after a collection, over the collections
    * that end while `watching` is set. */
  private object HeapAfterGc extends NotificationListener {
    @volatile var watching = false
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = gcBeans.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peakBytes) peakBytes = used
      }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val inputs = opt("inputs")
    val names = opt("queries").split(",").toSeq
    val passes = opt("passes").toInt
    val tracing = opt("trace") == "1"
    val cpus = opt("cpus")
    val checkDir = opt("check-dir")

    val registry = graft.SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"not registered in graft.SparkEntry.queries: ${unknown.mkString(",")}")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local-dir"))
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceStart(): Double =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sessionS = sinceStart()

    // A query that throws here writes no output, which the oracle check
    // reports as a failure.
    names.foreach { n =>
      try registry(n)(spark, inputs).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $n failed in the check pass: $e") }
      finally spark.catalog.clearCache()
    }
    val oracles = graft.SparkEntry.oracleSql
    json.writeValue(new File(checkDir, "oracle_sql.json"),
      names.flatMap(n => oracles.get(n).map(n -> _)).toMap.asJava)

    val trace = new Trace
    def runPass(pass: Int, tracing: Boolean): Seq[QueryRun] = names.map { n =>
      if (tracing) Bus.post(spark.sparkContext, QueryMark(n, pass))
      val (threads0, gc0, jit0, process0) =
        (perThread(), gcMs, jit.getTotalCompilationTime, os.getProcessCpuTime)
      val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
      val ok =
        try { registry(n)(spark, inputs).write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(e) => System.err.println(s"[perfbench] $n failed in pass $pass: $e"); false }
      val (t1, w1) = (System.nanoTime(), System.currentTimeMillis())
      val (process1, (cpuNs, allocBytes), gc1, jit1) =
        (os.getProcessCpuTime, perThreadSince(threads0), gcMs, jit.getTotalCompilationTime)
      // A full collection between timed queries keeps one query's garbage
      // out of the next one's time.
      spark.catalog.clearCache()
      System.gc()
      QueryRun(n, pass, tracing, ok, (t1 - t0) / 1e9, cpuNs / 1e9, (process1 - process0) / 1e9,
        allocBytes / 1048576.0, (gc1 - gc0) / 1e3, (jit1 - jit0) / 1e3, w0, w1)
    }
    def traced(body: => Seq[QueryRun]): Seq[QueryRun] = {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
      try body
      finally {
        Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
      }
    }

    val setupS = sinceStart()
    HeapAfterGc.install()
    // Untraced pass i is pass i; its traced twin is pass passes + i. The
    // pairs alternate which runs first, so that neither side gets all the
    // later, warmer passes.
    val timedRuns = (1 to passes).flatMap { i =>
      def untraced = {
        HeapAfterGc.watching = true
        try runPass(i, tracing = false) finally HeapAfterGc.watching = false
      }
      if (!tracing) untraced
      else if (i % 2 == 1) untraced ++ traced(runPass(passes + i, tracing = true))
      else traced(runPass(passes + i, tracing = true)) ++ untraced
    }

    val runs = timedRuns.map { r =>
      val counts = trace.byQuery.get((r.query, r.pass)).map { c =>
        Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "executor_cpu_s" -> c.executorCpuNs / 1e9, "plan_s" -> c.planMs / 1e3,
          "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_write_records" -> c.shuffleWriteRecords,
          "spill_bytes" -> c.spillBytes, "input_bytes" -> c.inputBytes, "output_bytes" -> c.outputBytes,
          "peak_exec_mem_bytes" -> c.peakExecMemBytes, "actions" -> c.actions,
          "serial_s" -> ((r.endMs - r.startMs) - c.jobCoveredMs(r.startMs, r.endMs)).max(0L) / 1e3)
      }.getOrElse(Nil)
      (Seq("query" -> r.query, "pass" -> r.pass, "traced" -> r.traced, "ok" -> r.ok,
        "wall_s" -> r.wallS, "cpu_s" -> r.cpuS, "process_cpu_s" -> r.processCpuS,
        "alloc_mb" -> r.allocMb, "gc_s" -> r.gcS, "jit_s" -> r.jitS) ++ counts).toMap.asJava
    }
    json.writeValue(new File(opt("out")), Map(
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "heap_peak_mb" -> HeapAfterGc.peakBytes / 1048576.0,
      "runs" -> runs.asJava).asJava)
    spark.stop()
  }
}

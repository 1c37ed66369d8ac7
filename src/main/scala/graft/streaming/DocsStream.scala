package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.llm.Dedup

/** Streaming corpus ingest with incremental near-dup detection — the
  * deployable shape of [[graft.llm.Dedup.incrementalDupPairs]]: a
  * document stream lands in micro-batches, each batch dedups against
  * the corpus's compact MinHash signature state, emits its duplicate
  * pairs, and commits an updated state version. Old text is never
  * reprocessed; per-batch work scales with the batch, the state scan,
  * and nothing else.
  *
  * Exactly-once: the same versioned-state mechanism as
  * [[EventsStream.materializeLatest]] — each batch reads the newest
  * state STRICTLY BELOW its own id (a retry reads what the first
  * attempt read) and overwrites `v<batchId>` and `pairs/b<batchId>`,
  * both keyed by batch id, so re-running a torn batch reproduces the
  * identical output instead of duplicating it. Pair emission is an
  * OVERWRITE of the batch-id-keyed subdir, not an append, for exactly
  * that reason. */
object DocsStream {

  /** Start the ingest stream. `initialState` (a [[Dedup.minhashState]]
    * relation for the pre-existing corpus) seeds `stateBase/v-1`;
    * each micro-batch of (id, text) docs appends pairs under
    * `pairsOut/b<batchId>` and commits `stateBase/v<batchId>`. */
  def incrementalDedup(docs: DataFrame, initialState: DataFrame,
      stateBase: String, pairsOut: String, checkpoint: String,
      k: Int = 8, bands: Int = 4,
      threshold: Double = 0.5): StreamingQuery = {
    // Seeding is idempotent: same input → same bytes; a restart
    // overwrites v-1 with identical content before any batch reads it.
    initialState.write.mode("overwrite").parquet(s"$stateBase/v-1")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupBatch(batch, batchId, stateBase, pairsOut, k, bands, threshold)
      }
      .start()
  }

  /** One micro-batch commit (factored out for direct retry testing):
    * state_{<batchId} + batch → pairs/b<batchId> + state v<batchId>. */
  def dedupBatch(batch: DataFrame, batchId: Long, stateBase: String,
      pairsOut: String, k: Int, bands: Int, threshold: Double): Unit = {
    val ss = batch.sparkSession
    val stateDir = EventsStream.currentStateVersion(ss, stateBase,
      below = batchId).getOrElse(throw new IllegalStateException(
      s"DocsStream: no state version below $batchId under $stateBase"))
    val state = ss.read.parquet(stateDir)
    // one signature scan feeds both the pair search and the new state
    val sigs = Dedup.minhashState(batch, "id", "text", k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Dedup.incrementalDupPairsFromSigs(state, sigs, k, bands, threshold)
        .write.mode("overwrite").parquet(s"$pairsOut/b$batchId")
      state.unionByName(sigs)
        .write.mode("overwrite").parquet(s"$stateBase/v$batchId")
    } finally sigs.unpersist(blocking = false): Unit
  }

  /** Correctness gate: the originals are the pre-seeded corpus state;
    * the shifted near-dup copies arrive as a STREAM in two
    * micro-batches (two staged files, maxFilesPerTrigger=1). The union
    * of per-batch pair emissions must equal the single-shot
    * [[Dedup.incrementalDupPairs]] over the whole batch — the
    * sequential≡single-shot property LlmSpec proves in-memory, here
    * driven through a real file-source stream with checkpointing and
    * versioned state. */
  def incrementalDedupViaFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val g = new StreamGate(spark, "docdedup")
    val d = g.ss.read.parquet(s"$sfDir/documents.parquet")
    val batchDocs = d.select((col("doc_id") + 1000000).as("id"),
      when(col("doc_id") % 50 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" zzz9"))).as("text"))
    val half = d.agg(percentile_approx(col("doc_id"), lit(0.5), lit(100)))
      .head().getLong(0) + 1000000L
    g.stage(g.halves(batchDocs, col("id") < half))
    val stream = g.ss.readStream.schema(g.ss.read.parquet(g.in).schema)
      .option("maxFilesPerTrigger", "1").parquet(g.in)
    val pairs = g.dir("pairs")
    g.run(incrementalDedup(stream,
      Dedup.minhashState(d.select(col("doc_id").as("id"), col("text")),
        "id", "text"),
      g.dir("state"), pairs, g.checkpoint))
    g.ss.read.option("recursiveFileLookup", "true").parquet(g.keep(pairs))
      .orderBy("a", "b")
  }
}

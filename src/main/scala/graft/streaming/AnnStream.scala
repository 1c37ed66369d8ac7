package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.llm.Ann

/** Streaming vector retrieval — the serving shape of the IVF index:
  * query embeddings arrive in micro-batches and each batch probes a
  * STATIC prebuilt index (centroids broadcast, corpus bucket
  * assignments computed once and cached), emitting per-query top-k
  * under a batch-id-keyed dir. Stateless per batch: no watermark, no
  * state store — the index IS the state and it is immutable, so a
  * torn-batch retry recomputes the identical result and the keyed
  * overwrite makes the emission idempotent (same mechanism as
  * [[DocsStream]], minus the evolving state).
  *
  * At scale this is the retrieval tier's plan: the corpus-side
  * assignment (the only pass that touches every vector) runs at
  * index-build time; each serving batch pays O(batch × nprobe ×
  * bucket) — independent of corpus size per probe. */
object AnnStream {

  /** Start the retrieval stream. `queries` is a streaming (qid, qe)
    * relation; the index is (corpus assigned buckets, centroids). */
  def retrieve(queries: DataFrame, assigned: DataFrame, centroids: DataFrame,
      outDir: String, checkpoint: String, k: Int = 10, nprobe: Int = 2)
      : StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Ann.ivfTopKPreassigned(batch, assigned, centroids, k, nprobe)
          .write.mode("overwrite").parquet(s"$outDir/b$batchId")
      }
      .start()

  /** Correctness gate: build the IVF index over the embeddings fixture
    * once, stream six query vectors through in two micro-batches, and
    * require the union of emissions to equal the single-shot
    * [[Ann.ivfTopK]] over the same six queries — which is what the
    * oracle recomputes. */
  def retrieveViaFileSink(spark: SparkSession, sfDir: String, nCentroids: Int,
      lloydIters: Int, k: Int, nprobe: Int): DataFrame = {
    val g = new StreamGate(spark, "annstream")
    val e = g.ss.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.select(col("vec_id"), col("embedding").as("ce"))
    val centroids = Ann.ivfCentroids(corpus, nCentroids, lloydIters)
    val assigned = Ann.assignBuckets(corpus, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    g.stage(g.halves(queries, col("qid") < 3))
    val stream = g.ss.readStream.schema(g.ss.read.parquet(g.in).schema)
      .option("maxFilesPerTrigger", "1").parquet(g.in)
    try g.run(retrieve(stream, assigned, centroids, g.out, g.checkpoint, k, nprobe))
    finally assigned.unpersist(blocking = false): Unit
    g.ss.read.option("recursiveFileLookup", "true").parquet(g.keep(g.out))
      .select("qid", "vec_id", "cos_x1e4", "rank")
      .orderBy("qid", "rank")
  }
}

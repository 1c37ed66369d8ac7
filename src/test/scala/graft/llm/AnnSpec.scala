package graft.llm

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** IVF quality + determinism. The shared `embeddings` fixture is
  * isotropic (no cluster structure — worst case for any partitioned
  * ANN), so the recall gate here uses a separable synthetic corpus:
  * 10 well-separated centers with small noise, the regime real
  * embedding corpora live in. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val nClusters = 10
  private val perCluster = 50

  /** Deterministic clustered corpus: center c = ±1 pattern per cluster,
    * members = center + N(0, 0.15) noise. */
  private lazy val clustered = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(nClusters, dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    val rows = for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * perCluster + i).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "ce")
  }

  test("IVF recall >= 0.9 on clustered embeddings (nprobe=2, 10 buckets)") {
    val corpus = clustered
    val cent = Ann.ivfCentroids(corpus, nClusters, iters = 2).cache()
    val q = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val ivf = Ann.ivfTopK(q, corpus, cent, k = 10, nprobe = 2)
    val brute = Ann.cosineTopK(q, corpus, k = 10)
    val rec = Ann.recallVsBrute(ivf, brute, k = 10)
      .agg(avg(col("recall_x1e4"))).head().getDouble(0) / 10000.0
    assert(rec >= 0.9, s"avg recall $rec < 0.9")
  }

  test("PQ ADC recall on clustered embeddings (m=4, ksub=8) beats the random floor") {
    val corpus = clustered
    val cb = Ann.pqCodebooks(corpus, m = 4, ksub = 8, iters = 2)
    val enc = Ann.pqEncode(corpus, cb)
    val q = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val pq = Ann.pqTopK(q, enc, cb, k = 10)
    val brute = Ann.cosineTopK(q, corpus, k = 10)
    val rec = Ann.recallVsBrute(pq, brute, k = 10)
      .agg(avg(col("recall_x1e4"))).head().getDouble(0) / 10000.0
    info(s"PQ ADC recall@10: $rec")
    // Within a tight cluster PQ collapses members onto a handful of
    // reconstructions, so WITHIN-cluster order degrades to the vec_id
    // tie-break — that is the documented reason ADC gets an exact
    // re-rank stage. What ADC must get right unaided is the coarse
    // geometry: every top-10 hit comes from the query's own true
    // cluster (random would cross clusters 90% of the time).
    val hits = pq.select(col("qid"), col("vec_id")).collect()
    assert(hits.nonEmpty)
    hits.foreach { r =>
      assert(r.getLong(0) / perCluster == r.getLong(1) / perCluster,
        s"qid ${r.getLong(0)} pulled cross-cluster hit ${r.getLong(1)}")
    }
  }

  test("PQ + exact re-rank restores recall >= 0.9 (shortlist = cluster size)") {
    val corpus = clustered
    val cb = Ann.pqCodebooks(corpus, m = 4, ksub = 8, iters = 2)
    val enc = Ann.pqEncode(corpus, cb)
    val q = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val rr = Ann.pqTopKReranked(q, enc, cb, corpus, k = 10, shortlist = 50)
    val brute = Ann.cosineTopK(q, corpus, k = 10)
    val rec = Ann.recallVsBrute(rr, brute, k = 10)
      .agg(avg(col("recall_x1e4"))).head().getDouble(0) / 10000.0
    info(s"PQ+rerank recall@10: $rec")
    assert(rec >= 0.9, s"PQ+rerank recall $rec < 0.9")
  }

  test("IVFPQ MIPS: every hit stays in the query's own cluster; end-to-end deterministic") {
    val corpus = clustered
    val cent = Ann.ivfCentroids(corpus, nClusters, iters = 2)
    val res = Ann.ivfResiduals(corpus, cent)
    val cb = Ann.pqCodebooks(
      res.select(col("vec_id"), col("re").as("ce")), m = 4, ksub = 8,
      iters = 2, seed = "ivfpq")
    val enc = Ann.pqEncode(res.select(col("vec_id"), col("re").as("ce")), cb)
      .join(res.select("vec_id", "bucket"), Seq("vec_id"))
      .select(col("vec_id"), col("bucket"), col("codes"))
    val q = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val hits = Ann.ivfpqTopK(q, cent, cb, enc, k = 10, nprobe = 2)
      .select(col("qid"), col("vec_id"), col("rank")).collect()
    assert(hits.nonEmpty)
    // coarse geometry: on 10 well-separated clusters with clean Lloyd
    // recovery, the MIPS top-10 under probed-bucket candidates comes
    // from the query's true cluster
    val crossCluster = hits.count(r => r.getLong(0) / perCluster != r.getLong(1) / perCluster)
    info(s"cross-cluster hits: $crossCluster / ${hits.length}")
    assert(crossCluster == 0, s"$crossCluster cross-cluster hits")
    // and the run is deterministic end to end
    val again = Ann.ivfpqTopK(q, cent, cb, enc, k = 10, nprobe = 2)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    val first = Ann.ivfpqTopK(q, cent, cb, enc, k = 10, nprobe = 2)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    assert(again == first)
  }

  test("RHP signatures: banded equals brute force; copies at 0; same-cluster bits agree") {
    val base = clustered
    val doubled = base.unionAll(
      base.select((col("vec_id") + 10000).as("vec_id"), col("ce")))
    val banded = Ann.rhpNearDupPairs(doubled)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = Ann.rhpSimhash(doubled).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, ha) <- sigs; (ib, hb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(banded == brute, s"banded ${banded.size} vs brute ${brute.size}")
    // every exact copy shares all 64 sign bits
    (0 until nClusters * perCluster by 37).foreach(i =>
      assert(banded.contains((i.toLong, 10000L + i, 0)), s"copy $i"))
    // angle property: same-cluster signatures agree on far more bits
    // than cross-cluster ones (P[bit differs] = angle / pi)
    val byId = sigs.toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(byId(a) ^ byId(b))
    val within = (0 until 40).map(i => dist(i.toLong, (i + 1).toLong)).sum / 40.0
    val across = (0 until 40).map(i => dist(i.toLong, (i + perCluster).toLong)).sum / 40.0
    info(s"mean Hamming within-cluster $within vs cross-cluster $across")
    assert(within < across, s"$within !< $across")
  }

  test("PQ encode: m codes each in [0, ksub); build deterministic; x2hat = reconstruction norm") {
    val corpus = clustered
    val cb = Ann.pqCodebooks(corpus, m = 4, ksub = 8, iters = 2)
    val cb2 = Ann.pqCodebooks(corpus, m = 4, ksub = 8, iters = 2)
    assert(cb.orderBy("sub", "cid").collect().map(_.toString).toSeq ==
      cb2.orderBy("sub", "cid").collect().map(_.toString).toSeq)
    val enc = Ann.pqEncode(corpus, cb).collect()
    assert(enc.length == nClusters * perCluster)
    val books = cb.collect().map(r =>
      (r.getInt(r.fieldIndex("sub")), r.getInt(r.fieldIndex("cid"))) ->
        r.getSeq[Double](r.fieldIndex("cemb"))).toMap
    enc.foreach { r =>
      val codes = r.getSeq[Int](r.fieldIndex("codes"))
      assert(codes.length == 4)
      assert(codes.forall(c => c >= 0 && c < 8))
      // x2hat recomputes from the codebook entries the codes name
      val x2 = codes.zipWithIndex.map { case (c, s) =>
        books((s, c)).map(x => x * x).sum
      }.sum
      assert(math.abs(x2 - r.getDouble(r.fieldIndex("x2hat"))) < 1e-9)
    }
  }

  test("centroid build is deterministic and buckets partition the corpus") {
    val corpus = clustered
    val c1 = Ann.ivfCentroids(corpus, nClusters, iters = 2).orderBy("cid").collect()
    val c2 = Ann.ivfCentroids(corpus, nClusters, iters = 2).orderBy("cid").collect()
    assert(c1.map(_.toString).toSeq == c2.map(_.toString).toSeq)
    assert(c1.length <= nClusters && c1.nonEmpty)
    val assigned = Ann.assignBuckets(corpus, Ann.ivfCentroids(corpus, nClusters, iters = 2))
    assert(assigned.count() == nClusters.toLong * perCluster) // every vector exactly once
    assert(assigned.select("bucket").distinct().count() > 1)
  }

  test("Lloyd refinement recovers the true clusters (members co-bucketed)") {
    val corpus = clustered
    val cent = Ann.ivfCentroids(corpus, nClusters, iters = 2)
    // purity: fraction of vectors whose bucket equals their true
    // cluster's majority bucket — near 1.0 when Lloyd converged.
    val withTrue = Ann.assignBuckets(corpus, cent)
      .withColumn("truec", (col("vec_id") / perCluster).cast("int"))
    val majority = withTrue.groupBy("truec", "bucket").count()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("truec").orderBy(desc("count"), asc("bucket"))))
      .filter(col("rn") === 1).select(col("truec"), col("bucket").as("mb"))
    val pure = withTrue.join(majority, Seq("truec"))
      .agg(avg(when(col("bucket") === col("mb"), 1.0).otherwise(0.0))).head().getDouble(0)
    assert(pure >= 0.9, s"cluster purity $pure < 0.9")
  }

  test("int8 quantization: tinyint output, |q| <= 127, zero vector -> all zero") {
    val df = Seq(
      (0L, Array(1.0f, -2.0f, 0.5f)),
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(127.5f, -127.5f, 63.75f))).toDF("vec_id", "ce")
    val q = Ann.quantizeInt8(df, "ce", "q").orderBy("vec_id").collect()
    assert(q.head.schema("q").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    val rows = q.map(_.getSeq[Byte](2))
    assert(rows(0) == Seq[Byte](64, -127, 32)) // scale = 2/127
    assert(rows(1) == Seq[Byte](0, 0, 0))
    assert(rows(2) == Seq[Byte](127, -127, 64)) // scale = 127.5/127
    assert(rows.flatten.forall(b => b >= -127 && b <= 127))
  }

  test("quantized cosine ranks like exact cosine on well-separated vectors") {
    // self-similarity must dominate: the quantized top-1 of each query
    // is the query itself at cos_x1e4 = 10000 exactly (iab = iaa = ibb)
    val corpus = clustered
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val top = Ann.cosineTopKInt8(queries, corpus, k = 5)
      .filter(col("rank") === 1).orderBy("qid").collect()
    assert(top.length == 3)
    assert(top.forall(r => r.getLong(0) == r.getLong(1)), "top-1 must be self")
    assert(top.forall(_.getLong(2) == 10000L), "self-cosine must be exactly 1.0")
  }

  test("persisted index: reload + query == in-memory ivfTopK; probe prunes files") {
    val corpus = clustered
    val idx = tempDir("ann_idx_spec").toString
    Ann.writeIndex(corpus, idx, nClusters, iters = 2, files = 5)
    val q = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val persisted = Ann.ivfTopKPersisted(spark, q, idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank").collect()
    val cent = Ann.ivfCentroids(corpus, nClusters, iters = 2)
    val mem = Ann.ivfTopK(q, corpus, cent, k = 10, nprobe = 2)
      .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank").collect()
    assert(persisted.toSeq == mem.toSeq)
    // serving reads a strict subset of the assignment files: 5 probed
    // queries × nprobe 2 cover at most 10 of the 10 bucket spans, and
    // the range-clustered layout packs ~2 buckets per file — a 1-query
    // probe must prune to fewer files than the manifest holds
    val one = q.limit(1)
    val pruned = Ann.ivfTopKPersisted(spark, one, idx, k = 10, nprobe = 2)
    val scannedFiles = pruned.select(input_file_name()).distinct().count()
    val total = graft.ops.FileIndex.indexedFileCount(spark, s"$idx/assigned")
    assert(scannedFiles < total, s"probe scanned $scannedFiles of $total files")
    // reload-only serving path: a fresh session reads the SAME answer
    // without any corpus access (zero re-clustering by construction)
    val ss = spark.newSession()
    val again = Ann.ivfTopKPersisted(ss, ss.createDataFrame(q.collect().toList.asJava, q.schema),
      idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "cos_x1e4", "rank").orderBy("qid", "rank").collect()
    assert(again.toSeq == persisted.toSeq)
  }

  test("persisted IVF+PQ index: reload + ADC query == in-memory ivfpqTopK; probe prunes files") {
    val corpus = clustered
    val idx = tempDir("ann_pq_idx_spec").toString
    Ann.writeIndexPq(corpus, idx, nClusters, m = 4, ksub = 8, iters = 2, files = 5)
    Ann.verifyIndex(spark, idx, corpus)
    val q = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val persisted = Ann.ivfpqTopKPersisted(spark, q, idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    // the exact same build, held in memory
    val cent = Ann.ivfCentroids(corpus, nClusters, iters = 2)
    val res = Ann.ivfResiduals(corpus, cent)
    val rv = res.select(col("vec_id"), col("re").as("ce"))
    val cb = Ann.pqCodebooks(rv, m = 4, ksub = 8, iters = 2)
    val enc = Ann.pqEncode(rv, cb)
      .join(res.select(col("vec_id"), col("bucket")), Seq("vec_id"))
      .select(col("vec_id"), col("bucket"), col("codes"))
    val mem = Ann.ivfpqTopK(q, cent, cb, enc, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    assert(persisted.toSeq == mem.toSeq)
    // serving scans a strict subset of the encoded files: replay the
    // manifest pruning for a 1-query probe (input_file_name can't
    // survive the ADC aggregate, so assert at the scan level)
    val one = q.limit(1)
    val probed = Ann.probeBuckets(one, Ann.loadCentroids(spark, idx), 2)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    val manifest = spark.read.parquet(s"$idx/encoded/_index")
      .select("file", "lo", "hi").collect()
    val keep = manifest.count(r =>
      probed.exists(b => b >= r.getInt(1) && b <= r.getInt(2)))
    val total = graft.ops.FileIndex.indexedFileCount(spark, s"$idx/encoded")
    assert(keep < total, s"1-query probe kept $keep of $total files")
    assert(keep >= 1, "probe pruned everything — manifest spans broken")
  }

  test("incremental IVF+PQ add: base build + delta append == one-pass encode over the union") {
    val corpus = clustered
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val fresh = corpus.filter(col("vec_id") % 5 === 0)
    val idx = tempDir("ann_pq_inc_spec").toString
    Ann.writeIndexPq(base, idx, nClusters, m = 4, ksub = 8, iters = 2, files = 5)
    val filesBefore = graft.ops.FileIndex.indexedFileCount(spark, s"$idx/encoded")
    Ann.appendIndexPq(fresh, idx, files = 2)
    // the manifest grew by exactly the delta's file count and the
    // XOR-rolled fingerprint matches the UNION (and rejects the base)
    val filesAfter = graft.ops.FileIndex.indexedFileCount(spark, s"$idx/encoded")
    assert(filesAfter == filesBefore + 2,
      s"manifest files $filesBefore -> $filesAfter")
    Ann.verifyIndex(spark, idx, corpus)
    intercept[IllegalStateException] { Ann.verifyIndex(spark, idx, base) }
    // served results equal the single-pass encode of the union under
    // the SAME frozen geometry (assignment/encoding are deterministic
    // row-wise expressions — appending cannot change any code)
    val q = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val served = Ann.ivfpqTopKPersisted(spark, q, idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    val cent = Ann.ivfCentroids(base, nClusters, iters = 2)
    val resB = Ann.ivfResiduals(base, cent)
    val cb = Ann.pqCodebooks(resB.select(col("vec_id"), col("re").as("ce")),
      m = 4, ksub = 8, iters = 2)
    val resAll = Ann.ivfResiduals(corpus, cent)
    val enc = Ann.pqEncode(resAll.select(col("vec_id"), col("re").as("ce")), cb)
      .join(resAll.select(col("vec_id"), col("bucket")), Seq("vec_id"))
      .select(col("vec_id"), col("bucket"), col("codes"))
    val mem = Ann.ivfpqTopK(q, cent, cb, enc, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    assert(served.toSeq == mem.toSeq)
  }

  test("appendIndexPq rejects a re-appended vec_id (fingerprint XOR-cancel guard)") {
    val corpus = clustered
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val idx = tempDir("ann_pq_dup_spec").toString
    Ann.writeIndexPq(base, idx, nClusters, m = 4, ksub = 8, iters = 2, files = 5)
    // re-appending rows already in the index would serve them twice
    // AND XOR-cancel their checksum contribution — the guard fails
    // loud before any file lands
    val filesBefore = graft.ops.FileIndex.indexedFileCount(spark, Ann.encodedDir(idx))
    val fpBefore = spark.read.parquet(s"$idx/fingerprint").head()
    val ex = intercept[IllegalArgumentException] {
      Ann.appendIndexPq(base.limit(3), idx, files = 1)
    }
    assert(ex.getMessage.contains("re-appends vec_id"))
    // nothing was appended and the fingerprint did not roll
    assert(graft.ops.FileIndex.indexedFileCount(spark, Ann.encodedDir(idx)) == filesBefore)
    assert(spark.read.parquet(s"$idx/fingerprint").head() == fpBefore)
    Ann.verifyIndex(spark, idx, base)
  }

  test("compactIndexPq: append generations collapse to one; served results and fingerprint unchanged") {
    val corpus = clustered
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val freshA = corpus.filter(col("vec_id") % 5 === 0 && col("vec_id") % 10 =!= 0)
    val freshB = corpus.filter(col("vec_id") % 10 === 0)
    val idx = tempDir("ann_pq_cmp_spec").toString
    Ann.writeIndexPq(base, idx, nClusters, m = 4, ksub = 8, iters = 2, files = 5)
    Ann.appendIndexPq(freshA, idx, files = 2)
    Ann.appendIndexPq(freshB, idx, files = 2)
    assert(graft.ops.FileIndex.indexedFileCount(spark, s"$idx/encoded") == 9)
    val q = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val before = Ann.ivfpqTopKPersisted(spark, q, idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    val fpBefore = spark.read.parquet(s"$idx/fingerprint").head()
    Ann.compactIndexPq(spark, idx, files = 5)
    // the live generation is the PUBLISHED one (staged commit) with
    // one generation's worth of files; rows/codes/fingerprint untouched
    val gen1 = Ann.encodedDir(idx)
    assert(gen1 != s"$idx/encoded", "compaction must publish a new generation")
    assert(graft.ops.FileIndex.indexedFileCount(spark, gen1) == 5)
    assert(spark.read.parquet(s"$idx/fingerprint").head() == fpBefore)
    Ann.verifyIndex(spark, idx, corpus)
    val after = Ann.ivfpqTopKPersisted(spark, q, idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    assert(after.toSeq == before.toSeq)
    // a SECOND compaction stacks another generation and still serves
    // identically — append → compact → compact is the steady state
    Ann.compactIndexPq(spark, idx, files = 3)
    assert(Ann.encodedDir(idx) != gen1)
    assert(graft.ops.FileIndex.indexedFileCount(spark, Ann.encodedDir(idx)) == 3)
    val after2 = Ann.ivfpqTopKPersisted(spark, q, idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    assert(after2.toSeq == before.toSeq)
  }

  test("mid-compact failure leaves the old generation serving; the next compaction recovers") {
    val corpus = clustered
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val fresh = corpus.filter(col("vec_id") % 5 === 0)
    val idx = tempDir("ann_pq_torn_spec").toString
    Ann.writeIndexPq(base, idx, nClusters, m = 4, ksub = 8, iters = 2, files = 5)
    Ann.appendIndexPq(fresh, idx, files = 2)
    val q = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("ce").as("qe"))
    val before = Ann.ivfpqTopKPersisted(spark, q, idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    // SIMULATED CRASH between stage and publish: the staged
    // generation directory exists in full (data + its manifest) but
    // no commit was written — exactly the state compactIndexPq dies
    // in if the process is killed after writeIndexed
    val orphan = s"$idx/encoded_gens/data-g1"
    val live = spark.read.parquet(s"$idx/encoded").localCheckpoint(true)
    try graft.ops.FileIndex.writeIndexed(live, orphan, "bucket", 4)
    finally live.unpersist(blocking = false)
    // the orphan is invisible: resolution still points at the base
    // layout and serving is byte-identical
    assert(Ann.encodedDir(idx) == s"$idx/encoded")
    val torn = Ann.ivfpqTopKPersisted(spark, q, idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    assert(torn.toSeq == before.toSeq)
    // the NEXT compaction claims the same deterministic generation
    // token, overwrites the orphan, publishes, and serves identically
    Ann.compactIndexPq(spark, idx, files = 4)
    assert(Ann.encodedDir(idx) == orphan)
    assert(graft.ops.FileIndex.indexedFileCount(spark, orphan) == 4)
    val after = Ann.ivfpqTopKPersisted(spark, q, idx, k = 10, nprobe = 2)
      .select("qid", "vec_id", "dot_x1e6", "rank").orderBy("qid", "rank").collect()
    assert(after.toSeq == before.toSeq)
    Ann.verifyIndex(spark, idx, corpus)
  }

  test("persisted index: staleness fingerprint accepts the built corpus, rejects a refresh") {
    val corpus = clustered
    val idx = tempDir("ann_idx_fp").toString
    Ann.writeIndex(corpus, idx, nClusters, iters = 2, files = 5)
    // the corpus that was indexed verifies clean — row order must not
    // matter (the checksum is an XOR, partitioning-independent)
    Ann.verifyIndex(spark, idx, corpus)
    Ann.verifyIndex(spark, idx, corpus.orderBy(desc("vec_id")))
    // a refreshed corpus (one vector dropped / one added / one edited)
    // must fail LOUD instead of silently serving stale assignments
    val dropped = corpus.filter(col("vec_id") =!= 0L)
    val e1 = intercept[IllegalStateException] { Ann.verifyIndex(spark, idx, dropped) }
    assert(e1.getMessage.contains("stale IVF index"))
    val added = corpus.unionAll(corpus.limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("ce")))
    intercept[IllegalStateException] { Ann.verifyIndex(spark, idx, added) }
    // same count, one vector's components scaled: count matches,
    // checksum must still flip
    val edited = corpus.select(col("vec_id"),
      when(col("vec_id") === 0L,
        expr("transform(ce, x -> x * CAST(2.0 AS FLOAT))")).otherwise(col("ce")).as("ce"))
    intercept[IllegalStateException] { Ann.verifyIndex(spark, idx, edited) }
  }

  test("ArrayDotInt8 is exact and gated to tinyint arrays") {
    import graft.functions.{ArrayDotInt8, F}
    // Seq[Byte], not Array[Byte]: the latter encodes as BINARY
    val df = Seq((Seq[Byte](1, -2, 3), Seq[Byte](4, 5, -6))).toDF("a", "b")
    val d = df.select(F.toColumn(ArrayDotInt8(F.toExpr(col("a")), F.toExpr(col("b")))).as("d"))
      .head.getLong(0)
    assert(d == 1 * 4 + -2 * 5 + 3 * -6)
    val floats = Seq((Array(1.0f), Array(2.0f))).toDF("a", "b")
    val ex = intercept[Exception] {
      floats.select(F.toColumn(ArrayDotInt8(F.toExpr(col("a")), F.toExpr(col("b"))))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("type"))
  }
}

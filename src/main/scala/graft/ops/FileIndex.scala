package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-skipping statistics manifest — the lakehouse-table mechanism
  * (per-file column min/max consulted BEFORE planning the scan), hand
  * carried because this engine manages bare parquet directories, not a
  * table format. Completes the skipping triad: hive partition pruning
  * (`scan_partition_pruned`) skips directories, this skips FILES, and
  * parquet row-group stats (`zorder_skipping`) skip within a file.
  *
  * At 100 TB the difference from row-group skipping is driver-side
  * cost: Spark still lists/opens every file to read footers, so a
  * million-file table pays a million opens even when 99% of row groups
  * then skip. The manifest is one small parquet read (KBs per thousand
  * files) and the pruned scan receives only the surviving paths —
  * driver work scales with the MANIFEST, not the table.
  *
  * The manifest lives under `<dir>/_index` — an underscore-prefixed
  * path, which Spark's file listing treats as hidden, so a plain
  * `spark.read.parquet(dir)` of the data is unaffected by the index's
  * presence. Stats are recomputed FROM the written files (grouped by
  * `input_file_name`), not from the pre-write DataFrame — the manifest
  * can never disagree with the bytes on disk. */
object FileIndex {

  /** Write `df` range-clustered on `clusterCol` into `partitions`
    * files under `dir`, plus the `_index` manifest of per-file
    * (file, lo, hi, rows). Range clustering is what makes the index
    * selective: each file owns a narrow span of the cluster column, so
    * a point or range predicate prunes all but a few files. */
  def writeIndexed(df: DataFrame, dir: String, clusterCol: String,
      partitions: Int): Unit = {
    require(partitions > 0, s"writeIndexed: partitions=$partitions")
    df.repartitionByRange(partitions, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(dir)
    val spark = df.sparkSession
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(clusterCol)).as("lo"), max(col(clusterCol)).as("hi"),
        count(lit(1)).as("rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_index")
  }

  /** APPEND a delta batch to an existing indexed directory: the new
    * rows land as `partitions` additional range-clustered files and
    * the manifest gains their (file, lo, hi, rows) entries — the
    * existing data files and manifest rows are NOT touched or
    * re-read. Stats for the new entries are recomputed from the
    * written files (the writeIndexed from-disk principle), found by
    * name-diffing the directory listing against the manifest — so the
    * stats scan reads ONLY the delta's files, never the base corpus
    * (the incremental-maintenance contract at 100 TB: a daily
    * arrival costs the arrival, not the archive). Appended files
    * overlap existing bucket spans, so point queries may read one
    * extra file per append generation — the standard LSM-ish tradeoff
    * a periodic rewrite (writeIndexed over the union) compacts. */
  def appendIndexed(df: DataFrame, dir: String, clusterCol: String,
      partitions: Int): Unit = {
    require(partitions > 0, s"appendIndexed: partitions=$partitions")
    val spark = df.sparkSession
    // collect the manifest BEFORE overwriting it (a lazy self-read
    // would make the _index overwrite read its own input)
    val knownDf = manifest(spark, dir)
      .select("file", "lo", "hi", "rows")
    val knownSchema = knownDf.schema
    val known = knownDf.collect()
    val knownNames = known.map(r =>
      new Path(r.getString(0)).getName).toSet
    df.repartitionByRange(partitions, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("append").parquet(dir)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newPaths = fs.listStatus(p).collect {
      case s if s.isFile && s.getPath.getName.endsWith(".parquet") &&
          !knownNames.contains(s.getPath.getName) => s.getPath.toString
    }
    // An EMPTY delta writes no data files; reading a zero-path
    // parquet list throws (no schema to infer), and the manifest is
    // already correct — a no-op append must be a no-op, so a daily
    // maintenance job survives a day with no arrivals.
    if (newPaths.isEmpty) return
    val newStats = spark.read.parquet(newPaths.toIndexedSeq: _*)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(clusterCol)).as("lo"), max(col(clusterCol)).as("hi"),
        count(lit(1)).as("rows"))
    spark.createDataFrame(java.util.Arrays.asList(known: _*), knownSchema)
      .unionByName(newStats.select("file", "lo", "hi", "rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_index")
  }

  /** The one manifest reader: the `_index` manifest of `dir`, read
    * through its part files. The underscore name is what hides the
    * manifest from a scan of the data directory; for the same reason
    * Spark's DataSource logs "All paths were ignored" on every read of
    * that root itself, so the reader lists the parts and reads them. */
  private[graft] def manifest(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(s"$dir/_index")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") => st.getPath.toString
    }
    spark.read.parquet(parts.toIndexedSeq: _*)
  }

  /** Scan of `dir` pruned to files whose [lo, hi] span intersects
    * [lower, upper] on the indexed column. The manifest collect is
    * driver-side by design (it IS the planning step — the same place
    * a table format consults its metadata layer) and is bounded by
    * file count, not rows. Returns the pruned DataFrame WITH the
    * residual predicate applied — the manifest prunes at file
    * granularity; rows inside a surviving file still need the filter
    * (which parquet row-group stats then accelerate). */
  def readPruned(spark: SparkSession, dir: String, lower: Column,
      upper: Column): DataFrame = {
    val files = survivingFiles(spark, dir, lower, upper)
    if (files.isEmpty) spark.read.parquet(dir).limit(0)
    else spark.read.parquet(files.toIndexedSeq: _*)
  }

  /** Files the manifest would keep for [lower, upper] — planning
    * introspection for tests and ops tooling. */
  def survivingFiles(spark: SparkSession, dir: String, lower: Column,
      upper: Column): Seq[String] =
    manifest(spark, dir)
      .filter(!(col("hi") < lower || col("lo") > upper))
      .select("file").collect().map(_.getString(0)).toIndexedSeq

  /** Total file count recorded in the manifest. */
  def indexedFileCount(spark: SparkSession, dir: String): Long =
    manifest(spark, dir).count()

  // ---- footer-only manifests ----------------------------------------

  /** Per-ROW-GROUP stats of an INT64 column read from parquet FOOTERS
    * only — the manifest builder that never re-scans data. Where
    * [[writeIndexed]] recomputes stats with a full second pass over
    * the written bytes (fine at write time, when the data is hot),
    * this answers "index an EXISTING table" at metadata cost: each
    * footer is a few KB regardless of file size, and the reads
    * distribute over executors (one task per file batch), so indexing
    * a 100 TB directory moves megabytes, not terabytes. Output
    * (file, row_group, rows, lo, hi). Fails loud on a missing column
    * or absent statistics (a silent empty manifest would make every
    * downstream prune wrong). */
  def footerStats(spark: SparkSession, dir: String, column: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(base).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    require(files.nonEmpty, s"footerStats: no parquet files under $dir")
    val par = math.min(files.length, spark.sparkContext.defaultParallelism)
    val rdd = spark.sparkContext.parallelize(files, par).flatMap { f =>
      import scala.jdk.CollectionConverters._
      // local/ephemeral conf: footer reads need no job-side settings
      val conf = new org.apache.hadoop.conf.Configuration()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), conf))
      try {
        reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map { case (bg, i) =>
          val cc = bg.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(throw new IllegalArgumentException(
              s"footerStats: column '$column' not found in $f"))
          val st = cc.getStatistics
          require(st != null && !st.isEmpty,
            s"footerStats: no statistics for '$column' in $f row group $i")
          org.apache.spark.sql.Row(f, i, bg.getRowCount,
            st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        }
      } finally reader.close()
    }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_group", IntegerType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("lo", LongType, nullable = false),
      StructField("hi", LongType, nullable = false))))
  }

  /** Scan of `dir` pruned by a FOOTER-built manifest: files whose
    * [lo, hi] span (over all their row groups) intersects
    * [lower, upper]. Same planning contract as [[readPruned]], but
    * the manifest came from metadata, not a data pass. */
  def readFooterPruned(spark: SparkSession, dir: String, column: String,
      lower: Long, upper: Long): DataFrame = {
    val files = footerStats(spark, dir, column)
      .groupBy("file").agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .filter(!(col("hi") < lower || col("lo") > upper))
      .select("file").collect().map(_.getString(0)).toIndexedSeq
    if (files.isEmpty) spark.read.parquet(dir).limit(0)
    else spark.read.parquet(files: _*)
  }

  // ---- per-file Bloom manifests -------------------------------------

  /** Like [[writeIndexed]], plus a per-file Bloom filter over a SECOND
    * column in the manifest. Range stats only prune on the cluster
    * column; a point lookup on any other column scans everything. The
    * bloom closes that gap for equality predicates: each file carries
    * a `numBits`-bit filter of its `bloomCol` values (built by the
    * same distributed `BloomBuild` aggregate the join prefilter uses,
    * grouped by `input_file_name` — so the filter, like the min/max,
    * can never disagree with the bytes on disk). Manifest cost is
    * numBits/8 bytes per file — KBs, read once at planning. */
  def writeIndexedBloom(df: DataFrame, dir: String, clusterCol: String,
      bloomCol: String, partitions: Int, numBits: Int = 1 << 16,
      numHashes: Int = 5): Unit = {
    require(partitions > 0, s"writeIndexedBloom: partitions=$partitions")
    df.repartitionByRange(partitions, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(dir)
    val spark = df.sparkSession
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(clusterCol)).as("lo"), max(col(clusterCol)).as("hi"),
        count(lit(1)).as("rows"),
        graft.functions.F.toColumn(graft.functions.BloomBuild(
          graft.functions.F.toExpr(col(bloomCol)),
          numBits, numHashes).toAggregateExpression()).as("bloom"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_index")
  }

  /** Scan pruned to files whose bloom MIGHT contain `key` — the
    * planning step for a point lookup on the bloom-indexed column.
    * False positives only admit files the residual filter then
    * empties; a false negative is impossible (every written value was
    * hashed into its file's filter), so the pruned scan is
    * result-identical to the full one. */
  def readPrunedBloom(spark: SparkSession, dir: String, key: Long): DataFrame = {
    val files = bloomSurvivingFiles(spark, dir, key)
    if (files.isEmpty) spark.read.parquet(dir).limit(0)
    else spark.read.parquet(files.toIndexedSeq: _*)
  }

  /** Files whose per-file bloom admits `key`. Driver-side by design —
    * bounded by manifest size, it IS the metadata-layer consult. */
  def bloomSurvivingFiles(spark: SparkSession, dir: String,
      key: Long): Seq[String] =
    manifest(spark, dir).select("file", "bloom").collect()
      .filter(r => graft.functions.BloomOps.mightContain(
        r.getAs[Array[Byte]]("bloom"), key))
      .map(_.getString(0)).toIndexedSeq
}

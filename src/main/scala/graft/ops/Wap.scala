package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-Audit-Publish with MULTI-WRITER optimistic concurrency.
  *
  * The single-writer `wap_publish` gate promotes by directory rename;
  * with several concurrent stagers that rename is a race. This module
  * is the table-format commit protocol in miniature: each writer
  * STAGES its candidate under a unique token, audits the staged files,
  * and PUBLISHES with a compare-and-swap on the commit version — the
  * atomic `Files.createFile` of `_commits/v<N+1>.lock` succeeds for
  * exactly one writer per version (O_EXCL is the CAS primitive; at
  * cluster scale the same conditional-put runs against a metastore or
  * object-store if-none-match). The winner then records its manifest
  * as `v<N+1>.json`; every loser gets a [[Wap.Conflict]] carrying the
  * observed version and rebases + retries at the new head — the same
  * versioned exactly-once discipline as the streaming state store
  * (streaming/EventsStream.scala `mergeBatchIntoState`: read strictly
  * below, write your own version, never overwrite what you read).
  *
  * Readers resolve the MAX version with a manifest present and read
  * only its recorded data path: a crashed writer that claimed a lock
  * but never wrote the manifest is simply not yet published — no torn
  * reads, and the previous snapshot stays live throughout.
  */
object Wap {

  /** Optimistic-commit failure: someone else published `actual` while
    * this writer expected to install on top of `expected`. */
  final case class Conflict(expected: Long, actual: Long)
    extends RuntimeException(
      s"wap: optimistic commit conflict — expected version $expected, head is $actual")

  private def commitsDir(tableDir: String): Path = {
    val d = Paths.get(tableDir).resolve("_commits")
    Files.createDirectories(d)
    d
  }

  /** Highest PUBLISHED version (manifest present), 0 = empty table. */
  def currentVersion(tableDir: String): Long = {
    val listing = Files.list(commitsDir(tableDir))
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toLong }
        .foldLeft(0L)(math.max)
    } finally listing.close()
  }

  /** Data path of the current snapshot, None before the first commit. */
  def publishedPath(tableDir: String): Option[String] = {
    val v = currentVersion(tableDir)
    if (v == 0L) None
    else {
      val f = commitsDir(tableDir).resolve(s"v$v.json")
      Some(new String(Files.readAllBytes(f), UTF_8).trim)
    }
  }

  /** The current snapshot as a DataFrame (the only path readers take). */
  def readPublished(spark: SparkSession, tableDir: String): DataFrame =
    publishedPath(tableDir) match {
      case Some(p) => spark.read.parquet(p)
      case None => throw new IllegalStateException(
        s"wap: no published version at $tableDir")
    }

  /** Data path recorded by a specific published version. Loud failure
    * on an unpublished version — a claimed-but-crashed lock (v.lock
    * without v.json) is NOT readable history. */
  def pathForVersion(tableDir: String, version: Long): String = {
    val f = commitsDir(tableDir).resolve(s"v$version.json")
    if (!Files.exists(f)) throw new IllegalStateException(
      s"wap: version $version is not published at $tableDir " +
        s"(head is ${currentVersion(tableDir)})")
    new String(Files.readAllBytes(f), UTF_8).trim
  }

  /** TIME TRAVEL: the table as of `version`. Every commit's manifest
    * stays in `_commits/` and its data directory is never rewritten,
    * so any historical snapshot is just a parquet read of the path its
    * manifest recorded — O(1) metadata to resolve, zero data copied.
    * At cluster scale this is the lakehouse `VERSION AS OF` read. */
  def readVersion(spark: SparkSession, tableDir: String, version: Long): DataFrame =
    spark.read.parquet(pathForVersion(tableDir, version))

  /** ROLLBACK: publish a new head whose data path is an EARLIER
    * version's — history stays append-only (no manifest is deleted,
    * the bad version remains auditable), readers atomically flip to
    * the old snapshot, and time travel to the rolled-back version
    * still works. Returns the new head version. */
  def rollbackTo(tableDir: String, version: Long): Long =
    publishWithRetry(tableDir, pathForVersion(tableDir, version))

  /** EXPIRE / VACUUM — the retention end of the table lifecycle:
    * versions strictly below `keepFrom` stop being time-travelable and
    * their data directories are reclaimed. Two invariants make this
    * safe next to [[rollbackTo]]'s path sharing:
    *
    *  1. Data is REFERENCE-COUNTED across manifests: a data directory
    *     is deleted only when NO surviving (≥ keepFrom) version still
    *     records it — a rollback head that re-published v1's path
    *     keeps that path alive however old v1 is.
    *  2. Manifests tombstone FIRST (atomic rename v<N>.json →
    *     v<N>.expired), data deletes second — a concurrent reader
    *     either resolved the manifest before the rename (and reads
    *     data that is still there, deletes happen strictly after) or
    *     fails loud on an unpublished version; never a torn read.
    *
    * The head is never expirable (`keepFrom ≤ head`). Tombstones stay
    * behind as an audit trail of WHAT was expired, mirroring the
    * append-only discipline of the rest of the module. Returns
    * (versions expired, data directories reclaimed). */
  def expireBefore(tableDir: String, keepFrom: Long): (Long, Long) = {
    val head = currentVersion(tableDir)
    require(keepFrom >= 1 && keepFrom <= head,
      s"wap: expireBefore keepFrom=$keepFrom must be in 1..head=$head")
    val dir = commitsDir(tableDir)
    import scala.jdk.CollectionConverters._
    val listing = Files.list(dir)
    val versions = try listing.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }.toVector
      finally listing.close()
    val (expire, keep) = versions.partition(_ < keepFrom)
    val keepPaths = keep.map(v => pathForVersion(tableDir, v)).toSet
    val expirePaths = expire.map(v => pathForVersion(tableDir, v))
    // 1) tombstone every expired manifest (readers go blind first) …
    expire.sorted.foreach { v =>
      Files.move(dir.resolve(s"v$v.json"), dir.resolve(s"v$v.expired"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // 2) … then reclaim data nothing surviving references.
    val doomed = expirePaths.distinct.filterNot(keepPaths.contains)
    doomed.foreach(p => graft.core.Scratch.delete(Paths.get(p)))
    (expire.size.toLong, doomed.size.toLong)
  }

  /** CHANGE DATA FEED between two published versions: a keyed
    * full-outer diff classifying every key as insert / delete /
    * update / unchanged. The join shuffles both snapshots by the key
    * — co-partitioned, executor-side only; no driver materialization
    * at any scale (and with both snapshots bucketed by the key the
    * exchange disappears entirely). Non-key columns are compared
    * null-safely, so a value toggling to/from NULL is an update, not
    * an equality. Output: key columns (coalesced across sides),
    * `change_type`, and the new-side row's non-key columns (old-side
    * values for deletes). */
  def changesBetween(spark: SparkSession, tableDir: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readVersion(spark, tableDir, fromVersion).as("a")
    val b = readVersion(spark, tableDir, toVersion).as("b")
    val nonKey = b.columns.filterNot(keys.contains)
    require(nonKey.nonEmpty, "wap.changesBetween: no non-key columns to compare")
    val cond = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val joined = a.join(b, cond, "full_outer")
    val inA = keys.map(k => col(s"a.$k").isNotNull).reduce(_ && _)
    val inB = keys.map(k => col(s"b.$k").isNotNull).reduce(_ && _)
    val anyDiff = nonKey.map(c => !(col(s"a.$c") <=> col(s"b.$c"))).reduce(_ || _)
    val keyCols = keys.map(k => coalesce(col(s"b.$k"), col(s"a.$k")).as(k))
    val valCols = nonKey.map(c => coalesce(col(s"b.$c"), col(s"a.$c")).as(c))
    joined.select(keyCols ++ Seq(
      when(!inA, lit("insert"))
        .when(!inB, lit("delete"))
        .when(anyDiff, lit("update"))
        .otherwise(lit("unchanged")).as("change_type")) ++ valCols: _*)
  }

  /** Stage a candidate under this writer's token. Pure data write —
    * no coordination, any number of writers stage concurrently. */
  def stage(df: DataFrame, tableDir: String, token: String): String = {
    val p = Paths.get(tableDir).resolve(s"data-$token")
    df.write.mode("overwrite").parquet(p.toString)
    p.toString
  }

  /** CAS publish: install `dataPath` as version `expected + 1`, or
    * throw [[Conflict]] if another writer claimed that version first.
    * The lock create is the atomic point; the manifest then lands via
    * write-to-temp + atomic rename on a name only the lock winner
    * uses, so readers can never observe a half-written manifest. */
  def tryPublish(tableDir: String, expected: Long, dataPath: String): Long = {
    val d = commitsDir(tableDir)
    val next = expected + 1
    try Files.createFile(d.resolve(s"v$next.lock"))
    catch {
      case _: FileAlreadyExistsException =>
        throw Conflict(expected, math.max(currentVersion(tableDir), next))
    }
    val tmp = d.resolve(s".v$next.json.tmp")
    Files.write(tmp, dataPath.getBytes(UTF_8))
    Files.move(tmp, d.resolve(s"v$next.json"), StandardCopyOption.ATOMIC_MOVE)
    next
  }

  /** Optimistic-retry publish: re-read the head and re-CAS until one
    * attempt wins (bounded). Correct for candidates whose content does
    * not depend on the snapshot they land on (full-replacement or
    * blind-append promotion); a read-modify-write candidate must
    * re-derive from the new head between attempts instead. */
  def publishWithRetry(tableDir: String, dataPath: String,
      maxAttempts: Int = 5): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return tryPublish(tableDir, currentVersion(tableDir), dataPath)
      catch { case c: Conflict => if (attempt >= maxAttempts) throw c }
    }
    0L // unreachable
  }
}

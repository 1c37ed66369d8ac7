package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.util.HadoopFSUtils

/** Bridge to the `private[sql]` Column ⇄ Expression converters in Spark
  * 4.x's classic API. Lives inside the `org.apache.spark.sql` package
  * tree solely to gain access; the rest of the engine goes through this
  * one object (graft.functions.F.toColumn / toExpr).
  */
object ExprShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on an EXISTING session's registry
    * (sessionState is `private[sql]`; new sessions should prefer
    * `spark.sql.extensions=graft.GraftExtensions`). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** True when the session's CacheManager holds no cached relations —
    * the invariant CacheHygieneSpec asserts after every query action
    * (`sharedState` is `private[sql]`, hence the shim). */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.sharedState.cacheManager.isEmpty

  /** The session's Hadoop conf with `options` on top, as Spark's own
    * file sources build it (`sessionState` is `private[sql]`). */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession,
      options: Map[String, String]): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConfWithOptions(options)

  /** Does Spark's file listing skip a file of this name (`_`/`.`
    * prefixes such as `_SUCCESS` and checksum `.crc` files, and
    * `._COPYING_` uploads)? (`HadoopFSUtils` is `private[spark]`.) */
  def isHiddenFile(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** `files`, in the given order, packed into partitions by Spark's
    * file-source rule: a partition closes when adding the next file
    * would pass `min(spark.sql.files.maxPartitionBytes, max(openCost,
    * Σ(length + openCost) / leaf parallelism))`, each file counting its
    * length plus `spark.sql.files.openCostInBytes`. Unlike Spark's scans,
    * no sort by size comes first, so the files keep their order. */
  def filePartitions(spark: org.apache.spark.sql.SparkSession,
      files: Seq[PartitionedFile]): Seq[FilePartition] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    FilePartition.getFilePartitions(spark, files,
      FilePartition.maxSplitBytes(spark, files.map(_.length + openCost).sum))
  }
}

package graft.avro

import java.nio.file.Path
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSpec

/** The `graft-avro` scan packs its byte ranges into partitions by
  * Spark's file-source rule and reads each file's run of ranges with one
  * reader: the rows, and their order, are those of one range per
  * partition. */
class AvroPackingSpec extends SparkSpec {
  import AvroPackingSpec._

  private val schema = new Schema.Parser().parse(
    """{"type":"record","name":"r","fields":[{"name":"id","type":"long"},{"name":"s","type":"string"}]}""")

  /** `files` containers under a fresh dir, file i holding ids
    * `first(i) until first(i) + counts(i)`, a sync marker every `sync`
    * bytes; the ids in file order. */
  private def writeFiles(counts: Seq[Int], sync: Int): (Path, Seq[Long]) = {
    val dir = tempDir("avro_packing")
    val ids = counts.scanLeft(0L)(_ + _).zip(counts).map { case (first, n) =>
      first until first + n
    }
    for ((fileIds, i) <- ids.zipWithIndex) {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.setSyncInterval(sync)
      w.create(schema, dir.resolve(s"part-$i.avro").toFile)
      try fileIds.foreach { id =>
        val r = new GenericData.Record(schema); r.put("id", id); r.put("s", s"v$id"); w.append(r)
      } finally w.close()
    }
    (dir, ids.flatten)
  }

  private def withFileConf[T](maxPartitionBytes: Long, openCost: Long)(body: => T): T = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
    spark.conf.set("spark.sql.files.openCostInBytes", openCost)
    try body finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("property: packed partitions read the rows, in order, of one range per partition") {
    val caseG = for {
      counts <- Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, Gen.chooseNum(0, 2500)))
      sync <- Gen.oneOf(256, 1024, 4096)
      split <- Gen.chooseNum(0, 7).map(512L << _) // 512 B to 64 KB
      maxPartitionBytes <- Gen.chooseNum(1L << 10, 256L << 10)
      openCost <- Gen.chooseNum(0L, 64L << 10)
      limit <- Gen.chooseNum(1, 3000)
    } yield (counts, sync, split, maxPartitionBytes, openCost, limit)
    val prop = Prop.forAllNoShrink(caseG) { case (counts, sync, split, maxPartitionBytes, openCost, limit) =>
      val (dir, ids) = writeFiles(counts, sync)
      val read = () => spark.read.format("graft-avro")
        .option("maxSplitBytes", split).load(dir.toString)
      val ctx = s"counts $counts, sync $sync, split $split, " +
        s"maxPartitionBytes $maxPartitionBytes, openCost $openCost, limit $limit"
      // the parent's plan: openCost ≥ maxPartitionBytes closes every partition after one range
      val (oneEach, oneEachRows) = withFileConf(maxPartitionBytes, maxPartitionBytes) {
        val df = read(); (partitions(df), df.collect().map(_.getLong(0)).toSeq)
      }
      withFileConf(maxPartitionBytes, openCost) {
        val df = read()
        val packed = partitions(df)
        val got = df.collect().map(_.getLong(0)).toSeq
        val capped = df.limit(limit)
        assert(capped.queryExecution.executedPlan.toString.contains(s"PushedLimit: $limit"), ctx)
        val cappedIds = capped.collect().map(_.getLong(0)).toSeq
        assert(oneEach.forall(_.files.length == 1), ctx)
        // the same byte ranges, in the same order, packed by the rule
        assert(packed.flatMap(_.files).map(f => (f.filePath, f.start, f.length)) ==
          oneEach.flatMap(_.files).map(f => (f.filePath, f.start, f.length)), ctx)
        assert(packed.length == packedCount(spark, oneEach.map(_.files.head.length)), ctx)
        assert(oneEachRows == ids, ctx)
        assert(got == oneEachRows, ctx)
        assert(cappedIds.distinct.length == cappedIds.length &&
          cappedIds.length <= limit && cappedIds.toSet.subsetOf(ids.toSet), ctx)
      }
      true
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}

object AvroPackingSpec {

  /** The partitions the file scan under `df` plans. */
  def partitions(df: DataFrame): Seq[FilePartition] =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }.get
      .scan.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[FilePartition])

  /** How many partitions ranges of these lengths pack into, in order,
    * under the session's `spark.sql.files.*` settings: a partition
    * closes when the next range would pass `min(maxPartitionBytes,
    * max(openCost, Σ(length + openCost) / parallelism))`, each range
    * counting its length plus `openCost`. */
  def packedCount(spark: SparkSession, lengths: Seq[Long]): Int = {
    def bytes(key: String) = JavaUtils.byteStringAsBytes(spark.conf.get(key))
    val maxBytes = bytes("spark.sql.files.maxPartitionBytes")
    val openCost = bytes("spark.sql.files.openCostInBytes")
    val target = math.min(maxBytes,
      math.max(openCost, lengths.map(_ + openCost).sum / spark.sparkContext.defaultParallelism))
    lengths.foldLeft((0, 0L)) { case ((n, size), len) =>
      if (n == 0 || size + len > target) (n + 1, len + openCost) else (n, size + len + openCost)
    }._1
  }
}

package graft.sources

import java.net.URI
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.avro.Avro

/** The local file system under its own scheme, `gtest://`. */
class GtestFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("gtest:///")
  override def getScheme: String = "gtest"
}

class FileSourceSpec extends SparkSpec {

  private val gtest = (p: java.nio.file.Path) => s"gtest://${p.toAbsolutePath}"

  /** `body` with the `gtest` scheme registered on the session's Hadoop conf. */
  private def withGtest[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.gtest.impl", classOf[GtestFileSystem].getName)
    hc.setBoolean("fs.gtest.impl.disable.cache", true) // no instance outlives the test
    try body finally {
      hc.unset("fs.gtest.impl")
      hc.unset("fs.gtest.impl.disable.cache")
    }
  }

  test("the file sources read through the session's Hadoop conf (a scheme only it knows)") {
    val dir = tempDir("filesource_gtest")
    val df = spark.range(20).select(col("id").cast("string").as("id"))
    // the inputs, written through the local scheme
    val pq = dir.resolve("pq").toString
    df.write.parquet(pq)
    val xml = dir.resolve("d.xml")
    graft.xml.Xml.writeXmlFile(df, xml.toString)
    val xlsx = dir.resolve("w.xlsx")
    graft.xlsx.Xlsx.writeWorkbook(Seq("data" -> df), xlsx.toString)
    val xlsb = dir.resolve("w.xlsb")
    graft.xlsx.Xlsb.writeWorkbook(Seq("data" -> df), xlsb.toString)
    val xls = dir.resolve("w.xls")
    graft.xlsx.Biff.writeWorkbook(Seq("data" -> df), xls.toString)
    withGtest {
      assert(spark.read.parquet(gtest(dir.resolve("pq"))).count() == 20) // Spark's own source
      val avro = dir.resolve("avro")
      Avro.write(df, gtest(avro)) // the writer, too, goes through the session conf
      assert(Avro.read(spark, gtest(avro)).count() == 20)
      assert(spark.read.format("graft-xml").option("rowTag", "row")
        .load(gtest(xml)).count() == 20)
      assert(graft.xlsx.XlsxDataSource.readTable(spark, gtest(xlsx)).count() == 20)
      Seq(xlsx, xlsb, xls).foreach { f =>
        val sheets = graft.xlsx.Xlsx.readWorkbook(spark, gtest(f))
        assert(sheets.map(_._1) == Seq("data") && sheets.head._2.count() == 20, f)
      }
    }
  }

  test("the lister skips the names Spark's listing skips (checksum files seen through a raw file system)") {
    val dir = tempDir("filesource_crc")
    val avro = dir.resolve("avro")
    // the local file system writes a `.part-NNNNN.avro.crc` beside each file
    Avro.write(spark.range(20).toDF("id"), avro.toString)
    val names = new java.io.File(avro.toString).list().toSeq
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")), names)
    // the raw one lists them as files
    withGtest {
      assert(Avro.read(spark, gtest(avro)).orderBy("id").collect().map(_.getLong(0)).toSeq ==
        (0L until 20L))
    }
  }
}

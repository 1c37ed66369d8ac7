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

  test("the file sources read through the session's Hadoop conf (a scheme only it knows)") {
    val dir = tempDir("filesource_gtest")
    val gtest = (p: java.nio.file.Path) => s"gtest://${p.toAbsolutePath}"
    val df = spark.range(20).select(col("id").cast("string").as("id"))
    // the inputs, written through the local scheme
    val pq = dir.resolve("pq").toString
    df.write.parquet(pq)
    val xml = dir.resolve("d.xml")
    graft.xml.Xml.writeXmlFile(df, xml.toString)
    val xlsx = dir.resolve("w.xlsx")
    graft.xlsx.Xlsx.writeWorkbook(Seq("data" -> df), xlsx.toString)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.gtest.impl", classOf[GtestFileSystem].getName)
    hc.setBoolean("fs.gtest.impl.disable.cache", true) // no instance outlives the test
    try {
      assert(spark.read.parquet(gtest(dir.resolve("pq"))).count() == 20) // Spark's own source
      val avro = dir.resolve("avro")
      Avro.write(df, gtest(avro)) // the writer, too, goes through the session conf
      assert(Avro.read(spark, gtest(avro)).count() == 20)
      assert(spark.read.format("graft-xml").option("rowTag", "row")
        .load(gtest(xml)).count() == 20)
      assert(graft.xlsx.XlsxDataSource.readTable(spark, gtest(xlsx)).count() == 20)
    } finally {
      hc.unset("fs.gtest.impl")
      hc.unset("fs.gtest.impl.disable.cache")
    }
  }
}

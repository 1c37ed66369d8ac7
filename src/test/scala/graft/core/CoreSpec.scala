package graft.core

import java.util.zip.ZipInputStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sinks.{Csv => CsvSink}

class CoreSpec extends SparkSpec {
  import spark.implicits._

  test("CSV sink quoted vs naive compat mode (K1/K2)") {
    val df = Seq(("a,b", "plain"), ("say \"hi\"", "x\ny")).toDF("p", "q")
    val quoted = CsvSink.toCsvLines(df).as[String].collect().toSet
    assert(quoted == Set("\"a,b\",plain", "\"say \"\"hi\"\"\",\"x\ny\""))
    val naive = CsvSink.toCsvLines(df, naive = true).as[String].collect().toSet
    assert(naive == Set("a,b,plain", "say \"hi\",x\ny")) // lossy, reference-compatible
    assert(CsvSink.headerLine(df) == "p,q")
  }

  test("TXT sink: value singletons raw, other schemas JSONL (K3)") {
    val d1 = tempDir("txtsink")
    CsvSink.writeTxt(Seq("one", "two").toDF("value"), d1.resolve("a").toString)
    val back = spark.read.text(d1.resolve("a").toString).as[String].collect().toSet
    assert(back == Set("one", "two"))
    CsvSink.writeTxt(Seq((1, "x")).toDF("a", "b"), d1.resolve("b").toString)
    val jsonl = spark.read.text(d1.resolve("b").toString).as[String].collect()
    assert(jsonl.toSeq == Seq("""{"a":1,"b":"x"}"""))
  }

  test("workbook: sheet order, sanitized add, preview caps (P3/K5)") {
    val wide = spark.range(5).select((0 until 25).map(i => lit(i).as(s"c$i")): _*)
    val wb = Workbook("s/1" -> wide, "s/1" -> wide.limit(1))
    assert(wb.names == Seq("s 1", "s 1_1"))
    val p = wb.preview("s 1", maxRows = 2, maxCols = 20)
    assert(p.columns.length == 20 && p.count() == 2)
  }

  test("workbook: empty-sheet filter and zip export naming (P6/K6/K9)") {
    val wb = Workbook("full" -> Seq(("a")).toDF("value"),
      "empty" -> Seq.empty[String].toDF("value"))
    assert(wb.nonEmpty.names == Seq("full"))
    val zip = tempDir("wbzip").resolve("out.zip")
    wb.nonEmpty.writeZip(zip.toString, "base", "txt")(df =>
      df.collect().map(_.getString(0)).mkString("\n").getBytes("UTF-8"))
    val zis = new ZipInputStream(java.nio.file.Files.newInputStream(zip))
    val entry = zis.getNextEntry
    assert(entry.getName == "base/base_full.txt")
    zis.close()
    assert(Workbook.outputName("f", "s2", "csv") == "f_s2.csv")
    assert(Workbook.mergedName(0L) == "merged_19700101_000000.xlsx")
  }

  test("streamed zip export: sheets render straight into entries, O(row) memory (K6)") {
    val wb = Workbook(
      "one" -> Seq(("1", "a,b"), ("2", "q\"q")).toDF("k", "v"),
      "two" -> Seq(("x", "y")).toDF("p", "q"))
    val zip = tempDir("wbzips").resolve("out.zip")
    wb.writeZipStreamed(zip.toString, "base", "csv")(graft.sinks.Csv.writeTo(_, _))
    val zis = new ZipInputStream(java.nio.file.Files.newInputStream(zip))
    val entries = Iterator.continually(zis.getNextEntry).takeWhile(_ != null).map { e =>
      e.getName -> new String(zis.readAllBytes(), "UTF-8")
    }.toMap
    zis.close()
    assert(entries.keySet == Set("base/base_one.csv", "base/base_two.csv"))
    assert(entries("base/base_one.csv") == "k,v\n1,\"a,b\"\n2,\"q\"\"q\"\n")
    assert(entries("base/base_two.csv") == "p,q\nx,y\n")
  }

  test("extension accept lists and (name,size) input dedup (P4/P5)") {
    assert(Workbook.accepted("compare", "A.JSON"))
    assert(!Workbook.accepted("excel-to-other", "a.csv"))
    val dir = tempDir("inputs")
    java.nio.file.Files.writeString(dir.resolve("a.csv"), "x,y\n1,2\n")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "hello\n")
    java.nio.file.Files.writeString(dir.resolve("c.pdf"), "%PDF-....")
    val listed = Workbook.listInputs(spark, dir.toString, "other-to-excel")
      .select("name").as[String].collect().toSet
    assert(listed == Set("a.csv", "b.txt"))
  }

  test("nested-struct flatten to dot paths (R3)") {
    val df = spark.read.json(Seq("""{"a": {"b": {"c": 1}, "d": "x"}, "e": 2}""").toDS())
    val flat = Flatten(df)
    assert(flat.columns.toSet == Set("a.b.c", "a.d", "e"))
    val r = flat.select(col("`a.b.c`"), col("`a.d`")).head()
    assert(r.getLong(0) == 1L && r.getString(1) == "x")
  }
}

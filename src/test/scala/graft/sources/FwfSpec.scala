package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FwfSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir(name).resolve("out").toString

  test("fwf roundtrip: values, nulls, empties; offsets are prefix sums of widths") {
    val df = Seq(
      ("alpha", Some(42L), "x"),
      ("", None, "yy"),
      ("beta", Some(-7L), "")).toDF("a", "b", "c")
    val out = tmp("fwf_rt")
    Fwf.write(df, out, Seq(8, 6, 4))
    // raw layout: fixed 18-char lines, columns at offsets 1/9/15
    val lines = spark.read.text(out).as[String].collect().sorted
    assert(lines.forall(_.length == 18), lines.mkString("|"))
    assert(lines.contains("alpha   42    x   "))
    // null and empty both land as all-pad
    assert(lines.contains("      " + " " * 8 + "yy  "))
    val back = Fwf.read(spark, out, Seq("a" -> 8, "b" -> 6, "c" -> 4))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(back == Set(("alpha", "42", "x"), ("", "", "yy"), ("beta", "-7", "")))
  }

  test("fwf write refuses overflow instead of truncating (shifted-row corruption)") {
    val df = Seq(("toolongvalue", "b")).toDF("a", "b")
    val out = tmp("fwf_ov")
    val e = intercept[Exception] { Fwf.write(df, out, Seq(4, 4)) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("exceeds width")), e.getMessage)
  }

  test("fwf read prunes to one substring per requested column (narrow codegen'd scan)") {
    val df = Seq(("k1", "v1", "z1")).toDF("a", "b", "c")
    val out = tmp("fwf_prune")
    Fwf.write(df, out, Seq(4, 4, 4))
    val plan = Fwf.read(spark, out, Seq("a" -> 4, "b" -> 4, "c" -> 4))
      .select("b").queryExecution.executedPlan.toString
    // the projection carries only the one surviving substring
    assert(plan.contains("substring"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("fwf width/column arity mismatch and bad widths fail loud") {
    val df = Seq(("a", "b")).toDF("x", "y")
    intercept[IllegalArgumentException] { Fwf.toLines(df, Seq(4)) }
    intercept[IllegalArgumentException] { Fwf.toLines(df, Seq(4, 0)) }
    intercept[IllegalArgumentException] { Fwf.read(spark, "/nonexistent", Seq.empty) }
  }
}

package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The pushdown contract: filtering INSIDE the source must be
  * indistinguishable from Spark filtering the same rows after a full
  * scan — for every accepted filter shape, on any data, including the
  * corners where naive Java-string evaluation diverges from Spark
  * (UTF-8 vs UTF-16 order above the BMP, empty cells). */
class StringFiltersSpec extends SparkSpec {

  private def writeXml(rows: Seq[(String, String)]): String = {
    val d = tempDir("sfprop")
    val sb = new StringBuilder("<rows>")
    rows.foreach { case (a, b) =>
      sb.append("<row><a>").append(graft.xml.Xml.esc(a)).append("</a><b>")
        .append(graft.xml.Xml.esc(b)).append("</b></row>")
    }
    sb.append("</rows>")
    java.nio.file.Files.writeString(d.resolve("doc.xml"), sb.toString)
    d.toString
  }

  test("property: pushdown ≡ post-scan on random data × random filter trees (beyond-BMP included)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the pool deliberately spans "", digits of different lengths
    // (lexicographic vs numeric traps), combining accents, the
    // replacement char, and supplementary code points (UTF-8/UTF-16
    // order divergence)
    val pool = Seq("", "a", "z", "28", "299", "aa", "é", "�",
      "a\uD83D\uDE00", "\uD83D\uDE00", "ab c", "x")
    val rowsG = Gen.listOfN(12, Gen.zip(Gen.oneOf(pool), Gen.oneOf(pool)))
    val leaf: Gen[Column] = for {
      c <- Gen.oneOf("a", "b"); v <- Gen.oneOf(pool); op <- Gen.choose(0, 8)
    } yield op match {
      case 0 => col(c) === v
      case 1 => col(c) > v
      case 2 => col(c) < v
      case 3 => col(c) >= v
      case 4 => col(c) <= v
      case 5 => col(c).startsWith(v)
      case 6 => col(c).endsWith(v)
      case 7 => col(c).contains(v)
      case 8 => col(c).isin(pool.take(3): _*)
    }
    def tree(depth: Int): Gen[Column] =
      if (depth == 0) leaf
      else Gen.frequency(
        3 -> leaf,
        1 -> Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (l, r) => l && r },
        1 -> Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (l, r) => l || r },
        1 -> tree(depth - 1).map(!_))
    val prop = Prop.forAll(rowsG, tree(2)) { (rows, pred) =>
      val dir = writeXml(rows)
      val df = graft.xml.Xml.readXml(spark, dir, "row")
      // truth: the SAME predicate evaluated by Spark over a local copy
      // of the full scan — no source, no pushdown
      val local = spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
      def img(x: DataFrame) = x.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      img(df.filter(pred)) == img(local.filter(pred))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("ordering takes Spark's side where UTF-8 and UTF-16 order diverge") {
    // U+1F600 encodes as surrogates D83D DE00 (UTF-16) but bytes F0 9F
    // 98 80 (UTF-8): Java's String order puts it BELOW U+FFFF, Spark's
    // UTF8_BINARY order ABOVE. The evaluator must match Spark.
    import org.apache.spark.sql.sources.GreaterThan
    val emoji = "\uD83D\uDE00"; val high = "\uFFFF"
    assert(emoji.compareTo(high) < 0) // Java disagrees...
    assert(StringFilters.eval(GreaterThan("c", high), _ => emoji)) // ...we don't
  }
}

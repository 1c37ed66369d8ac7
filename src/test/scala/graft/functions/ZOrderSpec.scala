package graft.functions

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(200)
  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  test("spread dilates bits into even positions (known vectors)") {
    assert(ZOrderOps.spread(0) == 0L)
    assert(ZOrderOps.spread(1) == 1L)
    assert(ZOrderOps.spread(2) == 4L)
    assert(ZOrderOps.spread(3) == 5L)
    assert(ZOrderOps.spread(0xffffffff) == 0x5555555555555555L)
    // bit i of x lands at bit 2i
    assert(ZOrderOps.spread(1 << 16) == (1L << 32))
  }

  test("interleave is monotone in each coordinate under SIGNED long order (sort-key contract)") {
    val ints = Gen.chooseNum(Int.MinValue, Int.MaxValue)
    check(Prop.forAll(ints, ints, ints) { (a1, a2, b) =>
      (a1 != a2) ==> {
        val (lo, hi) = if (a1 < a2) (a1, a2) else (a2, a1)
        ZOrderOps.interleave(lo, b) < ZOrderOps.interleave(hi, b)
      }
    })
    check(Prop.forAll(ints, ints, ints) { (b1, b2, a) =>
      (b1 != b2) ==> {
        val (lo, hi) = if (b1 < b2) (b1, b2) else (b2, b1)
        ZOrderOps.interleave(a, lo) < ZOrderOps.interleave(a, hi)
      }
    })
  }

  test("interleave is injective (curve position identifies the point)") {
    val small = Gen.chooseNum(-1000, 1000)
    check(Prop.forAll(small, small, small, small) { (a1, b1, a2, b2) =>
      ((a1, b1) != (a2, b2)) ==>
        (ZOrderOps.interleave(a1, b1) != ZOrderOps.interleave(a2, b2))
    })
  }

  test("expression matches the kernel (interpreted path, incl. extremes)") {
    // a local relation goes through ConvertToLocalRelation → the
    // expression is evaluated INTERPRETED at optimization time, which
    // is exactly the eval path under test here.
    val df = Seq((3, 7), (-1, 0), (Int.MaxValue, Int.MinValue), (0, 0))
      .toDF("a", "b")
      .select(col("a"), col("b"), ZOrderKey(col("a"), col("b")).as("zk"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == ZOrderOps.interleave(r.getInt(0), r.getInt(1)))
    }
  }

  test("expression participates in whole-stage codegen over a real scan") {
    val df = Tables.load(spark, sf, "events")
      .select(ZOrderKey(dayofmonth(col("ts")), hour(col("ts"))).as("zk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("zorder_key"), plan)
    assert(plan.contains("*(1)"), plan) // inside a WholeStageCodegen stage
    // and the compiled path agrees with the kernel
    val both = Tables.load(spark, sf, "events").select(
      ZOrderKey(dayofmonth(col("ts")), hour(col("ts"))).as("zk"),
      dayofmonth(col("ts")).as("dom"), hour(col("ts")).as("hod"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(0) == ZOrderOps.interleave(r.getInt(1), r.getInt(2)))
    }
  }

  test("SQL surface: zorder_key registered via GraftExtensions") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql("SELECT zorder_key(5, 9) AS zk").head().getLong(0)
    assert(r == ZOrderOps.interleave(5, 9))
  }

  test("z-ordered layout skips most files for a 2-D box; shuffled layout skips none") {
    val dims = Tables.load(spark, sf, "events").select(
      dayofmonth(col("ts")).as("dom"), hour(col("ts")).as("hod"), col("value"))

    def fileBoxes(path: String): Seq[(Int, Int, Int, Int)] = {
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("dom").as("dlo"), max("dom").as("dhi"),
          min("hod").as("hlo"), max("hod").as("hhi"))
        .collect().toSeq
        .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    }
    // box predicate: dom in [5,10], hod in [6,11] — a file can be
    // skipped when its min/max rectangle misses the box.
    def intersecting(boxes: Seq[(Int, Int, Int, Int)]): Int =
      boxes.count { case (dlo, dhi, hlo, hhi) =>
        dhi >= 5 && dlo <= 10 && hhi >= 6 && hlo <= 11 }

    val scratch = tempDir("graft_zorder_spec").toString
    dims.withColumn("zk", ZOrderKey(col("dom"), col("hod")))
      .repartitionByRange(16, col("zk")).sortWithinPartitions("zk").drop("zk")
      .write.parquet(s"$scratch/zorder")
    dims.repartition(16) // round-robin: every file sees the full plane
      .write.parquet(s"$scratch/shuffled")

    val z = fileBoxes(s"$scratch/zorder")
    val r = fileBoxes(s"$scratch/shuffled")
    assert(z.size == 16 && r.size == 16, s"${z.size} / ${r.size}")
    val (zHit, rHit) = (intersecting(z), intersecting(r))
    // shuffled: every file's rectangle is (almost) the whole plane.
    assert(rHit >= 15, s"shuffled layout unexpectedly skippable: $rHit/16")
    // z-ordered: the box is ~4% of the plane; at worst a few curve
    // segments cross it.
    assert(zHit <= rHit / 2, s"z-order skipped too little: $zHit vs $rHit")
  }
}

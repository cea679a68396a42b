package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.operators.{Similarity, StageMemo}

/** Gates on [[OuterProductAgg]] — the d≳256 covariance accumulation form:
  * 128-bit cell arithmetic under forced carries, merge across real
  * partials, and bit-equality of the whole dimCorrMatrix output against
  * the default explode form on the fixture.
  */
class OuterProductAggSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("128-bit cells survive sums past Long range, with mixed signs") {
    import spark.implicits._
    // b ~ sqrt(Long.Max): one product ≈ 9.22e18 sits just under Long.Max,
    // so two same-sign rows force the low-word carry; the negative rows
    // then swing the total back below zero — both carry directions hit
    val b = 3037000499L
    val rows = Seq(
      Array(b, b), Array(b, b), Array(b, b),
      Array(-b, b), Array(1000000L, -1000000L))
    val df = rows.toDF("m").repartition(3) // real partial merges
    val out = df.agg(OuterProductAgg.outer_product_agg(col("m"), 2).as("op"))
      .select(explode(col("op")).as("p")).select("p.dim_i", "p.dim_j", "p.sxy")
      .collect()
    assert(out.length == 1)
    val expected = rows.map(r => BigInt(r(0)) * BigInt(r(1))).sum
    assert(expected > BigInt(Long.MaxValue), "test must actually exceed long range")
    assert(out.head.getInt(0) == 0 && out.head.getInt(1) == 1)
    assert(BigInt(out.head.getDecimal(2).toBigInteger) == expected)
  }

  test("upper-triangle layout and exact sums at d=4 vs a BigInt brute force") {
    import spark.implicits._
    val vecs = Seq(
      Array(3L, -7L, 11L, 2L),
      Array(1000000L, 999999L, -1000000L, 5L),
      Array(0L, 1L, -1L, 123456L))
    val out = vecs.toDF("m").repartition(2)
      .agg(OuterProductAgg.outer_product_agg(col("m"), 4).as("op"))
      .select(explode(col("op")).as("p")).select("p.dim_i", "p.dim_j", "p.sxy")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> BigInt(r.getDecimal(2).toBigInteger))
      .toMap
    assert(out.keySet == (for (i <- 0 until 4; j <- i + 1 until 4) yield (i, j)).toSet)
    out.foreach { case ((i, j), s) =>
      val exp = vecs.map(v => BigInt(v(i)) * BigInt(v(j))).sum
      assert(s == exp, s"cell ($i,$j)")
    }
  }

  test("dimCorrMatrix is bit-identical under the accumulator form") {
    val dir = SparkSuite.Sf0001
    // both pair-sum forms run on the same quantized input: the fixture's
    // d=64 sits above the accumulator threshold since r16, so the gated
    // query alone would compare accum against itself
    val e = Similarity.quantizedEmbeddings(spark, dir)
    val d = e.select(size(col("m"))).head().getInt(0)
    val explodePairs = Similarity.pairSumsExplode(e)
    val sorted = (df: org.apache.spark.sql.DataFrame) =>
      df.select("dim_i", "dim_j", "n", "sxy").orderBy("dim_i", "dim_j").collect().toSeq
    assert(sorted(Similarity.pairSumsAccum(e, d)) == sorted(explodePairs),
      "accumulator pair sums diverged from the explode pair sums")
    val explodeForm =
      Similarity.dimCorrFrom(Similarity.marginalSums(e), explodePairs).collect().toSeq
    // audited: the gated form memoizes covariance sums (r16), which would
    // hand this run an earlier run's frames
    val accum = StageMemo.audit(Similarity.dimCorrMatrix(spark, dir)).collect().toSeq
    assert(accum == explodeForm, "accumulator form diverged from the explode form")
  }
}

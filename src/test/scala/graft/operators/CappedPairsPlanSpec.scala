package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSuite}

/** [[Dedup.cappedBucketPairs]] ranks each LSH bucket once: one hash
  * exchange on the bucket keys, one Window, no join on the bucket keys (the
  * star leg is emitted row-locally), and its output and cap telemetry are
  * exactly the capped policy's. */
class CappedPairsPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkSuite.spark

  private def onKeys(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      keys: Set[String]): Boolean = exprs.exists(_.references.exists(a => keys(a.name)))

  test("each capped-pair call plans one exchange and one Window on its bucket keys, and no join") {
    Seq("dedup_minhash_pairs" -> Set("band", "band_hash"),
        "dedup_simhash64_pairs" -> Set("blk", "bval")).foreach { case (q, keys) =>
      val df: DataFrame = StageMemo.audit(SparkEntry.queries(q)(spark, SparkSuite.Sf0001))
      val plan: SparkPlan = df.queryExecution.executedPlan
      val windows = collect(plan) { case w: WindowExec if onKeys(w.partitionSpec, keys) => w }
      val exchanges = collect(plan) {
        case e: ShuffleExchangeExec if onKeys(e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => h.expressions
          case _ => Nil
        }, keys) => e
      }
      val joins = collect(plan) { case j: BaseJoinExec if onKeys(j.leftKeys ++ j.rightKeys, keys) => j }
      assert(windows.size == 1, s"$q: ${windows.size} bucket windows\n$plan")
      assert(exchanges.size == 1, s"$q: ${exchanges.size} bucket exchanges\n$plan")
      assert(joins.isEmpty, s"$q: a join on the bucket keys\n$plan")
      assert(collect(plan) { case c: CollectMetricsExec => c }.isEmpty,
        s"$q: cap telemetry observed inside an audit\n$plan")
      assert(df.collect().nonEmpty)
    }
  }

  test("pairs and cap telemetry match the capped policy on buckets around the cap") {
    import spark.implicits._
    val cap = Dedup.MaxBucket
    // (fam, key) buckets of these sizes; ids repeat across buckets, so the
    // distinct is exercised, and fam is the kept family column
    val sizes = Seq(1, 2, 5, cap, cap + 1, 150, 3 * cap)
    val rows = for ((s, k) <- sizes.zipWithIndex; m <- 0 until s)
      yield (k % 2L, k.toLong, m * 7919L % 10007L)
    val buckets = rows.toDF("fam", "key", "doc_id")
    def policy(keepFam: Boolean): Seq[(Long, Long, Long)] =
      rows.groupBy(r => (r._1, r._2)).toSeq.flatMap { case ((fam, _), ms) =>
        val ids = ms.map(_._3).sorted
        val dense = for (b <- 1 until ids.size.min(cap); a <- 0 until b) yield (ids(a), ids(b))
        (dense ++ ids.drop(cap).map(ids.head -> _)).map { case (a, b) => (if (keepFam) fam else 0L, a, b) }
      }.distinct.sorted
    val kept = Dedup.cappedBucketPairs(buckets, Seq("fam", "key"), tag = "spec_cap", keep = Seq("fam"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(kept == policy(keepFam = true))
    val flat = Dedup.cappedBucketPairs(buckets, Seq("fam", "key"), tag = "spec_cap_flat")
      .as[(Long, Long)].collect().toSeq.map { case (a, b) => (0L, a, b) }.sorted
    assert(flat == policy(keepFam = false))
    val over = sizes.filter(_ > cap)
    val expected = (over.size.toLong, over.map(s => (cap + 1 to s).map(_ - 2L).sum).sum)
    val deadline = System.nanoTime() + 10000000000L
    while (Dedup.CapTelemetry.last("spec_cap_flat").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(Dedup.CapTelemetry.last("spec_cap_flat").contains(expected))
    assert(Dedup.CapTelemetry.last("spec_cap").contains(expected))
  }
}

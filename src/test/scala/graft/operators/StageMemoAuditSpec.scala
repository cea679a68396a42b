package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSuite}

/** Pins the plan-audit scope ([[StageMemo.audit]]): inside it a query that
  * reads memoized stages plans their full lineage and leaves no trace in
  * the memo; outside it the same query reads the memo; and the scope
  * cannot leak past its body.
  */
class StageMemoAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val dir = SparkSuite.Sf0001

  // dedup_minhash_pairs reads the memoized candidate stage;
  // profile_catalog_long reads a memoized pooledUnion build
  private val memoReaders = Seq(
    "dedup_minhash_pairs" -> "candidates",
    "profile_catalog_long" -> "catalog_profile")
  // queries whose in-query shared frames go through StageMemo.shared
  // (embedding_near_dups: inside its memoized pair build)
  private val sharedFrameReaders = Seq(
    "embedding_knn_mutual", "docs_filter_agreement", "text_oov_rate", "embedding_near_dups")

  /** Checkpoint reads in the analyzed (logical) and executed plans. */
  private def checkpointLeaves(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collectLeaves().count(_.isInstanceOf[LogicalRDD]) +
      df.queryExecution.executedPlan.collectLeaves().count(_.isInstanceOf[RDDScanExec])

  test("under audit, memo readers plan their full lineage and record nothing") {
    (memoReaders.map(_._1) ++ sharedFrameReaders).foreach { name =>
      StageMemo.releaseAll()
      StageMemo.resetRebuildTracking()
      StageMemo.beginQuery(s"audit_spec_$name")
      val df = StageMemo.audit(SparkEntry.queries(name)(spark, dir))
      assert(df.collect().nonEmpty)
      assert(checkpointLeaves(df) == 0, s"$name: audited plan reads a checkpoint\n" +
        df.queryExecution.executedPlan)
      assert(StageMemo.residentStages.isEmpty, s"$name: audit left a memo entry")
      assert(StageMemo.lastReaders(Seq(s"audit_spec_$name")).isEmpty,
        s"$name: audit recorded a stage reader")
      assert(StageMemo.rebuildCount == 0, s"$name: audit counted a rebuild")
    }
    StageMemo.beginQuery(null)
  }

  test("outside audit, the same queries read the memo") {
    memoReaders.foreach { case (name, stage) =>
      StageMemo.releaseAll()
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      assert(checkpointLeaves(df) > 0, s"$name: gated plan no longer reads the memo")
      assert(StageMemo.residentStages.contains(stage), s"$name: stage $stage not memoized")
    }
    StageMemo.releaseAll()
  }

  test("the audit scope is per thread and ends when its body throws") {
    val other = java.util.concurrent.Executors.newSingleThreadExecutor()
    val auditingOnOther = new java.util.concurrent.Callable[Boolean] {
      def call(): Boolean = StageMemo.isAuditing
    }
    try {
      // the worker thread starts before the scope is entered
      assert(!other.submit(auditingOnOther).get())
      val err = intercept[IllegalStateException] {
        StageMemo.audit {
          assert(StageMemo.isAuditing)
          assert(!other.submit(auditingOnOther).get(),
            "a thread outside the scope sees audit mode")
          throw new IllegalStateException("boom")
        }
      }
      assert(err.getMessage == "boom")
      assert(!StageMemo.isAuditing, "audit mode outlived a throwing body")
      val df = spark.range(10).toDF("v")
      assert(checkpointLeaves(StageMemo.shared(df)) > 0,
        "shared() outside the scope must checkpoint")
    } finally other.shutdown()
  }
}

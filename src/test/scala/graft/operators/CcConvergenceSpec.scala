package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.profile.FooterAggSpec.jobsOf

/** CC FIXPOINT DRIVER-PACING GATE (VERDICT r16 #9): the min-label
  * propagation loop is an eager driver iteration — each round costs one
  * localCheckpoint action, which also carries the changed-label count (the
  * per-round checkpoint cadence that keeps plan depth bounded, pinned by
  * OperatorSpec's plan-depth test; the jobs per round are pinned here).
  * At 100 TB the round COUNT is therefore the driver-pacing budget of a
  * clustering pass. This spec pins it on the REAL fixture graph: the
  * near-dup pair graph's components are shallow (handfuls of documents),
  * so convergence must land within JumpAfter + a couple of jumped rounds
  * — a regression in the adaptive pointer-jumping step (or a silently
  * deepened graph) shows up here as extra rounds, not as an unexplained
  * bench slowdown. The pathological path (non-convergence at maxIters)
  * already THROWS — OperatorSpec "throws instead of returning wrong
  * labels" — so a deep graph can never spin unbounded or merge-under.
  */
class CcConvergenceSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val JumpAfterRounds = 4
  private val PlainRoundJobs = 6

  test("fixture near-dup graph converges within the shallow-graph round budget") {
    StageMemo.clear() // the pair graph below is built fresh, not read from a memo
    val (edges, seed) = Dedup.nearDupGraph(spark, SparkSuite.Sf001)
    val (labels, rounds) = Dedup.propagateMinLabels(edges, seed, maxIters = 20)
    assert(labels.count() > 0)
    // JumpAfter = 4 plain rounds, then pointer jumping halves label paths:
    // the fixture's shallow components must converge in <= 8 rounds (one
    // extra round is the convergence-detection pass itself)
    assert(rounds >= 1 && rounds <= 8,
      s"CC fixpoint took $rounds rounds on the fixture — driver pacing regressed")
    StageMemo.clear() // leave no memoized stage bound to this spec's run
  }

  test("each round is one checkpoint action: the changed-label count rides its job") {
    StageMemo.clear()
    val (edges, seed) = Dedup.nearDupGraph(spark, SparkSuite.Sf001)
    edges.count() // the pair graph's own build runs outside the measured groups
    val (_, seedJobs) = jobsOf(spark, "cc_seed")(seed.localCheckpoint())
    val ((_, rounds), jobs) = jobsOf(spark, "cc_rounds") {
      Dedup.propagateMinLabels(edges, seed, maxIters = 20)
    }
    // the fixture converges before JumpAfter, so every round is a plain
    // one: its checkpoint's AQE stage jobs and nothing else. Measured: 11
    // jobs over 2 rounds beyond the seed's own checkpoint; a separate
    // count of changed labels added 2 jobs per round (15)
    assert(rounds < JumpAfterRounds)
    assert(jobs - seedJobs <= PlainRoundJobs * rounds,
      s"${jobs - seedJobs} jobs for $rounds rounds — a round runs more than its checkpoint action")
    StageMemo.clear()
  }

  test("round budget scales as O(log diameter) past JumpAfter, not O(diameter)") {
    import spark.implicits._
    val chain = (1000L to 1127L).map(i => (i, i + 1)) // diameter 128
    val raw = chain.toDF("id_a", "id_b")
    val edges = raw.unionAll(raw.select($"id_b".as("id_a"), $"id_a".as("id_b")))
    val seed = edges.select($"id_a".as("doc_id")).distinct()
      .withColumn("label", $"doc_id")
    val (_, rounds) = Dedup.propagateMinLabels(edges, seed, maxIters = 20)
    // 4 plain rounds cover distance 4; jumping then doubles reach per
    // round: distance-128 labels need ~log2(128/4) ≈ 5-6 jumped rounds
    assert(rounds <= 14, s"diameter-128 chain took $rounds rounds — jumping regressed")
  }
}

package graft.operators

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** TEMPLATE-HUB stress (VERDICT r7 #6): one document near-duplicated 2000×
  * — the boilerplate/mirror-page shape that puts thousands of members into
  * a single LSH band bucket. Without the [[Dedup.MaxBucket]] cap the
  * bucket's pair OUTPUT is n²/2 (2M pairs here, 5·10¹¹ at a 10⁶-copy web
  * hub) concentrated in ONE join task; the cap bounds it to cap²/2 + n per
  * bucket while the star leg keeps the family connected for clustering.
  * Pinned here: bounded pair volume, bounded per-task skew (records and
  * time), and cluster connectivity across the planted family. */
class HubSkewSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private val HubN = 2000
  private val HubBase = 500000L
  private val Template =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
      "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"

  /** 200 organic sf0.001 docs + 2000 byte-identical template docs. The
    * derived corpus (corpusWithNearDups) adds first-word-dropped twins of
    * everything, so the pipeline sees TWO ~2000-member template buckets. */
  private lazy val hubDir: String = {
    val tmp = Files.createTempDirectory("graft_hub").toString
    val organic = spark.read.parquet(s"${SparkSuite.Sf0001}/documents.parquet")
      .filter(col("doc_id") < 200)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val hub = spark.range(HubBase, HubBase + HubN)
      .select(col("id").as("doc_id"), lit(Template).as("text"),
        lit("en").as("lang"), lit("hub").as("source"),
        lit(Template.length.toLong).as("n_chars"))
    organic.unionByName(hub).coalesce(4)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def isHub(id: Long): Boolean = {
    val base = id % 1000000L // derived twins sit at +1e6
    base >= HubBase && base < HubBase + HubN
  }

  /** Per-task shuffle-write records + CPU times (ms), restricted to jobs in
    * our job group (other suites may share the session). CPU time, not run
    * time: a task's wall clock also counts the time it waits behind other
    * processes on a busy box, which reads as skew. */
  private class GroupTaskStats(group: String) extends SparkListener {
    private val myStages = TrieMap.empty[Int, Unit]
    val written = TrieMap.empty[Long, Long]
    val cpuTime = TrieMap.empty[Long, Long]
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (Option(js.properties).exists(p => group == p.getProperty("spark.jobGroup.id")))
        js.stageIds.foreach(id => myStages.put(id, ()))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (myStages.contains(te.stageId) && te.taskMetrics != null) {
        written.put(te.taskInfo.taskId, te.taskMetrics.shuffleWriteMetrics.recordsWritten)
        cpuTime.put(te.taskInfo.taskId, te.taskMetrics.executorCpuTime / 1000000L)
      }
  }

  test("a 2000-copy template hub yields linear pair volume and bounded task skew") {
    StageMemo.clear()
    val stats = new GroupTaskStats("hub_skew_build")
    spark.sparkContext.addSparkListener(stats)
    spark.sparkContext.setJobGroup("hub_skew_build", "hub skew stress")
    val pairs =
      try Dedup.minhashCandidatePairs(spark, hubDir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      finally spark.sparkContext.clearJobGroup()
    Thread.sleep(3000) // listener bus drains asynchronously
    spark.sparkContext.removeSparkListener(stats)

    val hubPairs = pairs.filter { case (a, b) => isHub(a) && isHub(b) }
    // uncapped, ONE template bucket alone emits C(2000,2) ≈ 2.0M pairs;
    // capped, each bucket contributes ≤ C(64,2) + (2000-64) ≈ 4k
    assert(hubPairs.length >= 3900, s"hub family lost connectivity pairs: ${hubPairs.length}")
    assert(hubPairs.length <= 100000,
      s"hub pair volume ${hubPairs.length} — bucket cap not applied")
    // the star leg must reach EVERY hub member (connectivity for clustering)
    val covered = hubPairs.flatMap(p => Seq(p._1, p._2)).toSet
    val expected = (0 until HubN).map(HubBase + _).toSet
    assert(expected.subsetOf(covered), s"${(expected -- covered).size} hub docs unpaired")

    // skew, deterministically: no task may write a quadratic bucket's pair
    // volume into the distinct's shuffle (uncapped: millions from one task)
    val writes = stats.written.values.toSeq
    assert(writes.nonEmpty, "listener saw no tasks — job-group filter broken?")
    assert(writes.max <= 200000L,
      s"one task wrote ${writes.max} shuffle records — quadratic bucket survived the cap")
    // skew, as CPU time: when any task is costly enough to measure, it must
    // not dwarf the median (guarded against millisecond noise)
    val times = stats.cpuTime.values.filter(_ > 0L).toSeq.sorted
    if (times.nonEmpty && times.max >= 500L) {
      val median = math.max(times(times.size / 2), 20L)
      assert(times.max <= 25L * median,
        s"max task CPU ${times.max} ms vs median $median ms — skew bound blown")
    }
  }

  test("cap telemetry: the hub build reports its capped buckets and skipped enumerations") {
    // the first test's build already executed cappedBucketPairs over the
    // hub corpus; the observe counters must be visible after the fact.
    // Re-force deterministically in case test ordering ever changes:
    Dedup.minhashCandidatePairs(spark, hubDir).count()
    val (cappedBuckets, droppedPairs) = Dedup.CapTelemetry.last("minhash_bands")
      .getOrElse(fail("no cap telemetry recorded for the minhash band build"))
    // the template family and its first-word-dropped twins (J ≈ 0.95, so
    // their 8-hash sigs usually coincide) land in 1-2 giant buckets per
    // band × 4 bands ⇒ at least 4 capped buckets; each skips ≥ C(2000,2) −
    // C(64,2) − 1936 ≈ 2.0M enumerations, so the total is in the millions
    // — assert orders of magnitude, not exact counts, so organic bucket
    // composition can shift without breaking the pin
    assert(cappedBuckets >= 4, s"capped_buckets = $cappedBuckets, expected >= 4")
    assert(droppedPairs > 10000000L,
      s"dropped_pairs = $droppedPairs — the 2000-copy hub should skip ~2M enumerations per bucket")
    // and an organic corpus (sf0.001, largest bucket << cap) reports ZERO
    StageMemo.clear()
    Dedup.minhashCandidatePairs(spark, SparkSuite.Sf0001).count()
    assert(Dedup.CapTelemetry.last("minhash_bands").contains((0L, 0L)),
      s"organic corpus reported ${Dedup.CapTelemetry.last("minhash_bands")} — expected (0, 0)")
  }

  test("the simhash multi-index survives the hub through the same cap") {
    // 2000 byte-identical templates share ONE simhash, so every one of the
    // C(blocks,2) probe buckets holds the whole family — the exact shape
    // that was quadratic before cappedBucketPairs covered this family too
    // (round-8 review: the cap was special-cased in the minhash bands).
    val pairs = Dedup.simhashHammingPairs(spark, hubDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val hubPairs = pairs.filter { case (a, b) => isHub(a) && isHub(b) }
    // uncapped: ≥ C(2000,2) ≈ 2.0M hub pairs; capped: ≤ probes × (dense + star)
    assert(hubPairs.nonEmpty, "hub family lost from the simhash pair graph")
    assert(hubPairs.length <= 100000,
      s"simhash hub pair volume ${hubPairs.length} — bucket cap not applied")
    // star legs keep every hub member attached (identical sigs ⇒ ham 0 ≤ 3,
    // so no candidate is lost to the hamming filter — coverage is exact)
    val covered = hubPairs.flatMap(p => Seq(p._1, p._2)).toSet
    val expected = (0 until HubN).map(HubBase + _).toSet
    assert(expected.subsetOf(covered), s"${(expected -- covered).size} hub docs unpaired (simhash)")
  }

  test("the hub family collapses into one cluster through the capped pair graph") {
    val clusters = Dedup.dedupClustersStar(spark, hubDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val labels = (0 until HubN).map(i => clusters.get(HubBase + i)).toSet
    assert(!labels.contains(None), "a hub doc is missing from the cluster output")
    assert(labels.size == 1,
      s"hub family split into ${labels.size} clusters — star leg lost connectivity")
    // the derived (first-word-dropped) twins form a connected family too
    val derived = (0 until HubN).map(i => clusters.get(1000000L + HubBase + i)).toSet
    assert(!derived.contains(None) && derived.size == 1,
      s"derived hub family not a single cluster: ${derived.size}")
  }
}

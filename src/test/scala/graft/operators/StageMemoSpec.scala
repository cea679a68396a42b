package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the memo's bounded-residency contract (VERDICT r14 #1): release
  * must actually FREE the checkpoint blocks (not merely drop the map entry
  * and hope a GC runs), a released stage must transparently rebuild for a
  * later consumer, and the warmup-learned reader attribution must name each
  * stage's last consumer under the bench's run order.
  */
class StageMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Persisted-block byte total across the block manager — localCheckpoint
    * blocks are ordinary persisted RDD blocks, so a successful release is
    * visible as this dropping back down. */
  private def persistedRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("releaseAll frees checkpoint blocks immediately and stages rebuild") {
    StageMemo.releaseAll()
    val before = persistedRddIds
    var builds = 0
    def stage() = StageMemo(spark, "/tmp", "memo_spec_stage") {
      builds += 1
      spark.range(1000).select(col("id"), md5(col("id").cast("string")).as("h"))
    }
    val r1 = stage().count()
    assert(builds == 1)
    val afterBuild = persistedRddIds
    assert((afterBuild -- before).nonEmpty,
      "the eager localCheckpoint must register a persisted RDD")
    stage().count()
    assert(builds == 1, "second read must hit the memo, not rebuild")
    StageMemo.releaseAll()
    assert((persistedRddIds -- before).isEmpty,
      "release must unpersist the stage's blocks NOW, not at a future GC")
    val r2 = stage().count()
    assert(builds == 2, "a released stage must rebuild for a later consumer")
    assert(r1 == r2)
    StageMemo.releaseAll()

    // a build that already ends in cuts: a union of two truncated frames
    val sc = spark.sparkContext
    val rec = graft.QueryRecorder.install(sc)
    try {
      def cuts() = StageMemo.truncate(spark.range(0, 500).toDF("id"))
        .union(StageMemo.truncate(spark.range(500, 1000).toDF("id")))
      def cutStage() = StageMemo(spark, "/tmp", "memo_spec_cut_union")(cuts())
      graft.QueryRecorder.time(sc, "memo_spec_cuts")(cuts())
      val base = persistedRddIds // the probe's cuts stay until a GC frees them
      val u1 = graft.QueryRecorder.time(sc, "memo_spec_cut_build")(cutStage())
      assert(u1.error.isEmpty, u1.error)
      val jobs = rec.drain(sc)
      assert(jobs("memo_spec_cut_build").jobs == jobs("memo_spec_cuts").jobs,
        s"the memo wrote a build that already ends in cuts a second time: $jobs")
      val cutRdds = persistedRddIds -- base
      assert(cutRdds.size == 2, s"the memo must keep both cuts as they are: $cutRdds")
      val rows1 = cutStage().collect().map(_.getLong(0)).sorted
      assert(rows1.toSeq == (0L until 1000L))
      StageMemo.releaseAll()
      assert((persistedRddIds -- base).isEmpty,
        "release must unpersist every cut under a kept union, not only the first")
      assert(cutStage().collect().map(_.getLong(0)).sorted.toSeq == rows1.toSeq,
        "a released union of cuts must rebuild the same rows")
    } finally sc.removeSparkListener(rec)
    StageMemo.releaseAll()
  }

  test("a build that returns a resident stage's frame is cut again; releasing it keeps that stage readable") {
    StageMemo.releaseAll()
    def owner() = StageMemo(spark, "/tmp", "memo_spec_owner") {
      spark.range(100).select((col("id") * 3).as("v"))
    }
    val rows = owner().collect().map(_.getLong(0)).sorted
    val ownerRdds = persistedRddIds
    StageMemo(spark, "/tmp", "memo_spec_alias")(owner()).count()
    StageMemo.releaseAfter("q_alias", Map("memo_spec_alias" -> "q_alias"))
    assert(StageMemo.residentStages.contains("memo_spec_owner"))
    assert(ownerRdds.subsetOf(persistedRddIds),
      "releasing the alias freed blocks the owner stage still serves")
    assert(owner().collect().map(_.getLong(0)).sorted.toSeq == rows.toSeq)
    StageMemo.releaseAll()
  }

  test("static scan: StageMemo is the only materializer; no Throwable catch, no memoStage") {
    import graft.GraftSessionSpec.codeMatches
    val cuts = codeMatches("src/main/scala", "localCheckpoint")
    assert(cuts == Seq("graft/operators/StageMemo.scala"), s"lineage cuts outside StageMemo: $cuts")
    val catches = codeMatches("src/main/scala", ":\\s*Throwable\\s*=>")
    assert(catches.isEmpty, s"Throwable catches (use NonFatal): $catches")
    val wrappers = codeMatches("src/main/scala", "memoStage")
    assert(wrappers.isEmpty, s"memo wrappers (call StageMemo directly): $wrappers")
  }

  test("reader attribution names each stage's last consumer; releaseAfter frees exactly its stages") {
    StageMemo.releaseAll()
    def read(stage: String) = StageMemo(spark, "/tmp", stage) {
      spark.range(10).withColumnRenamed("id", stage.take(4))
    }.count()
    // simulated warmup order: q1 reads A; q2 reads A and B; q3 reads B
    // (with a dir-dependent numeric suffix that must normalize away)
    StageMemo.beginQuery("q1"); read("memo_spec_a")
    StageMemo.beginQuery("q2"); read("memo_spec_a"); read("memo_spec_b_77")
    StageMemo.beginQuery("q3"); read("memo_spec_b_9999")
    val last = StageMemo.lastReaders(Seq("q1", "q2", "q3"))
    assert(last.get("memo_spec_a").contains("q2"))
    assert(last.get("memo_spec_b").contains("q3"))
    val base = persistedRddIds
    StageMemo.releaseAfter("q1", last)
    assert(persistedRddIds == base, "q1 is nothing's last reader")
    StageMemo.releaseAfter("q2", last)
    // stage A gone (rebuild increments nothing observable here, so check
    // via the persisted-RDD set shrinking), both B variants still resident
    assert(persistedRddIds.size == base.size - 1,
      "releaseAfter(q2) must free exactly stage A's blocks")
    StageMemo.releaseAfter("q3", last)
    // BOTH raw B stages normalize to memo_spec_b, so q3's release frees both
    assert(persistedRddIds.size == base.size - 3,
      "releaseAfter(q3) must free every stage normalizing to memo_spec_b")
    StageMemo.releaseAll()
  }

  test("rebuilds of released stages are counted against the billing query (ADVICE r15)") {
    StageMemo.releaseAll()
    StageMemo.resetRebuildTracking()
    def read(stage: String) = StageMemo(spark, "/tmp", stage) {
      spark.range(10).withColumnRenamed("id", "v")
    }.count()
    StageMemo.beginQuery("qa"); read("memo_spec_rb")
    assert(StageMemo.rebuildCount == 0, "a first build is not a rebuild")
    StageMemo.releaseAfter("qa", Map("memo_spec_rb" -> "qa"))
    // a consumer arriving AFTER the stage's inferred last reader: the
    // rebuild must be visible, attributed to the query that paid for it
    StageMemo.beginQuery("qb"); read("memo_spec_rb")
    assert(StageMemo.rebuildCount == 1)
    assert(StageMemo.rebuildLog.get("memo_spec_rb").contains(Set("qb")))
    // the tracking window resets cleanly (bench opens it post-warmup)
    StageMemo.resetRebuildTracking()
    assert(StageMemo.rebuildCount == 0 && StageMemo.rebuildLog.isEmpty)
    StageMemo.beginQuery("qc"); read("memo_spec_rb")
    assert(StageMemo.rebuildCount == 0,
      "after a reset, a build of a never-since-released stage is not a rebuild")
    StageMemo.releaseAll()
  }
}

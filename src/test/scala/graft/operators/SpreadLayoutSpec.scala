package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSuite}

/** The one spreading policy ([[graft.Fixtures.spread]]): a scan-rooted
  * derivation is repartitioned only when its input reads as fewer splits
  * than cores. A single-file fixture still spreads; a multi-file layout of
  * the same rows is read in place, with no round-robin exchange, and every
  * query gives the same rows on both layouts. */
class SpreadLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** sf0.001 `documents` and `embeddings` rewritten as 4 part files each. */
  private lazy val multiDir: String = {
    val dir = Files.createTempDirectory("graft_layout").toString
    Seq("documents", "embeddings").foreach { t =>
      spark.read.parquet(s"${SparkSuite.Sf0001}/$t.parquet").repartition(4)
        .write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("static scan: no repartition sized by defaultParallelism under operators/") {
    val sized = graft.GraftSessionSpec.codeMatches("src/main/scala/graft/operators",
      "\\.repartition\\([^)]*defaultParallelism")
    assert(sized.isEmpty, s"repartition(defaultParallelism) outside Fixtures.spread: $sized")
  }

  test("the near-dup corpus spreads a single-file scan and reads a multi-file one in place") {
    def roundRobin(dir: String): Boolean = Dedup.corpusWithNearDups(spark, dir)
      .queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
    assert(roundRobin(SparkSuite.Sf0001), "the single-file fixture no longer spreads")
    assert(!roundRobin(multiDir), "the multi-file corpus is shuffled before use")
  }

  test("dedup and semdedup rows are equal across the two layouts") {
    Seq("dedup_minhash_pairs", "dedup_simhash64_pairs", "dedup_keep_best", "semdedup").foreach { q =>
      def rows(dir: String): Seq[String] =
        SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq.sorted
      val single = rows(SparkSuite.Sf0001)
      assert(single.nonEmpty, s"$q: no rows on the fixture")
      assert(rows(multiDir) == single, s"$q: rows differ between the layouts")
    }
    StageMemo.releaseAll()
  }
}

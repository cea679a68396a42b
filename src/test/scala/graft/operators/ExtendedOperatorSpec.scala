package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.profile.ProfileQueries
import graft.sources.TableSources

class ExtendedOperatorSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val dir = SparkSuite.Sf0001

  test("approx NDV (HLL) lands within 5% of exact NDV on every lineitem column") {
    val exact = ProfileQueries.ndv(spark, dir, "lineitem").collect()(0)
    val approx = ProfileQueries.approxNdv(spark, dir, "lineitem").collect()(0)
    exact.schema.fieldNames.foreach { f =>
      val e = exact.getLong(exact.fieldIndex(f)).toDouble
      val a = approx.getLong(approx.fieldIndex(f)).toDouble
      assert(math.abs(a - e) / math.max(e, 1.0) <= 0.05, s"$f: exact=$e approx=$a")
    }
  }

  test("salted skew join equals the plain join") {
    val salted = Relational.saltedSupplierRevenue(spark, dir).collect().map(_.toSeq)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val plain = li.join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("s_suppkey").collect().map(_.toSeq)
    assert(salted.toSeq == plain.toSeq)
  }

  test("simhash hamming pairs recover planted near-dups and only close pairs") {
    val pairs = Dedup.simhashHammingPairs(spark, dir).collect()
    assert(pairs.forall(_.getLong(2) <= 3))
    val planted = pairs.count(r => r.getLong(1) == r.getLong(0) + 1000000L)
    // dropping one word flips few bits of a 30-bit simhash; most planted
    // pairs must land within hamming 3
    assert(planted >= 300, s"planted recovered: $planted/500")
  }

  test("sessionization: session counts are consistent with event counts") {
    val s = EventOps.sessionize(spark, dir).collect()
    assert(s.nonEmpty)
    s.foreach { r =>
      val (nSess, nEv, longest) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nSess >= 1 && nSess <= nEv)
      assert(longest >= 1 && longest <= nEv - nSess + 1)
    }
    assert(s.map(_.getLong(2)).sum == 1000L) // every event in exactly one session
  }

  test("csv and json sources round-trip documents losslessly") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val expected = docs.orderBy("doc_id").collect().map(_.toSeq).toSeq
    for (fmt <- Seq(TableSources.Csv, TableSources.Json, TableSources.Orc)) {
      val tmp = java.nio.file.Files.createTempDirectory(s"src_${fmt.name}").toString + "/t"
      TableSources.write(docs, tmp, fmt)
      val back = TableSources.read(spark, tmp, fmt, Some(docs.schema))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(back == expected, s"round-trip mismatch for ${fmt.name}")
    }
  }

  test("scale-safe equi-depth histogram matches the ntile twin up to tie-splitting") {
    val fast = ProfileQueries.quantityDepthHistogram(spark, dir).collect()
    val ntile = ProfileQueries.quantityDepthHistogramNtile(spark, dir).collect()
    val n = fast.map(_.getLong(1)).sum
    assert(ntile.map(_.getLong(1)).sum == n, "twins disagree on total row count")
    assert(fast.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // boundary bucketing keeps a run of equal values together, so each
    // bucket's depth may deviate from exact n/4 by at most the largest
    // single-value tie run
    val maxTieRun = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_quantity").count().agg(max("count")).collect()(0).getLong(0)
    fast.foreach { r =>
      val dev = math.abs(r.getLong(1) - n / 4.0)
      assert(dev <= maxTieRun + 1,
        s"bucket ${r.getLong(0)} depth ${r.getLong(1)} deviates $dev > tie-run $maxTieRun")
    }
    // buckets tile the domain in order
    val los = fast.map(_.getDouble(2)); val his = fast.map(_.getDouble(3))
    assert(los.zip(his).forall { case (l, h) => l <= h })
    assert(his.init.zip(los.tail).forall { case (h, l) => h <= l })
  }

  test("near-dup family leaves no CacheManager entries behind (r5 ADVICE leak)") {
    // shared pipeline stages are localCheckpoint blocks (ContextCleaner-
    // managed), never Dataset.persist caches — so running the whole family
    // must leave the CacheManager exactly as empty as it started
    spark.sharedState.cacheManager.clearCache()
    StageMemo.clear()
    Dedup.minhashJaccardEstimate(spark, dir).collect()
    Dedup.nearDupTriangles(spark, dir).collect()
    Dedup.minhashCandidatePairs(spark, dir).collect()
    Dedup.simhashHammingPairs(spark, dir).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a dedup-family query registered a Dataset.persist cache it never released")
  }

  test("materialized candidate-pair stage equals the declarative pipeline plan") {
    val staged = Dedup.minhashCandidatePairs(spark, dir).collect().map(_.toSeq).toSeq
    val declarative = StageMemo.audit(Dedup.minhashCandidatePairs(spark, dir))
      .collect().map(_.toSeq).toSeq
    assert(staged == declarative)
  }
}

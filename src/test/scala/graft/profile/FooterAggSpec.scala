package graft.profile

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.catalog.{CatalogEntry, TableEnumerator}

class FooterAggSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("footer mode serves orders with zero Spark jobs and matches a full scan") {
    val path = s"${SparkSuite.Sf0001}/orders.parquet"
    val (p, jobs) = FooterAggSpec.jobsOf(spark, "footer_orders") {
      Profiler.profileEntryFooter(spark, CatalogEntry("public", "orders", path), Set.empty)
    }
    assert(jobs == 0, s"footer mode launched $jobs Spark jobs")
    val scan = spark.read.parquet(path).agg(
      min("o_orderkey"), max("o_orderkey"),
      min("o_totalprice"), max("o_totalprice"), count(lit(1))).collect()(0)
    val byName = p.columns.map(c => c.name -> c).toMap
    val served = Seq(byName("o_orderkey"), byName("o_totalprice")).flatMap(c => Seq(c.min.get, c.max.get))
    assert(served == scan.toSeq.take(4))
    assert(p.rows == EstimatedRows(scan.getLong(4)))
  }

  test("direct footer min/max serves timestamp_ntz columns exactly (no residual scan left)") {
    for ((table, col) <- Seq("lineitem" -> "l_shipdate", "orders" -> "o_orderdate")) {
      val path = s"${SparkSuite.Sf0001}/$table.parquet"
      val served = FooterAgg.read(spark, path).ranges
      assert(served.contains(col), s"$col not servable from footers — footer mode would re-scan rows")
      val Some((mn, mx)) = served(col): @unchecked
      val scan = spark.read.parquet(path).agg(min(column(col)), max(column(col))).collect()(0)
      assert(mn == scan.get(0), s"$col footer min $mn != scan ${scan.get(0)}")
      assert(mx == scan.get(1), s"$col footer max $mx != scan ${scan.get(1)}")
    }
  }

  test("strings are never trusted from footer stats (may be truncated)") {
    val served = FooterAgg.read(spark, s"${SparkSuite.Sf0001}/orders.parquet").ranges
    assert(!served.contains("o_orderstatus"))
  }

  test("schema evolution (INT32 file beside INT64 file) degrades one column, not the table") {
    // same column name, different physical types per file — the footer
    // stats then carry Integer in one file and Long in the other, and the
    // cross-file merge must degrade THAT column to unusable (residual scan
    // covers it) instead of throwing and voiding the whole table's profile
    val dir = java.nio.file.Files.createTempDirectory("footer_evo").toString
    spark.range(0, 10).selectExpr("CAST(id AS INT) AS k", "id AS stable")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val extra = java.nio.file.Files.createTempDirectory("footer_evo2").toString
    spark.range(10, 20).selectExpr("CAST(id AS BIGINT) AS k", "id AS stable")
      .coalesce(1).write.mode("overwrite").parquet(extra)
    // move the INT64 part-file into the INT32 table dir
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(extra))
      .map(_.getPath).filter(_.getName.startsWith("part-")).head
    fs.rename(part, new org.apache.hadoop.fs.Path(dir, "part-evolved.parquet"))
    val served = FooterAgg.read(spark, dir).ranges
    assert(!served.contains("k"), "mixed-type column must be footer-unusable")
    assert(served.contains("stable"), "the clean column must still be served")
    val Some((mn, mx)) = served("stable"): @unchecked
    assert(mn == 0L && mx == 19L, s"stable range ($mn, $mx) != (0, 19)")
  }

  test("footer-mode profile renders identically to the scan-mode estimated profile") {
    val scan = FooterAggSpec.asEstimated(Profiler.profileRoot(spark, SparkSuite.Sf0001, exact = true))
    val footer = Profiler.profileRootFooter(spark, SparkSuite.Sf0001)
    val scanText = graft.render.TableRenderer.render(scan, graft.render.TableRenderer.Estimated)
    val footerText = graft.render.TableRenderer.render(footer, graft.render.TableRenderer.Estimated)
    assert(footerText == scanText)
    assert(footerText.contains("Tables"))
  }

  test("estimated profileRoot launches no job on sf0.001; exact launches two per table, no inference") {
    val tables = TableEnumerator.list(spark, SparkSuite.Sf0001).size
    val (est, estJobs) = FooterAggSpec.jobsOf(spark, "estimated_root") {
      Profiler.profileRoot(spark, SparkSuite.Sf0001, exact = false)
    }
    assert(estJobs == 0, s"estimated mode launched $estJobs jobs; no sf0.001 table has a residual column")
    assert(est.size == tables && est.forall(_.rows.isInstanceOf[EstimatedRows]))
    val (exact, exactJobs) = FooterAggSpec.jobsOf(spark, "exact_root") {
      Profiler.profileRoot(spark, SparkSuite.Sf0001, exact = true)
    }
    // per table: the AQE map stage and the result of the fused aggregate
    assert(exactJobs == 2 * tables, s"exact mode launched $exactJobs jobs over $tables tables")
    assert(exact.size == tables && exact.forall(_.rows.isInstanceOf[ExactRows]))
  }

  test("estimated rendering is identical across the <=64-file and distributed footer branches") {
    // the fixture tables are single files, so the >DistributeThreshold
    // branch of the footer reads (executor-side) was never golden-covered:
    // build an 80-file table and check BOTH branches under the same
    // renderer, against the same rows
    val root = java.nio.file.Files.createTempDirectory("footer_many").toString
    val nFiles = TableEnumerator.DistributeThreshold + 16
    spark.range(0, 8000).selectExpr("id AS k", "CAST(id % 7 AS DOUBLE) AS v")
      .repartition(nFiles)
      .write.mode("overwrite").parquet(s"$root/wide.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val written = TableEnumerator.dataFiles(conf,
      new org.apache.hadoop.fs.Path(s"$root/wide.parquet"))
    assert(written.size > TableEnumerator.DistributeThreshold,
      s"only ${written.size} files — test would exercise the local branch")
    // distributed branch (all files) == local branch (per-file sum) == truth
    val distributed = TableEnumerator.footerRowCount(spark, s"$root/wide.parquet")
    assert(distributed == 8000L, s"distributed footer count $distributed")
    // the rendered estimated profile carries the ~ marker with the footer count
    val (footer, jobs) = FooterAggSpec.jobsOf(spark, "footer_wide") {
      Profiler.profileRootFooter(spark, root)
    }
    assert(jobs == 1, s"footer mode launched $jobs jobs, not the one distributed footer read")
    val scan = FooterAggSpec.asEstimated(Profiler.profileRoot(spark, root, exact = true))
    val footerText = graft.render.TableRenderer.render(footer, graft.render.TableRenderer.Estimated)
    val scanText = graft.render.TableRenderer.render(scan, graft.render.TableRenderer.Estimated)
    assert(footerText.contains("~8000"), footerText)
    assert(footerText == scanText,
      s"footer-mode and scan-mode estimated renders differ:\n$footerText\n---\n$scanText")
  }
}

object FooterAggSpec {

  /** `profiles` with each exact row count re-marked as estimated, so a
    * full scan's counts compare by value with estimated mode's and render
    * under the same header. */
  def asEstimated(profiles: Seq[TableProfile]): Seq[TableProfile] = profiles.map(p => p.rows match {
    case ExactRows(n) => p.copy(rows = EstimatedRows(n))
    case _ => p
  })

  /** `body`'s result and the Spark jobs it launches under job group
    * `group`. A sentinel job in a second group follows it; the listener bus
    * delivers events in order, so once the sentinel's start arrives every
    * job of `body` was counted. */
  def jobsOf[T](spark: SparkSession, group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet(); ()
          case g if g == s"$group-sentinel" => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StageMemo

/** Pins [[QueryRecorder]]: a query's record repeats when the query does, a
  * shuffle shows its bytes, nothing leaks into the next query, and jobs
  * submitted from pool threads are billed to the query that started them. */
class QueryRecorderSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def recording[T](body: QueryRecorder => T): T = {
    val rec = QueryRecorder.install(spark.sparkContext)
    try body(rec) finally spark.sparkContext.removeSparkListener(rec)
  }

  test("a shuffle query records the same counts twice, and nothing leaks into the next query") {
    recording { rec =>
      val sc = spark.sparkContext
      def grouped = spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count()
      assert(grouped.queryExecution.executedPlan.toString.contains("Exchange"))
      Seq("qr_shuffle_1", "qr_shuffle_2").foreach { n =>
        assert(QueryRecorder.time(sc, n)(noop(grouped)).error.isEmpty)
      }
      assert(QueryRecorder.time(sc, "qr_range")(noop(spark.range(1000).toDF())).error.isEmpty)
      val r = rec.drain(sc)
      val (a, b) = (r("qr_shuffle_1"), r("qr_shuffle_2"))
      assert(a.jobs > 0 && a.stages >= 2, s"$a")
      assert((a.jobs, a.stages) == (b.jobs, b.stages), s"$a vs $b")
      assert(a.shuffleBytes > 0 && b.shuffleBytes > 0, s"$a vs $b")
      assert(a.cpuNs > 0 && a.tasks > 0, s"$a")
      assert(r("qr_range").jobs > 0 && r("qr_range").shuffleBytes == 0, s"${r("qr_range")}")
      assert(!r.keys.exists(_.startsWith("query-recorder-drain")), "the sentinel leaked into the record")
    }
  }

  test("pooled catalog branches are billed to the query that started them") {
    // after releaseAll the catalog memo builds, and pooledUnion submits each
    // table's branch from its own pool thread
    StageMemo.releaseAll()
    val groups = new ConcurrentLinkedQueue[String]()
    val seen = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    spark.sparkContext.addSparkListener(seen)
    try recording { rec =>
      val sc = spark.sparkContext
      val t = QueryRecorder.time(sc, "qr_catalog")(
        noop(SparkEntry.queries("profile_catalog_long")(spark, SparkSuite.Sf0001)))
      assert(t.error.isEmpty, s"$t")
      val r = rec.drain(sc)
      // the listener bus delivered the sentinel's events to both listeners
      val billed = groups.asScala.filterNot(_.startsWith("query-recorder-drain")).toSeq
      assert(billed.nonEmpty && billed.forall(_ == "qr_catalog"), s"jobs outside the query: $billed")
      assert(r("qr_catalog").jobs == billed.size, s"${r("qr_catalog")} vs ${billed.size} jobs seen")
      assert(r("qr_catalog").jobs > Fixtures.allTables.size, s"${r("qr_catalog")}: no pooled branches ran")
    } finally {
      spark.sparkContext.removeSparkListener(seen)
      StageMemo.releaseAll()
    }
  }
}

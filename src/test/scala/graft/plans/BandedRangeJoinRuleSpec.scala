package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

class BandedRangeJoinRuleSpec extends AnyFunSuite {

  /** Isolated session per mode, so neither the shared suite session nor the
    * other mode's plans see this spec's optimizer state. */
  private def banded(force: Boolean): SparkSession = {
    val s = SparkSuite.spark.newSession()
    s.experimental.extraOptimizations = Seq(BandedRangeJoinRule)
    s.conf.set(BandedRangeJoinRule.ForceConf, force.toString)
    s
  }

  private val WindowUs = 5L * 60 * 1000000

  /** The NAIVE attribution query — range predicate PLUS a user_id equi key. */
  private def naiveAttribution(s: SparkSession, dir: String = SparkSuite.Sf0001): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tus").as("p_tus"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tus").as("c_tus"))
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_tus") <= col("p_tus") &&
          col("c_tus") >= col("p_tus") - WindowUs)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy("event_id")
  }

  /** Pure range join — NO equi conjunct. joinType "inner" or "left". */
  private def pureRange(s: SparkSession, joinType: String,
      dir: String = SparkSuite.Sf0001): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("tus").as("p_tus"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("tus").as("c_tus"))
    purchases.join(clicks,
        col("c_tus") <= col("p_tus") && col("c_tus") >= col("p_tus") - WindowUs,
        joinType)
      .groupBy("event_id")
      .agg(count(col("c_tus")).as("n_clicks"))
      .orderBy("event_id")
  }

  private def collectPhysical(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectPhysical(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(collectPhysical)
  }

  private def assertNoBnlj(df: DataFrame): Unit =
    assert(!collectPhysical(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "plan contains a nested-loop join")

  test("guard: join with an equi key is NOT banded by default (hash join already wins)") {
    val df = naiveAttribution(banded(force = false))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("__graft_band"),
      s"rule fired on an equi-key join; optimized plan:\n$optimized")
    df.collect()
    assertNoBnlj(df) // user_id equality plans a hash/sort-merge join
  }

  test("forced banding on an equi-key join still matches the manually banded operator") {
    // sf0.01 for a denser pair set; the manual operator is oracle-verified
    // at this SF. Manual is a LEFT join (keeps zero-click purchases), the
    // naive query is INNER — compare on the non-zero subset.
    val s = banded(force = true)
    val df = naiveAttribution(s, SparkSuite.Sf001)
    assert(df.queryExecution.optimizedPlan.toString.contains("__graft_band"),
      "force conf should band even with an equi key")
    val auto = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assertNoBnlj(df)
    val manual = graft.operators.EventOps.purchaseClickAttribution(s, SparkSuite.Sf001)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      .filter(_._2 > 0)
    assert(auto.nonEmpty, "expected at least one attributed purchase at sf0.01")
    assert(auto == manual, s"auto=${auto.size} rows, manual nonzero=${manual.size} rows")
  }

  test("pure range join (no equi key) is banded by default: inner") {
    val s = banded(force = false)
    val df = pureRange(s, "inner")
    assert(df.queryExecution.optimizedPlan.toString.contains("__graft_band"),
      "rule should fire on a pure range join")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assertNoBnlj(df)
    // independent reference: driver-side nested loop (1000 rows)
    val ps = s.read.parquet(s"${SparkSuite.Sf0001}/events.parquet")
      .filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts").cast("timestamp")), col("event_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val cs = s.read.parquet(s"${SparkSuite.Sf0001}/events.parquet")
      .filter(col("event_type") === "click")
      .select(unix_micros(col("ts").cast("timestamp"))).collect().map(_.getLong(0))
    val expected = ps.map { case (pt, id) =>
      id -> cs.count(ct => ct <= pt && ct >= pt - WindowUs).toLong
    }.filter(_._2 > 0).toMap
    assert(got == expected)
  }

  test("pure range LEFT join is banded; preserved side is never duplicated") {
    val s = banded(force = false)
    val df = pureRange(s, "left")
    assert(df.queryExecution.optimizedPlan.toString.contains("__graft_band"),
      "rule should fire on a pure range left join")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assertNoBnlj(df)
    val nPurchases = s.read.parquet(s"${SparkSuite.Sf0001}/events.parquet")
      .filter(col("event_type") === "purchase").count()
    assert(rows.length == nPurchases,
      s"left join lost/duplicated preserved rows: ${rows.length} vs $nPurchases purchases")
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate purchase rows")
    // inner subset must agree with the inner pure-range join
    val inner = pureRange(s, "inner").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach { case (id, n) =>
      assert(inner.getOrElse(id, 0L) == n, s"purchase $id: left=$n inner=${inner.get(id)}")
    }
    assert(rows.exists(_._2 == 0L), "expected at least one zero-click purchase")
  }

  test("left join with the range spelled from the other side flips orientation") {
    val s = banded(force = false)
    // clicks LEFT JOIN purchases ON p <= c <= p+W. Read naively, the
    // replicated (b) side would be clicks = the preserved side; the rule
    // instead picks the equivalent orientation p IN [c-W, c] and replicates
    // purchases — the non-preserved side — so preserved rows never duplicate.
    val ev = s.read.parquet(s"${SparkSuite.Sf0001}/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("tus").as("c_tus"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("tus").as("p_tus"))
    val df = clicks.join(purchases,
        col("c_tus") >= col("p_tus") && col("c_tus") <= col("p_tus") + WindowUs,
        "left")
      .groupBy("event_id").agg(count(col("p_tus")).as("n_purch"))
    assert(df.queryExecution.optimizedPlan.toString.contains("__graft_band"),
      "rule should band via the flipped orientation")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assertNoBnlj(df)
    val cs = clicks.collect().map(r => (r.getLong(0), r.getLong(1)))
    val ps = purchases.collect().map(_.getLong(0))
    assert(got.size == cs.length, "preserved side duplicated or lost")
    cs.foreach { case (ct, id) =>
      val expected = ps.count(pt => ct >= pt && ct <= pt + WindowUs).toLong
      assert(got(id) == expected, s"click $id: got ${got(id)}, expected $expected")
    }
  }

  test("rule leaves non-matching joins alone") {
    val s = banded(force = false)
    val n = s.read.parquet(s"${SparkSuite.Sf0001}/nation.parquet")
    val r = s.read.parquet(s"${SparkSuite.Sf0001}/region.parquet")
    val plain = n.join(r, col("n_regionkey") === col("r_regionkey"))
    assert(!plain.queryExecution.optimizedPlan.toString.contains("__graft_band"))
    assert(plain.count() == 25)
  }

  test("abs(b - a) <= w nearest-neighbour spelling is banded and exact") {
    val s = banded(force = false)
    val ev = s.read.parquet(s"${SparkSuite.Sf0001}/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("tus").as("p_tus"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("tus").as("c_tus"))
    val df = purchases
      .join(clicks, abs(col("c_tus") - col("p_tus")) <= WindowUs)
      .groupBy("event_id").agg(count(lit(1)).as("n_near"))
      .orderBy("event_id")
    assert(df.queryExecution.optimizedPlan.toString.contains("__graft_band"),
      "rule should fire on the abs spelling")
    assertNoBnlj(df)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ps = ev.filter(col("event_type") === "purchase")
      .select("tus", "event_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cs = ev.filter(col("event_type") === "click")
      .select("tus").collect().map(_.getLong(0))
    val expected = ps.map { case (pt, id) =>
      id -> cs.count(ct => math.abs(ct - pt) <= WindowUs).toLong
    }.filter(_._2 > 0).toMap
    assert(got == expected)
  }

  test("events_range_join_auto: a second construction reuses the banded clone (0 Spark jobs)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val spark = SparkSuite.spark
    def construct(): DataFrame =
      graft.SparkEntry.queries("events_range_join_auto")(spark, SparkSuite.Sf0001)
    // the first construction clones the session and infers the events
    // schema in it; a fresh clone per construction would infer it again
    construct()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      construct()
      Thread.sleep(1000) // listener bus is async; let any job event land
      assert(jobs.get() == 0, s"the second construction ran ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(l)
    assert(spark.experimental.extraOptimizations.isEmpty,
      "the banded rule leaked into the caller's session")
  }
}

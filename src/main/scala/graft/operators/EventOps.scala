package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixtures.table

/** Operators over the `events` stream table: JSON props profiling and
  * tumbling-window rollups. `ts` arrives as TIMESTAMP_NTZ (parquet
  * TIMESTAMP(MICROS), not UTC-adjusted) and is converted with
  * `cast(ts as timestamp)` — identity wall-clock under the UTC session —
  * which lands on the same micro-precision instant DuckDB sees.
  */
object EventOps {

  /** JSON profiling: the reference displays `jsonb` columns by type only
    * (`/root/reference/src/listTables.tsx:113-119`); this looks inside —
    * per-event-type stats of the numeric `$.k` field. */
  def jsonProfile(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  val jsonProfileOracle: String =
    """SELECT event_type,
      |  count(*) AS n_events,
      |  count(CAST(props->>'$.k' AS BIGINT)) AS n_with_k,
      |  min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
      |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
      |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** JSON SCHEMA DISCOVERY (round 9): enumerate every key across a JSON
    * column and vote a scalar type per value by lexical shape — the
    * "what's actually inside this jsonb column" profile the reference
    * can't do (it shows the column type only,
    * `/root/reference/src/listTables.tsx:113-119`). Emits one row per
    * (key, inferred type): occurrence count + exact distinct-value count.
    *
    * One `from_json` to MAP<STRING,STRING> per row (single parse, like
    * [[jsonTyped]]), explode, then a keyed aggregate — the key space is
    * schema-sized, so the shuffle is tiny at any corpus size. Scalar
    * values only (a nested object classifies as `string` of its JSON
    * text). The mixed-type classification behavior is spec'd on synthetic
    * data ([[jsonSchemaOf]]); the fixture's uniform `{"k": int}` keeps
    * the gated row deterministic. */
  def jsonSchemaProfile(spark: SparkSession, dir: String): DataFrame =
    jsonSchemaOf(table(spark, dir, "events"), col("props"))

  /** [[jsonSchemaProfile]]'s core over an arbitrary frame/column. */
  def jsonSchemaOf(df: DataFrame, c: org.apache.spark.sql.Column): DataFrame =
    df.filter(c.isNotNull)
      .select(explode(from_json(c, lit("MAP<STRING, STRING>"))).as(Seq("key", "val")))
      .withColumn("vtype",
        when(col("val").isNull, "null")
          .when(col("val").rlike("^-?[0-9]+$"), "int")
          .when(col("val").rlike("^-?[0-9]+\\.[0-9]+$"), "float")
          .when(col("val").isin("true", "false"), "bool")
          .otherwise("string"))
      .groupBy("key", "vtype")
      .agg(count(lit(1)).as("n"), count_distinct(col("val")).as("n_distinct"))
      .orderBy("key", "vtype")

  val jsonSchemaProfileOracle: String =
    """WITH kv AS (
      |  SELECT unnest(json_keys(props)) AS key, props
      |  FROM events WHERE props IS NOT NULL
      |), vals AS (
      |  SELECT key, json_extract_string(props, '$.' || key) AS val FROM kv
      |)
      |SELECT key,
      |  CASE WHEN val IS NULL THEN 'null'
      |       WHEN regexp_matches(val, '^-?[0-9]+$') THEN 'int'
      |       WHEN regexp_matches(val, '^-?[0-9]+\.[0-9]+$') THEN 'float'
      |       WHEN val IN ('true', 'false') THEN 'bool'
      |       ELSE 'string' END AS vtype,
      |  count(*) AS n, count(DISTINCT val) AS n_distinct
      |FROM vals GROUP BY 1, 2 ORDER BY key, vtype""".stripMargin

  /** Typed JSON parsing: `from_json` with an explicit schema — ONE parse
    * per row into a struct (vs one `get_json_object` tree-walk per
    * extracted path), which is the right JSON shape at scale and the one
    * that composes with schema evolution (missing keys → typed nulls, not
    * string surgery). Emits the parsed field per event. */
  def jsonTyped(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("p", from_json(col("props"), lit("STRUCT<k: BIGINT>")))
      .select(col("event_id"), col("p.k").as("k"))
      .orderBy("event_id")

  val jsonTypedOracle: String =
    """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  /** Tumbling 1-hour windows per event type: batch form of the streaming
    * freshness/volume rollup (see graft.streaming). Sum of doubles goes
    * through DECIMAL(28,10) so partial-agg order can't change the result. */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
      .select(
        col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n_events"), col("n_users"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  val hourlyRollupOracle: String =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  /** Behavioral funnel: signup → first click at-or-after signup → first
    * purchase at-or-after that click, per user, plus the reached stage.
    * Each step is a per-user conditional MIN against the previous step's
    * timestamp — three keyed aggregations + two joins on user_id, so every
    * stage is one shuffle on the same key (co-partitioned end to end; at
    * scale the three aggs pipeline on a single exchange). The canonical
    * product-analytics query a GROUP BY alone cannot express (each stage's
    * predicate depends on the previous stage's result). */
  def signupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_type"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tus").as("signup_tus"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(signups, "user_id")
      .filter(col("tus") >= col("signup_tus"))
      .groupBy("user_id").agg(min("tus").as("click_tus"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(clicks, "user_id")
      .filter(col("tus") >= col("click_tus"))
      .groupBy("user_id").agg(min("tus").as("purchase_tus"))
    signups
      .join(clicks.select(col("user_id"), col("click_tus")), Seq("user_id"), "left")
      .join(purchases.select(col("user_id"), col("purchase_tus")), Seq("user_id"), "left")
      .withColumn("stage",
        (lit(1L) + when(col("click_tus").isNotNull, 1L).otherwise(0L)
          + when(col("purchase_tus").isNotNull, 1L).otherwise(0L)))
      .orderBy("user_id")
  }

  val signupFunnelOracle: String =
    """WITH s AS (
      |  SELECT user_id, min(epoch_us(ts)) AS signup_tus
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS click_tus
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s.signup_tus
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_tus
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.click_tus
      |  GROUP BY e.user_id
      |)
      |SELECT s.user_id, s.signup_tus, c.click_tus, p.purchase_tus,
      |  CAST(1 + (CASE WHEN c.click_tus IS NOT NULL THEN 1 ELSE 0 END)
      |    + (CASE WHEN p.purchase_tus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage
      |FROM s LEFT JOIN c ON s.user_id = c.user_id
      |LEFT JOIN p ON s.user_id = p.user_id
      |ORDER BY s.user_id""".stripMargin

  /** TIME-BOUNDED FUNNEL — [[signupFunnel]] with conversion windows, the
    * form a growth team actually ships: the click must land within
    * `clickWindowUs` of the signup and the purchase within
    * `purchaseWindowUs` of that click, so stale conversions stop counting
    * and the funnel becomes comparable across cohorts. Same
    * conditional-min shape (each stage's predicate depends on the
    * previous stage's result) with an upper bound added to each step's
    * band, plus the per-stage lag columns the window sizes are tuned
    * from. Identical shuffle profile to the unbounded funnel: three
    * keyed aggregations + two joins, all on user_id — one co-partitioned
    * exchange end to end. */
  def signupFunnelBounded(spark: SparkSession, dir: String,
      clickWindowUs: Long = 24L * 3600 * 1000000,
      purchaseWindowUs: Long = 72L * 3600 * 1000000): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_type"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tus").as("signup_tus"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(signups, "user_id")
      .filter(col("tus") >= col("signup_tus") &&
        col("tus") <= col("signup_tus") + clickWindowUs)
      .groupBy("user_id").agg(min("tus").as("click_tus"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(clicks, "user_id")
      .filter(col("tus") >= col("click_tus") &&
        col("tus") <= col("click_tus") + purchaseWindowUs)
      .groupBy("user_id").agg(min("tus").as("purchase_tus"))
    signups
      .join(clicks.select(col("user_id"), col("click_tus")), Seq("user_id"), "left")
      .join(purchases.select(col("user_id"), col("purchase_tus")), Seq("user_id"), "left")
      .withColumn("stage",
        (lit(1L) + when(col("click_tus").isNotNull, 1L).otherwise(0L)
          + when(col("purchase_tus").isNotNull, 1L).otherwise(0L)))
      .withColumn("click_lag_us", col("click_tus") - col("signup_tus"))
      .withColumn("purchase_lag_us", col("purchase_tus") - col("click_tus"))
      .orderBy("user_id")
  }

  def signupFunnelBoundedOracle(
      clickWindowUs: Long = 24L * 3600 * 1000000,
      purchaseWindowUs: Long = 72L * 3600 * 1000000): String =
    s"""WITH s AS (
       |  SELECT user_id, min(epoch_us(ts)) AS signup_tus
       |  FROM events WHERE event_type = 'signup' GROUP BY user_id
       |), c AS (
       |  SELECT e.user_id, min(epoch_us(e.ts)) AS click_tus
       |  FROM events e JOIN s ON e.user_id = s.user_id
       |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s.signup_tus
       |    AND epoch_us(e.ts) <= s.signup_tus + $clickWindowUs
       |  GROUP BY e.user_id
       |), p AS (
       |  SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_tus
       |  FROM events e JOIN c ON e.user_id = c.user_id
       |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.click_tus
       |    AND epoch_us(e.ts) <= c.click_tus + $purchaseWindowUs
       |  GROUP BY e.user_id
       |)
       |SELECT s.user_id, s.signup_tus, c.click_tus, p.purchase_tus,
       |  CAST(1 + (CASE WHEN c.click_tus IS NOT NULL THEN 1 ELSE 0 END)
       |    + (CASE WHEN p.purchase_tus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage,
       |  c.click_tus - s.signup_tus AS click_lag_us,
       |  p.purchase_tus - c.click_tus AS purchase_lag_us
       |FROM s LEFT JOIN c ON s.user_id = c.user_id
       |LEFT JOIN p ON s.user_id = p.user_id
       |ORDER BY s.user_id""".stripMargin

  /** A/B SAMPLE-RATIO-MISMATCH check — the first experiment-hygiene gate:
    * users are deterministically assigned to two variants by the shared
    * md5 mix ([[TextAnalysis.mixedHashOf]] — content-independent, stable
    * across reruns/partitionings, the same reason the data splits hash),
    * and the table reports per-variant distinct users and event volume
    * plus the one-degree chi-square SRM statistic in exact half-up micro
    * units (expected 50/50 ⇒ χ² = (u₀−u₁)²/(u₀+u₁)). `srm_flag` trips at
    * the 95 % critical value 3.841459; a tripped flag means the
    * assignment or logging pipeline is dropping one arm's users and every
    * downstream metric is suspect. The squared delta widens through
    * DECIMAL(38,0) before the micro scaling, so the statistic is exact
    * past the ~3·10⁶-user-delta point where int64 would wrap. Shuffle
    * profile: one distinct-user fold on (variant, user), then a 2-group
    * rollup; the 1-row totals recombine by broadcast. */
  def abSrm(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .withColumn("variant", pmod(TextAnalysis.mixedHashOf("ab|", col("user_id")), lit(2)).cast("bigint"))
    val per = ev.groupBy("variant")
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
    val tot = per.agg(
      sum(when(col("variant") === 0, col("n_users")).otherwise(0L)).as("u0"),
      sum(when(col("variant") === 1, col("n_users")).otherwise(0L)).as("u1"))
    per.crossJoin(broadcast(tot))
      .withColumn("srm_chi2_micro", expr(
        """CAST(((CAST(u0 AS DECIMAL(38,0)) - u1) * (CAST(u0 AS DECIMAL(38,0)) - u1) * 1000000
          |  + (u0 + u1) div 2) div (u0 + u1) AS BIGINT)""".stripMargin))
      .withColumn("srm_flag", col("srm_chi2_micro") >= 3841459L)
      .select("variant", "n_users", "n_events", "srm_chi2_micro", "srm_flag")
      .orderBy("variant")
  }

  val abSrmOracle: String = {
    val h = graft.operators.TextAnalysis.mixedHashSql("ab|", "user_id")
    s"""WITH assigned AS (
       |  SELECT user_id, ($h) % 2 AS variant FROM events
       |), per AS (
       |  SELECT variant, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |    CAST(count(*) AS BIGINT) AS n_events
       |  FROM assigned
       |  GROUP BY variant
       |), tot AS (
       |  SELECT CAST(sum(CASE WHEN variant = 0 THEN n_users ELSE 0 END) AS BIGINT) AS u0,
       |         CAST(sum(CASE WHEN variant = 1 THEN n_users ELSE 0 END) AS BIGINT) AS u1
       |  FROM per
       |)
       |SELECT variant, n_users, n_events,
       |  CAST(((CAST(u0 AS HUGEINT) - u1) * (CAST(u0 AS HUGEINT) - u1) * 1000000
       |    + (u0 + u1) // 2) // (u0 + u1) AS BIGINT) AS srm_chi2_micro,
       |  CAST(((CAST(u0 AS HUGEINT) - u1) * (CAST(u0 AS HUGEINT) - u1) * 1000000
       |    + (u0 + u1) // 2) // (u0 + u1) AS BIGINT) >= 3841459 AS srm_flag
       |FROM per, tot ORDER BY variant""".stripMargin
  }

  /** z_{0.025} + z_{0.20} for the classic α=5 %, power=80 % two-sample
    * design — written ONCE and interpolated into both engines' plans so
    * the constant cannot drift. */
  private val PowerZ = "2.801585219"

  /** EXPERIMENT POWER / MDE — the pre-launch sizing read that pairs with
    * [[abSrm]]: under the same deterministic 50/50 assignment, the
    * per-user purchase-value metric's pooled variance and the two-sample
    * MINIMUM DETECTABLE EFFECT at α=5 %/power 80 %
    * (MDE = (z_{α/2}+z_β)·√(s²·(1/n₀+1/n₁))). An experimenter reads this
    * row to learn the smallest lift this user volume can resolve — and
    * whether the planned test is a waste of traffic. Accumulation is
    * exact: values quantize to micro units and fold as DECIMAL(38,0)
    * sums/sums-of-squares (per-user totals square to ~10¹⁸ — past int64
    * on real corpora), and only the final variance/MDE divisions and the
    * correctly-rounded IEEE sqrt run in doubles, so both engines emit
    * bit-identical results. Shuffle profile: one user-keyed purchase
    * fold, one distinct-user frame, a 2-group rollup, broadcast
    * recombine — nothing after the per-user fold is corpus-sized. */
  def powerMde(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val users = ev.select("user_id").distinct()
      .withColumn("variant",
        pmod(TextAnalysis.mixedHashOf("ab|", col("user_id")), lit(2)).cast("bigint"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(expr("CAST(floor(value * 1000000) AS DECIMAL(38,0))")).as("v_micro"))
    val per = users.join(purch, Seq("user_id"), "left")
      .select(col("variant"), coalesce(col("v_micro"), lit(0).cast("decimal(38,0)")).as("v"))
    val byVar = per.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("v").as("s"), sum(expr("v * v")).as("q"))
    val one = byVar.agg(
      sum(when(col("variant") === 0, col("n")).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 1, col("n")).otherwise(0L)).as("n1"),
      sum(when(col("variant") === 0, col("s")).otherwise(lit(0).cast("decimal(38,0)"))).as("s0"),
      sum(when(col("variant") === 1, col("s")).otherwise(lit(0).cast("decimal(38,0)"))).as("s1"),
      sum(when(col("variant") === 0, col("q")).otherwise(lit(0).cast("decimal(38,0)"))).as("q0"),
      sum(when(col("variant") === 1, col("q")).otherwise(lit(0).cast("decimal(38,0)"))).as("q1"))
    // pooled variance as ONE exact integer division — a chained double
    // expression differs in the last ulp between engines (observed:
    // 5.036163093925622e16 vs ...617e16), so every emitted double must be
    // a single IEEE op over exact integers: the variance numerator/
    // denominator fold in DECIMAL(38,0) (fits to ~10⁷ users; past that
    // the two-pass shifted-mean form takes over), and the MDE is one
    // division + one sqrt + one constant multiply over that integer
    // Degenerate-population guard: with an empty arm or ≤2 total users the
    // pooled-variance denominator n0·n1·(n0+n1−2) is zero — Spark's
    // non-ANSI division would silently NULL while DuckDB errors, so both
    // engines gate explicitly and the row reads NULL loudly and identically.
    one.withColumn("pooled_var_micro2", expr(
        """CASE WHEN n0 = 0 OR n1 = 0 OR n0 + n1 <= 2 THEN NULL
          |ELSE CAST(((q0 * n0 - s0 * s0) * n1 + (q1 * n1 - s1 * s1) * n0)
          |  div (CAST(n0 AS DECIMAL(38,0)) * n1 * (n0 + n1 - 2)) AS BIGINT) END""".stripMargin))
      .select(
        col("n0"), col("n1"),
        expr("CASE WHEN n0 = 0 THEN NULL ELSE CAST(s0 div n0 AS BIGINT) END").as("mean0_micro"),
        expr("CASE WHEN n1 = 0 THEN NULL ELSE CAST(s1 div n1 AS BIGINT) END").as("mean1_micro"),
        col("pooled_var_micro2"),
        expr(s"""CASE WHEN n0 = 0 OR n1 = 0 OR n0 + n1 <= 2 THEN NULL
                |ELSE $PowerZ * sqrt(
                |  CAST(pooled_var_micro2 AS DOUBLE) * (n0 + n1) / (n0 * n1)) END""".stripMargin)
          .as("mde_micro"))
  }

  val powerMdeOracle: String = {
    val h = graft.operators.TextAnalysis.mixedHashSql("ab|", "user_id")
    s"""WITH users AS (
       |  SELECT DISTINCT user_id FROM events
       |), assigned AS (
       |  SELECT user_id, ($h) % 2 AS variant FROM users
       |), purch AS (
       |  SELECT user_id, sum(CAST(floor(value * 1000000) AS HUGEINT)) AS v_micro
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
       |), per AS (
       |  SELECT a.variant, COALESCE(p.v_micro, 0) AS v
       |  FROM assigned a LEFT JOIN purch p ON p.user_id = a.user_id
       |), byvar AS (
       |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
       |    sum(v) AS s, sum(v * v) AS q
       |  FROM per GROUP BY variant
       |), one AS (
       |  SELECT
       |    CAST(sum(CASE WHEN variant = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN variant = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
       |    sum(CASE WHEN variant = 0 THEN s ELSE 0 END) AS s0,
       |    sum(CASE WHEN variant = 1 THEN s ELSE 0 END) AS s1,
       |    sum(CASE WHEN variant = 0 THEN q ELSE 0 END) AS q0,
       |    sum(CASE WHEN variant = 1 THEN q ELSE 0 END) AS q1
       |  FROM byvar
       |)
       |, pooled AS (
       |  SELECT n0, n1, s0, s1,
       |    CASE WHEN n0 = 0 OR n1 = 0 OR n0 + n1 <= 2 THEN NULL
       |    ELSE CAST(((q0 * n0 - s0 * s0) * n1 + (q1 * n1 - s1 * s1) * n0)
       |      // (CAST(n0 AS HUGEINT) * n1 * (n0 + n1 - 2)) AS BIGINT) END AS pooled_var_micro2
       |  FROM one
       |)
       |SELECT n0, n1,
       |  CASE WHEN n0 = 0 THEN NULL ELSE CAST(s0 // n0 AS BIGINT) END AS mean0_micro,
       |  CASE WHEN n1 = 0 THEN NULL ELSE CAST(s1 // n1 AS BIGINT) END AS mean1_micro,
       |  pooled_var_micro2,
       |  CASE WHEN n0 = 0 OR n1 = 0 OR n0 + n1 <= 2 THEN NULL
       |  ELSE $PowerZ * sqrt(
       |    CAST(pooled_var_micro2 AS DOUBLE) * (n0 + n1) / (n0 * n1)) END AS mde_micro
       |FROM pooled""".stripMargin
  }

  /** FUNNEL COHORT MATRIX — the bounded funnel rolled to signup-week
    * cohorts: per epoch week index, signups and the exact permille that
    * reached stage 2 (clicked inside the window) and stage 3 (purchased)
    * — the growth team's week-over-week conversion read, comparable
    * ACROSS cohorts precisely because the stage windows are bounded
    * ([[signupFunnelBounded]]). Epoch-week integers avoid the
    * cross-engine date-truncation dialect entirely. One extra
    * |weeks|-group rollup over the funnel's per-user frame. */
  def funnelCohorts(spark: SparkSession, dir: String): DataFrame =
    signupFunnelBounded(spark, dir)
      .withColumn("week_idx", expr("signup_tus div 604800000000"))
      .groupBy("week_idx")
      .agg(count(lit(1)).as("signups"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("clicked"),
        sum(when(col("stage") === 3, 1L).otherwise(0L)).as("purchased"))
      .withColumn("click_permille",
        expr("(clicked * 1000 + signups div 2) div signups"))
      .withColumn("purchase_permille",
        expr("(purchased * 1000 + signups div 2) div signups"))
      .orderBy("week_idx")

  def funnelCohortsOracle: String =
    s"""WITH f AS (${signupFunnelBoundedOracle()})
       |SELECT signup_tus // 604800000000 AS week_idx,
       |  CAST(count(*) AS BIGINT) AS signups,
       |  CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS clicked,
       |  CAST(sum(CASE WHEN stage = 3 THEN 1 ELSE 0 END) AS BIGINT) AS purchased,
       |  (CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000
       |    + CAST(count(*) AS BIGINT) // 2) // CAST(count(*) AS BIGINT) AS click_permille,
       |  (CAST(sum(CASE WHEN stage = 3 THEN 1 ELSE 0 END) AS BIGINT) * 1000
       |    + CAST(count(*) AS BIGINT) // 2) // CAST(count(*) AS BIGINT) AS purchase_permille
       |FROM f GROUP BY week_idx ORDER BY week_idx""".stripMargin

  /** EXPERIMENT LIFT READOUT — the table the other three legs exist for:
    * per variant, distinct users, buyers, exact half-up purchase-rate ppm
    * and mean purchase value (micro), then the observed LIFT (mean₁ −
    * mean₀ as ONE IEEE division of exact integer cross-products — no
    * chained double arithmetic) judged against [[powerMde]]'s minimum
    * detectable effect: `detectable = |lift| ≥ MDE` says whether this
    * experiment CAN even claim the difference it shows, the first
    * question asked of any A/B readout. All inputs are the same exact
    * DECIMAL micro folds the other legs use, so the doubles compared are
    * bit-identical across engines. Shuffle profile: the user-keyed fold
    * + 2-group rollup, with two 1-row broadcasts recombining lift and
    * MDE. */
  def experimentLift(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val users = ev.select("user_id").distinct()
      .withColumn("variant",
        pmod(TextAnalysis.mixedHashOf("ab|", col("user_id")), lit(2)).cast("bigint"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(expr("CAST(floor(value * 1000000) AS DECIMAL(38,0))")).as("v_micro"))
    val per = users.join(purch, Seq("user_id"), "left")
      .select(col("variant"),
        coalesce(col("v_micro"), lit(0).cast("decimal(38,0)")).as("v"),
        when(col("v_micro").isNotNull, 1L).otherwise(0L).as("bought"))
    val byVar = per.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum("bought").as("buyers"),
        sum("v").as("s"))
    val tot = byVar.agg(
      sum(when(col("variant") === 0, col("n_users")).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 1, col("n_users")).otherwise(0L)).as("n1"),
      sum(when(col("variant") === 0, col("s")).otherwise(lit(0).cast("decimal(38,0)"))).as("s0"),
      sum(when(col("variant") === 1, col("s")).otherwise(lit(0).cast("decimal(38,0)"))).as("s1"))
    val mde = powerMde(spark, dir).select(col("mde_micro"))
    byVar
      .withColumn("buy_rate_ppm",
        expr("(buyers * 1000000 + n_users div 2) div n_users"))
      .withColumn("mean_value_micro", expr("CAST(s div n_users AS BIGINT)"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(mde))
      .withColumn("lift_micro",
        // Empty-arm guard: n0·n1 = 0 would NULL in Spark but ±inf under
        // DuckDB's IEEE double division — gate both engines to NULL.
        expr("""CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
               |ELSE CAST(CAST(s1 * n0 - s0 * n1 AS STRING) AS DOUBLE)
               |  / (CAST(n0 AS DECIMAL(38,0)) * n1) END""".stripMargin))
      .withColumn("detectable", abs(col("lift_micro")) >= col("mde_micro"))
      .select("variant", "n_users", "buyers", "buy_rate_ppm",
        "mean_value_micro", "lift_micro", "mde_micro", "detectable")
      .orderBy("variant")
  }

  val experimentLiftOracle: String = {
    val h = graft.operators.TextAnalysis.mixedHashSql("ab|", "user_id")
    s"""WITH users AS (
       |  SELECT DISTINCT user_id FROM events
       |), assigned AS (
       |  SELECT user_id, ($h) % 2 AS variant FROM users
       |), purch AS (
       |  SELECT user_id, sum(CAST(floor(value * 1000000) AS HUGEINT)) AS v_micro
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
       |), per AS (
       |  SELECT a.variant, COALESCE(p.v_micro, 0) AS v,
       |    CASE WHEN p.v_micro IS NOT NULL THEN 1 ELSE 0 END AS bought
       |  FROM assigned a LEFT JOIN purch p ON p.user_id = a.user_id
       |), byvar AS (
       |  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(bought) AS BIGINT) AS buyers, sum(v) AS s
       |  FROM per GROUP BY variant
       |), tot AS (
       |  SELECT
       |    CAST(sum(CASE WHEN variant = 0 THEN n_users ELSE 0 END) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN variant = 1 THEN n_users ELSE 0 END) AS BIGINT) AS n1,
       |    sum(CASE WHEN variant = 0 THEN s ELSE 0 END) AS s0,
       |    sum(CASE WHEN variant = 1 THEN s ELSE 0 END) AS s1
       |  FROM byvar
       |), mde AS (
       |  SELECT mde_micro FROM ($powerMdeOracle) t
       |)
       |SELECT variant, n_users, buyers,
       |  (buyers * 1000000 + n_users // 2) // n_users AS buy_rate_ppm,
       |  CAST(s // n_users AS BIGINT) AS mean_value_micro,
       |  CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
       |  ELSE CAST(CAST(s1 * n0 - s0 * n1 AS VARCHAR) AS DOUBLE)
       |    / (CAST(n0 AS HUGEINT) * n1) END AS lift_micro,
       |  mde_micro,
       |  abs(CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
       |    ELSE CAST(CAST(s1 * n0 - s0 * n1 AS VARCHAR) AS DOUBLE)
       |      / (CAST(n0 AS HUGEINT) * n1) END) >= mde_micro AS detectable
       |FROM byvar, tot, mde ORDER BY variant""".stripMargin
  }

  /** CUPED VARIANCE REDUCTION — the third leg of the experiment stack
    * (with [[abSrm]] and [[powerMde]]): split the event range at its
    * exact midpoint into pre/post periods, fold each user's purchase
    * value per period in MILLI units (quantization chosen so every raw
    * moment below stays inside DECIMAL(38,0)/int128), and report the
    * CUPED adjustment θ = cov(pre,post)/var(pre) plus the variance
    * reduction it buys, ρ² (Deng et al., WSDM 2013). The moments
    * (n·Sxy−SxSy, n·Sxx−Sx², n·Syy−Sy²) are exact integers; θ is ONE
    * IEEE division of two of them, and ρ² is a mul/mul/div chain over
    * them with NO add/sub in double space — a chained add/sub there lets
    * an engine reassociate or fuse the expression and split the engines
    * by ulps (observed on `powerMde`'s first form, rebuilt as one exact
    * integer division), while squaring in integer space overflows
    * DECIMAL(38) once the corpus grows (observed at the 20× probe). An
    * experimenter reads this row to learn how much pre-period data
    * shrinks their confidence intervals — ρ² = 0.30 means 30 % less
    * variance, i.e. 30 % less traffic for the same power. Shuffle
    * profile: one user-keyed conditional fold, one 1-row moment
    * aggregate. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    val mid = ev.agg(expr("(min(tus) + max(tus)) div 2").as("mid_tus"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase" && col("tus") < col("mid_tus"),
          expr("CAST(floor(value * 1000) AS DECIMAL(38,0))")).otherwise(lit(0).cast("decimal(38,0)"))).as("x"),
        sum(when(col("event_type") === "purchase" && col("tus") >= col("mid_tus"),
          expr("CAST(floor(value * 1000) AS DECIMAL(38,0))")).otherwise(lit(0).cast("decimal(38,0)"))).as("y"))
    per.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
        sum(expr("y * y")).as("syy"))
      .select(
        col("n"),
        expr("CAST(sx div n AS BIGINT)").as("mean_pre_milli"),
        expr("CAST(sy div n AS BIGINT)").as("mean_post_milli"),
        // Every DECIMAL→DOUBLE conversion routes THROUGH A STRING: once a
        // moment exceeds 2^53, the direct int128→double cast is rounded
        // differently by the two engines (observed at the 10× whole-suite
        // run, round 12: ρ² split in the last ulp — Spark's
        // BigDecimal.doubleValue vs DuckDB's HUGEINT static-cast), while
        // string→double is CORRECTLY ROUNDED by spec in both (strtod /
        // Double.parseDouble) and decimal→string is exact digits.
        expr("""CASE WHEN n * sxx - sx * sx = 0 THEN NULL
               |ELSE CAST(CAST(n * sxy - sx * sy AS STRING) AS DOUBLE)
               |  / CAST(CAST(n * sxx - sx * sx AS STRING) AS DOUBLE) END""".stripMargin).as("theta"),
        // ρ² squares the covariance — integer squaring overflows
        // DECIMAL(38) once the corpus grows (observed at the 20× probe),
        // so the ratio runs as a SHORT double chain over the exact
        // moments: mul/mul/div only, nothing an optimizer can
        // reassociate, with each conversion string-routed as above
        expr("""CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
               |ELSE CAST(CAST(n * sxy - sx * sy AS STRING) AS DOUBLE) * CAST(CAST(n * sxy - sx * sy AS STRING) AS DOUBLE)
               |  / (CAST(CAST(n * sxx - sx * sx AS STRING) AS DOUBLE) * CAST(CAST(n * syy - sy * sy AS STRING) AS DOUBLE)) END""".stripMargin)
          .as("rho2"),
        // OVERFLOW SENTINEL: the raw moments n·Sxx etc. fit DECIMAL(38,0)
        // only up to ~10⁷ users at this milli quantization (observed at
        // the 20× probe); past that Spark silently NULLs while DuckDB's
        // HUGEINT errors. Flag the approach to the bound VISIBLY, in
        // double space (single IEEE multiplies over exact integers —
        // bit-identical cross-engine), at 1e37 — one decade of margin
        // below DECIMAL(38)'s ceiling.
        // moments route through exact string digits like theta/rho2 above:
        // direct DECIMAL(38)->DOUBLE rounds differently cross-engine past
        // 2^53, and a product an ulp from 1e37 must not flip the flag
        expr("""greatest(
               |  CAST(n AS DOUBLE) * CAST(CAST(sxx AS STRING) AS DOUBLE),
               |  CAST(n AS DOUBLE) * CAST(CAST(syy AS STRING) AS DOUBLE),
               |  abs(CAST(n AS DOUBLE) * CAST(CAST(sxy AS STRING) AS DOUBLE)),
               |  CAST(CAST(sx AS STRING) AS DOUBLE) * CAST(CAST(sx AS STRING) AS DOUBLE),
               |  CAST(CAST(sy AS STRING) AS DOUBLE) * CAST(CAST(sy AS STRING) AS DOUBLE),
               |  abs(CAST(CAST(sx AS STRING) AS DOUBLE) * CAST(CAST(sy AS STRING) AS DOUBLE))) >= 1e37""".stripMargin)
          .as("moment_overflow_risk"))
  }

  val cupedOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) AS tus FROM events
      |), mid AS (
      |  SELECT (min(tus) + max(tus)) // 2 AS mid_tus FROM ev
      |), per AS (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type = 'purchase' AND tus < mid_tus
      |        THEN CAST(floor(value * 1000) AS HUGEINT) ELSE 0 END) AS x,
      |    sum(CASE WHEN event_type = 'purchase' AND tus >= mid_tus
      |        THEN CAST(floor(value * 1000) AS HUGEINT) ELSE 0 END) AS y
      |  FROM ev, mid GROUP BY user_id
      |), m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(x) AS sx, sum(y) AS sy,
      |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      |  FROM per
      |)
      |SELECT n,
      |  CAST(sx // n AS BIGINT) AS mean_pre_milli,
      |  CAST(sy // n AS BIGINT) AS mean_post_milli,
      |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |  ELSE CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) END AS theta,
      |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
      |  ELSE CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) * CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      |    / (CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) END
      |    AS rho2,
      |  greatest(
      |    CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE),
      |    CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE),
      |    abs(CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)),
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE),
      |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE),
      |    abs(CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) >= 1e37
      |    AS moment_overflow_risk
      |FROM m""".stripMargin

  /** Weekday × hour activity heatmap. Day-of-week numbering differs across
    * engines (Spark dayofweek is 1=Sunday, DuckDB dayofweek 0=Sunday), so
    * both sides use the ISO convention: Spark `weekday()+1` = DuckDB
    * `isodow()` (1=Monday). One group-by, 7×24 output cells. */
  def weekdayHourHeatmap(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .groupBy(
        (expr("weekday(ts_utc)") + 1).cast("bigint").as("iso_dow"),
        hour(col("ts_utc")).cast("bigint").as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("iso_dow", "hour_of_day")

  val weekdayHourHeatmapOracle: String =
    """SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
      |  CAST(hour(ts) AS BIGINT) AS hour_of_day, count(*) AS n_events
      |FROM events GROUP BY 1, 2 ORDER BY iso_dow, hour_of_day""".stripMargin

  /** Cohort retention: users bucketed by signup week (epoch-aligned
    * integer weeks — portable across engines, unlike Monday-vs-Sunday
    * `date_trunc('week')`), counted as active in each subsequent week.
    * distinct (user, week) activity → join to the user's cohort → count
    * distinct users per (cohort_week, week_offset). Two shuffles (user
    * dedup, cohort rollup); the retention matrix itself is tiny at any
    * scale. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400 * 1000000
    val ev = table(spark, dir, "events")
      .select(col("user_id"), expr(s"unix_micros(cast(ts as timestamp)) div $weekUs").as("week"), col("event_type"))
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("week").as("cohort_week"))
    val activity = ev.select("user_id", "week").distinct()
    activity.join(cohorts, "user_id")
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .filter(col("week_offset") >= 0)
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  val cohortRetentionOracle: String = {
    val weekUs = 7L * 86400 * 1000000
    s"""WITH cohorts AS (
       |  SELECT user_id, min(epoch_us(ts) // $weekUs) AS cohort_week
       |  FROM events WHERE event_type = 'signup' GROUP BY user_id
       |), activity AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $weekUs AS week FROM events
       |)
       |SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
       |  count(DISTINCT a.user_id) AS n_active
       |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
       |WHERE a.week - c.cohort_week >= 0
       |GROUP BY c.cohort_week, week_offset
       |ORDER BY c.cohort_week, week_offset""".stripMargin
  }

  /** Cohort LIFETIME-VALUE curves — [[cohortRetention]]'s revenue twin:
    * purchase value per (signup-cohort week, weeks since signup), plus the
    * CUMULATIVE LTV running across each cohort's row of the matrix (the
    * payback-period read: where a cohort's curve crosses acquisition
    * cost). Sums route through decimal cents for exactness; the cumulative
    * window partitions by cohort over week offsets — matrix-sized, never
    * corpus-sized. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekUs = 7L * 86400 * 1000000
    val ev = table(spark, dir, "events")
      .select(col("user_id"),
        expr(s"unix_micros(cast(ts as timestamp)) div $weekUs").as("week"),
        col("event_type"), col("value"))
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("week").as("cohort_week"))
    val w = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    ev.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .join(cohorts, "user_id")
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .filter(col("week_offset") >= 0)
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 100 + 0.5).cast("bigint")).as("revenue_cents"))
      .withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(w))
      .orderBy("cohort_week", "week_offset")
  }

  val cohortLtvOracle: String = {
    val weekUs = 7L * 86400 * 1000000
    s"""WITH cohorts AS (
       |  SELECT user_id, min(epoch_us(ts) // $weekUs) AS cohort_week
       |  FROM events WHERE event_type = 'signup' GROUP BY user_id
       |), p AS (
       |  SELECT user_id, epoch_us(ts) // $weekUs AS week,
       |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
       |), m AS (
       |  SELECT c.cohort_week, p.week - c.cohort_week AS week_offset,
       |    count(*) AS n_purchases, CAST(sum(cents) AS BIGINT) AS revenue_cents
       |  FROM p JOIN cohorts c ON p.user_id = c.user_id
       |  WHERE p.week - c.cohort_week >= 0
       |  GROUP BY 1, 2)
       |SELECT cohort_week, week_offset, n_purchases, revenue_cents,
       |  CAST(sum(revenue_cents) OVER (PARTITION BY cohort_week
       |    ORDER BY week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_revenue_cents
       |FROM m ORDER BY cohort_week, week_offset""".stripMargin
  }

  /** Cloned session with [[graft.plans.BandedRangeJoinRule]] installed, so
    * rule-driven queries never mutate the caller's optimizer state (the
    * round-2 form appended the rule to the SHARED session — every later
    * query in the same Bench/Verify process was then planned with the rule
    * active). `newSession` shares the SparkContext and table cache but
    * isolates SQL conf and experimental optimizations. One clone per
    * (parent, `force`), kept in the parent's scoped state: a clone per
    * construction would re-infer every fixture schema it reads. The clone
    * holds no reference to its parent. */
  private def bandedSession(spark: SparkSession, force: Boolean): SparkSession =
    graft.GraftSession.scoped(spark, s"banded_session|force=$force") {
      val s = spark.newSession()
      s.experimental.extraOptimizations = Seq(graft.plans.BandedRangeJoinRule)
      s.conf.set(graft.plans.BandedRangeJoinRule.ForceConf, force.toString)
      s
    }

  /** The NAIVE range join, run through [[graft.plans.BandedRangeJoinRule]]:
    * the query is the declarative range predicate a user would write, and
    * the injected optimizer rule rewrites it to the banded equi-join at
    * optimization time. This query ALSO carries a user_id equi key, so it
    * runs with `spark.graft.bandedRangeJoin.force=true` — gating the
    * band-on-top-of-equi-key form the rule applies for skewed keys (the
    * default conf leaves equi-key joins alone; [[rangeJoinGlobal]] /
    * [[rangeJoinLeft]] gate that default path). Same answers as the
    * hand-banded [[purchaseClickAttribution]] (inner-join subset). */
  def naiveRangeJoinAuto(spark: SparkSession, dir: String): DataFrame = {
    val s = bandedSession(spark, force = true)
    val windowUs = 5L * 60 * 1000000
    val ev = table(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tus").as("p_tus"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tus").as("c_tus"))
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_tus") <= col("p_tus") &&
          col("c_tus") >= col("p_tus") - windowUs)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy("event_id")
  }

  val naiveRangeJoinAutoOracle: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'click'
      |)
      |SELECT p.event_id, count(*) AS n_clicks
      |FROM p JOIN c
      |  ON c.user_id = p.user_id AND c.tus <= p.tus AND c.tus >= p.tus - 300000000
      |GROUP BY p.event_id
      |ORDER BY p.event_id""".stripMargin

  /** The abs-spelled nearest-neighbour range join through the rule: every
    * purchase against all clicks (any user) within ±5 minutes, written as
    * the naive `abs(c − p) ≤ w` predicate a user actually types. The rule's
    * abs-normalization turns it into the three-offset banded equi-join;
    * DuckDB's IEJoin runs the same predicate natively for the oracle. */
  def absRangeJoinAuto(spark: SparkSession, dir: String): DataFrame = {
    val s = bandedSession(spark, force = false)
    val windowUs = 5L * 60 * 1000000
    val ev = table(s, dir, "events")
      .select(unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("tus").as("p_tus"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("tus").as("c_tus"))
    purchases.join(clicks, abs(col("c_tus") - col("p_tus")) <= windowUs)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_near"))
      .orderBy("event_id")
  }

  val absRangeJoinAutoOracle: String =
    """WITH p AS (
      |  SELECT epoch_us(ts) AS tus, event_id FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT epoch_us(ts) AS tus FROM events WHERE event_type = 'click'
      |)
      |SELECT p.event_id, count(*) AS n_near
      |FROM p JOIN c ON abs(c.tus - p.tus) <= 300000000
      |GROUP BY p.event_id
      |ORDER BY p.event_id""".stripMargin

  private val GlobalWindowUs = 30L * 60 * 1000000

  /** PURE range join — NO equi key anywhere in the condition: every purchase
    * against ALL clicks (any user) in the trailing 30-minute window. Without
    * the rule this is the textbook BroadcastNestedLoopJoin; with it, the
    * default-conf banding path fires (no equi-key guard to trip) and the
    * join is a hash join on the band key. Gates the rule's default
    * behavior the way [[naiveRangeJoinAuto]] gates the forced form. */
  def rangeJoinGlobal(spark: SparkSession, dir: String): DataFrame = {
    val s = bandedSession(spark, force = false)
    val ev = table(s, dir, "events")
      .select(unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("tus").as("p_tus"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("tus").as("c_tus"))
    purchases.join(clicks,
        col("c_tus") <= col("p_tus") && col("c_tus") >= col("p_tus") - GlobalWindowUs)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy("event_id")
  }

  val rangeJoinGlobalOracle: String =
    s"""WITH p AS (
       |  SELECT epoch_us(ts) AS tus, event_id FROM events WHERE event_type = 'purchase'
       |), c AS (
       |  SELECT epoch_us(ts) AS tus FROM events WHERE event_type = 'click'
       |)
       |SELECT p.event_id, count(*) AS n_clicks
       |FROM p JOIN c ON c.tus <= p.tus AND c.tus >= p.tus - $GlobalWindowUs
       |GROUP BY p.event_id
       |ORDER BY p.event_id""".stripMargin

  /** LEFT-OUTER pure range join: every purchase with its in-window global
    * click count, INCLUDING zero-click purchases — the declarative form of
    * the attribution query users actually write. The rule rewrites outer
    * joins only when the replicated side is the non-preserved one (here:
    * clicks), so preserved rows are never duplicated; output is exactly one
    * row per purchase. */
  def rangeJoinLeft(spark: SparkSession, dir: String): DataFrame = {
    val s = bandedSession(spark, force = false)
    val ev = table(s, dir, "events")
      .select(unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("tus").as("p_tus"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("tus").as("c_tus"))
    purchases.join(clicks,
        col("c_tus") <= col("p_tus") && col("c_tus") >= col("p_tus") - GlobalWindowUs,
        "left")
      .groupBy("event_id")
      .agg(count(col("c_tus")).as("n_clicks"))
      .orderBy("event_id")
  }

  val rangeJoinLeftOracle: String =
    s"""WITH p AS (
       |  SELECT epoch_us(ts) AS tus, event_id FROM events WHERE event_type = 'purchase'
       |), c AS (
       |  SELECT epoch_us(ts) AS tus FROM events WHERE event_type = 'click'
       |)
       |SELECT p.event_id, count(c.tus) AS n_clicks
       |FROM p LEFT JOIN c ON c.tus <= p.tus AND c.tus >= p.tus - $GlobalWindowUs
       |GROUP BY p.event_id
       |ORDER BY p.event_id""".stripMargin

  /** Gap-filled hourly counts: a complete (hour × event_type) spine from
    * the data's min to max hour — `sequence(h0, h1, 1 hour)` exploded and
    * cross-joined with the distinct types — left-joined to the actual
    * hourly counts, absent cells filled with 0. The spine side is tiny
    * (hours × types) so it broadcasts; at any scale the cost is one scan
    * for the rollup plus a broadcast join — this is the canonical
    * time-series densification before charting/anomaly detection, which a
    * plain GROUP BY cannot produce (it has no rows for silent hours). */
  def hourlyGapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .withColumn("hour_start", date_trunc("hour", col("ts").cast("timestamp")))
    val hourly = ev.groupBy("hour_start", "event_type").agg(count(lit(1)).as("n_events"))
    val bounds = ev.agg(min("hour_start").as("h0"), max("hour_start").as("h1"))
    val types = ev.select("event_type").distinct()
    val spine = bounds
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour_start"))
      .crossJoin(types)
    spine.join(hourly, Seq("hour_start", "event_type"), "left")
      .select(
        col("hour_start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("hour_start", "event_type")
  }

  val hourlyGapFillOracle: String =
    """WITH ev AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, event_type FROM events
      |), hourly AS (
      |  SELECT hour_start, event_type, count(*) AS n_events FROM ev GROUP BY 1, 2
      |), bounds AS (
      |  SELECT min(hour_start) AS h0, max(hour_start) AS h1 FROM ev
      |), spine AS (
      |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_start FROM bounds
      |), types AS (SELECT DISTINCT event_type FROM events)
      |SELECT s.hour_start, t.event_type, COALESCE(h.n_events, 0) AS n_events
      |FROM spine s CROSS JOIN types t
      |LEFT JOIN hourly h ON h.hour_start = s.hour_start AND h.event_type = t.event_type
      |ORDER BY s.hour_start, t.event_type""".stripMargin

  // ------------------------------------------------- deletion impact
  /** USER-DELETION IMPACT report (round 11) — the event-log side of the
    * right-to-be-forgotten surface ([[graft.operators.Dedup.takedownManifest]]
    * covers documents): for a deterministic purge list of users, the one
    * long exact-integer table a compliance owner reads before scheduling
    * the erasure job — purge volume (users / events / ppm of the log),
    * event types touched, the heaviest single user (the rewrite
    * straggler), and the OPERATIONAL cost: how many hourly partitions
    * contain at least one purged row and must be rewritten, vs the
    * partition total. `partitions_touched` ≈ `partitions_total` is the
    * signal to erase via tombstone+compaction instead of eager rewrite.
    *
    * 100 TB shape: ONE scan projected to (user_id, type, hour, flag)
    * before a single multi-distinct aggregate — the Expand replicates
    * 4 narrow columns, never payloads (the [[TextAnalysis.shardManifest]]
    * precedent); the heaviest-user branch is a keyed count capped by
    * |purged users| rows then a 1-row max. Purge lists are erasure-batch
    * sized (thousands) — in production the flag is a broadcast-hash
    * membership probe instead of the modulus, same plan shape. */
  def deletionImpact(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(
        col("user_id"), col("event_type"),
        date_trunc("hour", col("ts").cast("timestamp")).as("hour_start"),
        (col("user_id") % 7 === 3).as("purged"))
    val totals = ev.agg(
      count(lit(1)).as("events_total"),
      sum(when(col("purged"), 1L).otherwise(0L)).as("purge_events"),
      countDistinct(when(col("purged"), col("user_id"))).as("purge_users"),
      countDistinct(when(col("purged"), col("event_type"))).as("purge_types"),
      countDistinct(col("hour_start")).as("partitions_total"),
      countDistinct(when(col("purged"), col("hour_start"))).as("partitions_touched"))
    val totalRows = totals.selectExpr(
      """stack(7,
        |  'events_total', events_total,
        |  'purge_events', purge_events,
        |  'purge_ppm', (purge_events * 1000000) div events_total,
        |  'purge_users', purge_users,
        |  'purge_types', purge_types,
        |  'partitions_total', partitions_total,
        |  'partitions_touched', partitions_touched
        |) AS (metric, value)""".stripMargin)
    val heaviest = ev.filter(col("purged"))
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)).as("value"))
      .select(lit("max_user_purge_events").as("metric"), col("value"))
    totalRows.unionAll(heaviest).orderBy("metric")
  }

  val deletionImpactOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, date_trunc('hour', ts) AS hour_start,
      |    user_id % 7 = 3 AS purged
      |  FROM events
      |), t AS (
      |  SELECT
      |    count(*) AS events_total,
      |    CAST(sum(CASE WHEN purged THEN 1 ELSE 0 END) AS BIGINT) AS purge_events,
      |    count(DISTINCT CASE WHEN purged THEN user_id END) AS purge_users,
      |    count(DISTINCT CASE WHEN purged THEN event_type END) AS purge_types,
      |    count(DISTINCT hour_start) AS partitions_total,
      |    count(DISTINCT CASE WHEN purged THEN hour_start END) AS partitions_touched
      |  FROM ev
      |), heaviest AS (
      |  SELECT CAST(coalesce(max(n), 0) AS BIGINT) AS v FROM (
      |    SELECT count(*) AS n FROM ev WHERE purged GROUP BY user_id
      |  )
      |)
      |SELECT metric, value FROM (
      |  SELECT 'events_total' AS metric, events_total AS value FROM t
      |  UNION ALL SELECT 'purge_events', purge_events FROM t
      |  UNION ALL SELECT 'purge_ppm', (purge_events * 1000000) // events_total FROM t
      |  UNION ALL SELECT 'purge_users', purge_users FROM t
      |  UNION ALL SELECT 'purge_types', purge_types FROM t
      |  UNION ALL SELECT 'partitions_total', partitions_total FROM t
      |  UNION ALL SELECT 'partitions_touched', partitions_touched FROM t
      |  UNION ALL SELECT 'max_user_purge_events', v FROM heaviest
      |) ORDER BY metric""".stripMargin

  /** SLIDING-window rollup: 1-hour windows every 15 minutes — each event
    * lands in exactly 4 overlapping windows. Spark's `window(ts, size,
    * slide)` expands the row into its windows BEFORE the aggregate (same
    * Expand-then-shuffle shape as grouping sets), so it is one shuffle; the
    * DuckDB oracle reconstructs the same epoch-aligned window starts with
    * integer arithmetic and generate_series. Value sums go through DECIMAL
    * for cross-engine float parity. */
  def slidingRollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .groupBy(window(col("ts_utc"), "1 hour", "15 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
      .select(
        col("window.start").cast("timestamp_ntz").as("win_start"),
        col("n_events"), col("sum_value"))
      .orderBy("win_start")

  val slidingRollupOracle: String = {
    val slideUs = 15L * 60 * 1000000
    // every event belongs to the 4 slide-aligned windows at offsets 0..3
    // behind it (window size = 4 slides, starts aligned to the epoch)
    s"""SELECT make_timestamp((epoch_us(ts) // $slideUs) * $slideUs - k.k * $slideUs) AS win_start,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
       |FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k
       |GROUP BY 1 ORDER BY win_start""".stripMargin
  }

  /** Interval/range join, bucketed: for each purchase, the count of the
    * same user's clicks in the preceding 5 minutes (attribution). A naive
    * range predicate forces Spark into a nested-loop join; bucketing time
    * into window-width bands and replicating the probe side into its two
    * candidate bands turns it into an equi-join on (user, band) + an exact
    * range filter — shuffle-partitioned, linear, the standard scale form.
    * (DuckDB's IEJoin evaluates the plain range predicate as the oracle.)
    * A click lands in exactly one band of each purchase, so no dedup is
    * needed after the band join. */
  def purchaseClickAttribution(spark: SparkSession, dir: String): DataFrame = {
    val windowUs = 5L * 60 * 1000000
    val ev = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tus").as("p_tus"), col("event_id"),
        expr(s"tus div $windowUs").as("band"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tus").as("c_tus"))
      .withColumn("band", explode(array(
        expr(s"c_tus div $windowUs"),
        expr(s"c_tus div $windowUs") + 1)))
    purchases
      .join(clicks,
        col("user_id") === col("c_user") && purchases("band") === clicks("band") &&
          col("c_tus") <= col("p_tus") && col("c_tus") >= col("p_tus") - windowUs,
        "left")
      .groupBy(col("event_id"), col("user_id"), col("p_tus").as("tus"))
      .agg(count(col("c_tus")).as("n_clicks_5min"))
      .select(col("event_id"), col("user_id"), col("tus"), col("n_clicks_5min"))
      .orderBy("event_id")
  }

  val purchaseClickAttributionOracle: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'click'
      |)
      |SELECT p.event_id, p.user_id, p.tus, count(c.tus) AS n_clicks_5min
      |FROM p LEFT JOIN c
      |  ON c.user_id = p.user_id AND c.tus <= p.tus AND c.tus >= p.tus - 300000000
      |GROUP BY p.event_id, p.user_id, p.tus
      |ORDER BY p.event_id""".stripMargin

  /** Pivot: per-user event counts spread across one column per event type —
    * `groupBy(...).pivot(values)` with the value list given explicitly (an
    * unlisted-values pivot needs an extra distinct pass at scale). */
  def eventTypePivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = table(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(pivoted)((df, t) => df.withColumnRenamed(t, s"n_$t"))
      .na.fill(0L)
      .orderBy("user_id")
  }

  val eventTypePivotOracle: String =
    """SELECT user_id,
      |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
      |  count(*) FILTER (WHERE event_type = 'error') AS n_error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS n_view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Gap-based sessionization (30-minute inactivity gap): lag → new-session
    * flag → running sum → per-user session stats. The classic event-stream
    * operator; partition-parallel per user, two window passes + one
    * aggregation, no self-joins. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("tus")
    val gapUs = 30L * 60 * 1000000
    val e = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"))
    val flagged = e.withColumn("prev", lag(col("tus"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy("user_id", "sess_id").agg(count(lit(1)).as("sess_events"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("sess_events")).as("n_events"),
        max(col("sess_events")).as("longest_session"))
      .orderBy("user_id")
  }

  val sessionizeOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
      |g AS (
      |  SELECT user_id, tus,
      |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
      |              OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |s AS (
      |  SELECT user_id,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM g),
      |per_sess AS (
      |  SELECT user_id, sess_id, count(*) AS sess_events FROM s GROUP BY user_id, sess_id)
      |SELECT user_id, count(*) AS n_sessions, CAST(sum(sess_events) AS BIGINT) AS n_events,
      |       max(sess_events) AS longest_session
      |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------- SCD2 interval build
  /** Type-2 slowly-changing-dimension build from an event log: collapse each
    * user's event stream into [valid_from, valid_to) intervals, one row per
    * CHANGE of event_type (consecutive repeats merge into the open
    * interval); the latest state has valid_to NULL. This is the standard
    * dimension-history materialization (and the read-side complement of
    * [[graft.operators.RelationalExt.snapshotDiff]]'s CDC view). One
    * shuffle on user_id; both the change filter and the interval close are
    * windows over that same partitioning, so Catalyst plans a single
    * sort+window chain. Timestamps stay integer micros end-to-end
    * (exact cross-engine). */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    table(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_from_us", col("tus"))
      .withColumn("valid_to_us", lead(col("tus"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("bigint"))
      .select("user_id", "version", "event_type", "valid_from_us", "valid_to_us")
      .orderBy("user_id", "version")
  }

  /** POINT-IN-TIME join (round 9): each purchase event joined to the SCD2
    * dimension VERSION that was valid at its event time — the versioned-
    * dimension lookup every warehouse fact load needs ("what was the
    * user's state when they bought"), and the query that silently goes
    * wrong as a plain latest-version join. The interval predicate rides a
    * USER-KEY equi join (hash join + few-versions-per-user residual —
    * never a nested loop, never a range blow-up); `valid_from` inclusive,
    * `valid_to` exclusive, open version = null `valid_to`, so every event
    * matches exactly one version by construction. */
  def pitJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2(spark, dir)
      .select(col("user_id").as("d_user"), col("version"),
        col("event_type").as("state_type"), col("valid_from_us"), col("valid_to_us"))
    table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
      .join(dim, col("user_id") === col("d_user") &&
        col("valid_from_us") <= col("tus") &&
        (col("valid_to_us").isNull || col("tus") < col("valid_to_us")))
      .select("event_id", "user_id", "tus", "version", "state_type")
      .orderBy("event_id")
  }

  val pitJoinOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events
      |), changes AS (
      |  SELECT user_id, event_id, tus, event_type FROM e
      |  WHERE prev_type IS NULL OR prev_type != event_type
      |), dim AS (
      |  SELECT user_id AS d_user,
      |    CAST(row_number() OVER w AS BIGINT) AS version,
      |    event_type AS state_type,
      |    tus AS valid_from_us,
      |    lead(tus) OVER w AS valid_to_us
      |  FROM changes
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
      |)
      |SELECT f.event_id, f.user_id, f.tus, d.version, d.state_type
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
      |      WHERE event_type = 'purchase') f
      |JOIN dim d ON f.user_id = d.d_user
      |  AND d.valid_from_us <= f.tus
      |  AND (d.valid_to_us IS NULL OR f.tus < d.valid_to_us)
      |ORDER BY f.event_id""".stripMargin

  val scd2Oracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events
      |), changes AS (
      |  SELECT user_id, event_id, tus, event_type FROM e
      |  WHERE prev_type IS NULL OR prev_type != event_type
      |)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  event_type,
      |  tus AS valid_from_us,
      |  lead(tus) OVER w AS valid_to_us
      |FROM changes
      |WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
      |ORDER BY user_id, version""".stripMargin

  // ----------------------------------------------- native session windows
  /** Session-window aggregation via Spark's NATIVE `session_window` operator
    * (dynamic-gap merging inside the aggregation, the same primitive the
    * streaming sessionizer uses) — complements [[sessionize]], which builds
    * sessions manually from lag+cumsum islands. Semantics: a session
    * extends to last_event + gap; an event at exactly start+gap starts a
    * NEW session (window end is exclusive). The oracle reproduces this
    * with the island construction: new session iff diff ≥ gap, end =
    * max(ts) + gap. One shuffle on user_id. */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .groupBy(col("user_id"), session_window(col("ts_utc"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("n_events"))
      .orderBy("user_id", "sess_start")

  val sessionWindowsOracle: String =
    """WITH e AS (SELECT user_id, ts FROM events),
      |g AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), s AS (
      |  SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM g
      |)
      |SELECT user_id,
      |  min(ts) AS sess_start,
      |  max(ts) + INTERVAL 30 MINUTE AS sess_end,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_start""".stripMargin

  // ------------------------------------------------- hourly count anomalies
  /** Volume-anomaly detection over the event stream: hours whose event count
    * sits more than 2 population-σ from the mean hourly count — the
    * monitoring query behind every "traffic spike/drop" alert. Counts are
    * integers, so the z-score predicate runs in EXACT integer arithmetic
    * (multiply (x−μ)² > (2σ)² through by n², same recipe as
    * profile_outliers_value) — no float drift on boundary hours. Only
    * OBSERVED hours enter the statistics (a silent-outage detector would
    * gap-fill zeros first — that variant composes with hourlyGapFill). */
  def hourlyAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val hourly = table(spark, dir, "events")
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .groupBy(date_trunc("hour", col("ts_utc")).as("hour_start"))
      .agg(count(lit(1)).as("n_events"))
    val x = col("n_events").cast("decimal(38,0)")
    val stats = hourly.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(x).as("sx"),
      sum(x * x).as("sq"))
    val dev = col("n") * x - col("sx")
    hourly.crossJoin(broadcast(stats))
      .filter(dev * dev > lit(4) * (col("n") * col("sq") - col("sx") * col("sx")))
      .select(col("hour_start").cast("timestamp_ntz").as("hour_start"), col("n_events"))
      .orderBy("hour_start")
  }

  val hourlyAnomaliesOracle: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n_events
      |  FROM events GROUP BY 1
      |), s AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(n_events) AS HUGEINT) AS sx,
      |         CAST(sum(n_events * n_events) AS HUGEINT) AS sq
      |  FROM hourly
      |)
      |SELECT hour_start, n_events
      |FROM hourly, s
      |WHERE (n * n_events - sx) * (n * n_events - sx) > 4 * (n * sq - sx * sx)
      |ORDER BY hour_start""".stripMargin

  // ------------------------------------------------------ hourly rate deltas
  /** Rate-of-change over the hourly event series: each hour's count minus
    * the previous hour's, per (day, event_type) — the derivative behind
    * "traffic changed abruptly" monitoring, and the composition partner of
    * [[hourlyAnomalies]] (level outliers) and [[hourlyGapFill]] (missing
    * hours). The lag window is PARTITIONED by (day, type): aggregate first
    * (3.6k rows at sf0.1), then a keyed window — never an ungrouped global
    * sort; the first hour of each day has a null delta BY DESIGN (the
    * alternative, carrying yesterday's last hour across the partition
    * boundary, would make the window global). */
  def hourlyDeltas(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("day", "event_type").orderBy("hour_start")
    table(spark, dir, "events")
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .groupBy(
        date_trunc("day", col("ts_utc")).as("day"),
        date_trunc("hour", col("ts_utc")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("delta", col("n_events") - lag(col("n_events"), 1).over(w))
      .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n_events"), col("delta"))
      .orderBy("hour_start", "event_type")
  }

  val hourlyDeltasOracle: String =
    """WITH hourly AS (
      |  SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour_start,
      |         event_type, count(*) AS n_events
      |  FROM events GROUP BY 1, 2, 3
      |)
      |SELECT hour_start, event_type, n_events,
      |  n_events - lag(n_events) OVER (PARTITION BY day, event_type ORDER BY hour_start) AS delta
      |FROM hourly
      |ORDER BY hour_start, event_type""".stripMargin

  // ----------------------------------------------------------- VARIANT type
  /** Semi-structured props through Spark 4's VARIANT type: `parse_json` once
    * into the binary variant encoding, then typed `variant_get` path
    * extraction — the modern replacement for per-path string re-parsing
    * (and the encoding with scan-level extraction pushdown: parquet scans
    * advertise PushedVariantExtractions). Output values match the
    * string-path twin [[jsonTyped]]; DuckDB's JSON operators provide the
    * oracle. */
  def jsonVariant(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("v", parse_json(col("props")))
      .select(
        col("event_id"),
        try_variant_get(col("v"), "$.k", "bigint").as("k"),
        try_variant_get(col("v"), "$.missing", "string").isNull.as("missing_is_null"))
      .orderBy("event_id")

  val jsonVariantOracle: String =
    """SELECT event_id,
      |  CAST(props->>'$.k' AS BIGINT) AS k,
      |  props->>'$.missing' IS NULL AS missing_is_null
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------ drift (chi²)
  /** DISTRIBUTION-DRIFT detection — the monitoring twin of the profile
    * suite: does the event-type mix differ between weekday and weekend
    * traffic? Pearson chi-square contingency cells, one row per event
    * type: observed weekday/weekend counts, the independence-expected
    * weekday count, and the type's chi² contribution
    * Σ (obs−exp)²/exp over its two cells. The statistic is the column sum
    * of `contrib` with dof = (types−1); alert when it jumps — exactly how
    * a production data-quality monitor flags mix shift between a
    * reference window and a live window.
    *
    * Cross-engine float parity: counts are exact integers; every double
    * op (expected value, squared residual, division, the two-term add)
    * is a fixed-order per-ROW expression — no cross-row double
    * aggregation anywhere, so no decimal routing is needed.
    *
    * 100 TB shape: one scan, one tiny-cardinality partial+final
    * aggregate, a 1-row total broadcast back — the same fused-profile
    * shape as everything else in the monitoring path. */
  def driftChisq(spark: SparkSession, dir: String): DataFrame = {
    val isWeekend = expr("weekday(cast(ts as timestamp))") >= 5
    val cells = table(spark, dir, "events")
      .groupBy("event_type")
      .agg(sum(when(!isWeekend, 1L).otherwise(0L)).as("n_weekday"),
        sum(when(isWeekend, 1L).otherwise(0L)).as("n_weekend"))
    val totals = cells.agg(sum("n_weekday").as("t_wd"), sum("n_weekend").as("t_we"))
    val rowTot = col("n_weekday") + col("n_weekend")
    val grand = col("t_wd") + col("t_we")
    val eWd = col("t_wd").cast("double") * rowTot / grand
    val eWe = col("t_we").cast("double") * rowTot / grand
    cells.crossJoin(broadcast(totals))
      .withColumn("e_weekday", eWd)
      .withColumn("contrib",
        (col("n_weekday") - eWd) * (col("n_weekday") - eWd) / eWd +
          (col("n_weekend") - eWe) * (col("n_weekend") - eWe) / eWe)
      .select("event_type", "n_weekday", "n_weekend", "e_weekday", "contrib")
      .orderBy("event_type")
  }

  val driftChisqOracle: String =
    """WITH cells AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 0 ELSE 1 END) AS BIGINT) AS n_weekday,
      |    CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend
      |  FROM events GROUP BY event_type
      |), totals AS (
      |  SELECT CAST(sum(n_weekday) AS BIGINT) AS t_wd,
      |         CAST(sum(n_weekend) AS BIGINT) AS t_we FROM cells
      |)
      |SELECT event_type, n_weekday, n_weekend,
      |  CAST(t_wd AS DOUBLE) * (n_weekday + n_weekend) / (t_wd + t_we) AS e_weekday,
      |  (n_weekday - CAST(t_wd AS DOUBLE) * (n_weekday + n_weekend) / (t_wd + t_we))
      |    * (n_weekday - CAST(t_wd AS DOUBLE) * (n_weekday + n_weekend) / (t_wd + t_we))
      |    / (CAST(t_wd AS DOUBLE) * (n_weekday + n_weekend) / (t_wd + t_we))
      |  + (n_weekend - CAST(t_we AS DOUBLE) * (n_weekday + n_weekend) / (t_wd + t_we))
      |    * (n_weekend - CAST(t_we AS DOUBLE) * (n_weekday + n_weekend) / (t_wd + t_we))
      |    / (CAST(t_we AS DOUBLE) * (n_weekday + n_weekend) / (t_wd + t_we)) AS contrib
      |FROM cells CROSS JOIN totals
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------- drift (KS)
  /** Two-sample KOLMOGOROV-SMIRNOV drift on a CONTINUOUS column — the
    * complement of the categorical χ² ([[driftChisq]]): the maximum gap
    * between the weekday and weekend empirical CDFs of `value`, over
    * unit-width BINS. Binning is what makes this a 100 TB operator: the
    * raw-value KS needs a global sort of every distinct value, while the
    * binned form aggregates to ≤~1000 histogram rows and runs its CDF
    * window over THAT (the same sketch-then-analyze shape as the
    * histogram/percentile suite; finer drift → more bins, still bounded).
    *
    * Deterministic cross-engine: bin counts and cumulative sums are exact
    * integers; each CDF gap is one fixed-order double expression; the max
    * is picked by (gap DESC, bin) ordering, ties broken on the bin id.
    * Output: the statistic, the bin where it occurs, both sample sizes. */
  def driftKs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isWeekend = expr("weekday(cast(ts as timestamp))") >= 5
    val bins = table(spark, dir, "events")
      // null measurements carry no distribution information, and the two
      // engines order a null BIN differently in the CDF window — excluded
      .filter(col("value").isNotNull)
      .select(expr("CAST(floor(value) AS BIGINT)").as("bin"),
        when(isWeekend, 1L).otherwise(0L).as("we"))
      .groupBy("bin")
      .agg(sum(lit(1L) - col("we")).as("n_wd"), sum(col("we")).as("n_we"))
    val totals = bins.agg(sum("n_wd").as("t_wd"), sum("n_we").as("t_we"))
    val wCdf = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins.crossJoin(broadcast(totals))
      .withColumn("cum_wd", sum(col("n_wd")).over(wCdf))
      .withColumn("cum_we", sum(col("n_we")).over(wCdf))
      .withColumn("gap", abs(
        col("cum_wd").cast("double") / col("t_wd") -
          col("cum_we").cast("double") / col("t_we")))
      .orderBy(col("gap").desc, col("bin"))
      .limit(1)
      .select(col("gap").as("ks_stat"), col("bin").as("at_bin"),
        col("t_wd"), col("t_we"))
  }

  val driftKsOracle: String =
    """WITH bins AS (
      |  SELECT CAST(floor(value) AS BIGINT) AS bin,
      |    CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 0 ELSE 1 END) AS BIGINT) AS n_wd,
      |    CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_we
      |  FROM events WHERE value IS NOT NULL GROUP BY 1
      |), totals AS (
      |  SELECT CAST(sum(n_wd) AS BIGINT) AS t_wd, CAST(sum(n_we) AS BIGINT) AS t_we FROM bins
      |), cdf AS (
      |  SELECT bin, t_wd, t_we,
      |    CAST(sum(n_wd) OVER w AS BIGINT) AS cum_wd,
      |    CAST(sum(n_we) OVER w AS BIGINT) AS cum_we
      |  FROM bins CROSS JOIN totals
      |  WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)
      |)
      |SELECT abs(CAST(cum_wd AS DOUBLE) / t_wd - CAST(cum_we AS DOUBLE) / t_we) AS ks_stat,
      |  bin AS at_bin, t_wd, t_we
      |FROM cdf
      |ORDER BY ks_stat DESC, bin LIMIT 1""".stripMargin

  // ------------------------------------------------------ Z-order layout
  /** Z-ORDER (Morton) layout audit — the multi-dimensional clustering
    * write-side optimization: interleaving the bits of (user_id, hour)
    * yields a 1-D sort key whose contiguous ranges are RECTANGLES in
    * (user, time) space, so files written in zkey order carry narrow
    * min/max on BOTH columns and scans filtering on either dimension skip
    * files (plain sort orders give pruning on the leading column only).
    * The query computes the per-bucket footprint the writer would produce:
    * each zkey bucket's row count and its (user, hour) bounding box — the
    * numbers that prove two-dimensional file skipping works.
    *
    * 100 TB shape: the zkey is a pure per-row projection (32 bit-ops,
    * codegen'd); bucketing is one partial+final aggregate. The actual
    * write is `repartitionByRange(zkey).sortWithinPartitions(zkey)` —
    * same key, no extra machinery. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val xb = col("user_id") % 65536L
    val yb = expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 65536L // micros → hour index
    val zkey = (0 until 16).map { i =>
      shiftleft(shiftright(xb, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(yb, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    table(spark, dir, "events")
      .select(xb.as("x"), yb.as("y"), zkey.as("zkey"))
      .groupBy(expr("zkey div 65536").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        min(col("x")).as("min_user"), max(col("x")).as("max_user"),
        min(col("y")).as("min_hour"), max(col("y")).as("max_hour"))
      .orderBy("bucket")
  }

  val zorderLayoutOracle: String = {
    val terms = (0 until 16).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH pts AS (
       |  SELECT user_id % 65536 AS x,
       |    (epoch_us(ts) // 3600000000) % 65536 AS y
       |  FROM events
       |), keyed AS (
       |  SELECT x, y, $terms AS zkey FROM pts
       |)
       |SELECT zkey // 65536 AS bucket, count(*) AS n_events,
       |  min(x) AS min_user, max(x) AS max_user,
       |  min(y) AS min_hour, max(y) AS max_hour
       |FROM keyed GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  // ------------------------------------------------- OHLC bars

  /** Hourly OHLC bars per event type (round 9): open/high/low/close of
    * `value` — the time-series downsample (financial candlesticks, metric
    * roll-ups). Open/close are FIRST/LAST by (event time, event_id): in
    * Spark, `min(struct(tus, event_id, cents))` — lexicographic struct
    * ordering makes the aggregate deterministic and partial-merge-safe
    * (no window needed); the oracle's first/last_value window over the
    * same total order lands on identical values. Cents in, cents/100 as
    * exact-integer doubles out. */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("cents"))
      .withColumn("hour_start", expr("tus div 3600000000"))
    e.groupBy("hour_start", "event_type")
      .agg(count(lit(1)).as("n"),
        (min(struct(col("tus"), col("event_id"), col("cents"))).getField("cents")
          .cast("double") / 100).as("open"),
        (max(col("cents")).cast("double") / 100).as("high"),
        (min(col("cents")).cast("double") / 100).as("low"),
        (max(struct(col("tus"), col("event_id"), col("cents"))).getField("cents")
          .cast("double") / 100).as("close"))
      .orderBy("hour_start", "event_type")
  }

  val ohlcBarsOracle: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS tus, event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    epoch_us(ts) // 3600000000 AS hour_start
      |  FROM events WHERE value IS NOT NULL
      |), w AS (
      |  SELECT hour_start, event_type, cents,
      |    first_value(cents) OVER win AS o_cents,
      |    last_value(cents) OVER win AS c_cents
      |  FROM e
      |  WINDOW win AS (PARTITION BY hour_start, event_type ORDER BY tus, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |)
      |SELECT hour_start, event_type, count(*) AS n,
      |  CAST(min(o_cents) AS DOUBLE) / 100 AS open,
      |  CAST(max(cents) AS DOUBLE) / 100 AS high,
      |  CAST(min(cents) AS DOUBLE) / 100 AS low,
      |  CAST(min(c_cents) AS DOUBLE) / 100 AS close
      |FROM w GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  // ------------------------------------------------- trimmed mean

  /** Trimmed mean per event type (round 9): mean of `value` after dropping
    * the top and bottom `trimPct`% BY RANK — the robust-location estimate
    * between the mean (outlier-poisoned) and the median (throws away
    * everything). Exactness: integer-cents ranks with (cents, event_id)
    * total order, the keep band is pure integer arithmetic
    * (`rn > n·p/100 ∧ rn ≤ n − n·p/100`, floor division both sides), and
    * the kept mean is a decimal sum over cents divided by an exact count.
    * Rank windows are PARTITIONED by type. */
  def trimmedMeans(spark: SparkSession, dir: String, trimPct: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = table(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("cents"))
    val w = Window.partitionBy("event_type").orderBy(col("cents"), col("event_id"))
    e.withColumn("rn", row_number().over(w).cast("bigint"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") > expr(s"(n * $trimPct) div 100") &&
        col("rn") <= col("n") - expr(s"(n * $trimPct) div 100"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"),
        (sum(col("cents").cast("decimal(38,0)")).cast("double") /
          (count(lit(1)) * 100).cast("double")).as("trimmed_mean"))
      .orderBy("event_type")
  }

  def trimmedMeansOracle(trimPct: Int = 5): String =
    s"""WITH ranked AS (
       |  SELECT event_type,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT), event_id) AS BIGINT) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events WHERE value IS NOT NULL
       |)
       |SELECT event_type, count(*) AS n_kept,
       |  CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) / CAST(count(*) * 100 AS DOUBLE) AS trimmed_mean
       |FROM ranked
       |WHERE rn > (n * $trimPct) // 100 AND rn <= n - (n * $trimPct) // 100
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------- cross-type user overlap

  /** Audience-overlap matrix (round 9): for every ordered pair of event
    * types, how many distinct users did BOTH — the cross-feature audience
    * diagnostic (do purchasers also error?). Exact form: distinct
    * (type, user) pairs self-joined on user — the reduced frame is
    * (types × users)-bounded, never event-count-bounded. The sketch twin
    * at extreme user counts is `hll_union` algebra exactly as in
    * `profile_key_overlap_sketch`. */
  def typeUserOverlap(spark: SparkSession, dir: String): DataFrame = {
    val tu = table(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("common_users"))
      .orderBy("type_a", "type_b")
  }

  val typeUserOverlapOracle: String =
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  count(*) AS common_users
      |FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin

  // ------------------------------------------------- session path mining

  /** Top user journeys (round 9): most frequent within-session event-type
    * PATHS — the "what do users actually do" sequence-mining table a
    * product funnel is hypothesized from. Sessions cut at the same
    * 30-minute gap as [[sessionize]]; the path string is the session's
    * types in (event-time, event_id) order joined with `>`.
    *
    * Shuffle inventory: one per-user window pass (session ids), one
    * (user, session) aggregate whose ordered path comes from sorting the
    * session's OWN struct array (collect_list is partition-order-dependent;
    * sort_array canonicalizes — sessions are human-scale, so the per-group
    * array is bounded), one path-count aggregate, TakeOrdered top-k. */
  def sessionPaths(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val gapUs = 30L * 60 * 1000000
    val flagged = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("tus"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy("user_id", "sess_id")
      .agg(concat_ws(">",
        transform(sort_array(collect_list(struct(col("tus"), col("event_id"), col("event_type")))),
          s => s.getField("event_type"))).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  def sessionPathsOracle(k: Int = 20): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events
       |), flagged AS (
       |  SELECT *, CASE WHEN prev IS NULL OR tus - prev > ${30L * 60 * 1000000}
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
       |        FROM e) t
       |), sess AS (
       |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
       |  FROM flagged
       |), paths AS (
       |  SELECT user_id, sess_id,
       |    string_agg(event_type, '>' ORDER BY tus, event_id) AS path
       |  FROM sess GROUP BY user_id, sess_id
       |)
       |SELECT path, count(*) AS n_sessions
       |FROM paths GROUP BY path
       |ORDER BY n_sessions DESC, path LIMIT $k""".stripMargin

  // ------------------------------------------------- trend slopes (OLS)

  /** Per-type activity TREND (round 9): exact least-squares slope of
    * hourly event counts over time — "is this event type growing or
    * decaying", the monitor that catches slow regressions a threshold
    * alert misses. Same exactness recipe as the correlation profile:
    * every OLS moment (Σx, Σy, Σxy, Σx²) folds in DECIMAL(38,0) over
    * integer hour indexes and counts, so the closed-form slope
    * `(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)` divides two exactly-computed
    * integers as doubles — bit-identical cross-engine. Slope unit:
    * events/hour per hour (millis scale for readability). */
  def trendSlopes(spark: SparkSession, dir: String): DataFrame = {
    val hourly = table(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("x"))
      .groupBy("event_type", "x")
      .agg(count(lit(1)).as("y"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    hourly.groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("x"))).as("sx"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).cast("decimal(38,0)").as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).cast("decimal(38,0)").as("sxx"))
      .select(col("event_type"), col("n").cast("bigint").as("n_hours"),
        col("sy").cast("bigint").as("n_events"),
        (lit(1000.0) * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_milli"))
      .orderBy("event_type")
  }

  val trendSlopesOracle: String =
    """WITH hourly AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS x, count(*) AS y
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type,
      |    CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx
      |  FROM hourly GROUP BY 1
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n_hours, CAST(sy AS BIGINT) AS n_events,
      |  1000.0 * CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_milli
      |FROM m ORDER BY event_type""".stripMargin

  // ------------------------------------------------- id coverage / gaps

  /** Sequence-coverage audit (round 9): per id-range bucket, how many ids
    * are MISSING inside the bucket's observed span — the "did ingestion
    * drop events" check (dense surrogate keys should have zero holes).
    * The classic islands-and-gaps window needs a GLOBAL order — a one-task
    * sort at any scale — so this buckets ids first (`div 1000`) and counts
    * `span − distinct` per bucket: fully parallel, and a dense-id table
    * reports 0 everywhere while any dropped range shows up in its bucket.
    * Cross-bucket boundary holes surface in the bucket whose span shrinks
    * (its min/max pull inward), keeping the audit sound without a global
    * sort. All-buckets output (not just violators) so the gate pins the
    * zero case too. */
  def idCoverage(spark: SparkSession, dir: String, bucketSize: Int = 1000): DataFrame =
    table(spark, dir, "events")
      .select(col("event_id"))
      .groupBy(expr(s"event_id div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("n_ids"),
        countDistinct(col("event_id")).as("n_distinct"),
        min(col("event_id")).as("span_min"),
        max(col("event_id")).as("span_max"))
      .withColumn("missing_in_span",
        col("span_max") - col("span_min") + 1 - col("n_distinct"))
      .withColumn("dup_ids", col("n_ids") - col("n_distinct"))
      .orderBy("bucket")

  def idCoverageOracle(bucketSize: Int = 1000): String =
    s"""SELECT event_id // $bucketSize AS bucket,
       |  count(*) AS n_ids,
       |  count(DISTINCT event_id) AS n_distinct,
       |  min(event_id) AS span_min,
       |  max(event_id) AS span_max,
       |  max(event_id) - min(event_id) + 1 - count(DISTINCT event_id) AS missing_in_span,
       |  count(*) - count(DISTINCT event_id) AS dup_ids
       |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  // ------------------------------------------------- transition matrix

  /** Markov transition matrix over event types (round 9): for each user's
    * time-ordered event stream, count (current → next) type transitions
    * and their per-mille share within the current type — the
    * product-analytics "where do users go from X" table, and the input a
    * path/abandonment analysis consumes.
    *
    * One window per user partition (lead), one small keyed aggregate —
    * the user partitioning IS the 100 TB partitioning. Ties at equal
    * timestamps break on event_id (total order both engines). Share is
    * exact-integer-double division. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val steps = table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull)
    val counts0 = steps.groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
    // event-type-domain-bounded (k² rows), read by the totals branch AND
    // the final join — without materialization the per-user lead window
    // over the corpus ran once per branch (r17; plan: 3 event scans +
    // 3 corpus windows → 1)
    val counts = StageMemo.shared(counts0)
    val totals = counts.groupBy(col("cur").as("tc")).agg(sum(col("n")).as("tot"))
    counts.join(broadcast(totals), col("cur") === col("tc"))
      .select(col("cur"), col("nxt"), col("n"),
        ((col("n") * 1000).cast("double") / col("tot").cast("double")).as("permille"))
      .orderBy("cur", "nxt")
  }

  val transitionMatrixOracle: String =
    """WITH steps AS (
      |  SELECT event_type AS cur,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      |  FROM events
      |), c AS (
      |  SELECT cur, nxt, count(*) AS n FROM steps WHERE nxt IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT cur, nxt, n,
      |  CAST(n * 1000 AS DOUBLE)
      |    / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE) AS permille
      |FROM c ORDER BY cur, nxt""".stripMargin

  // ------------------------------------------------- Markov stationary mix
  /** MARKOV STATIONARY DISTRIBUTION of the user-journey transition chain —
    * the long-run share of time a user's session spends in each event type,
    * the number capacity planning and "where do journeys settle" product
    * analyses read off the [[transitionMatrix]]. Transition probabilities
    * are exact integer ppm (`n·10⁶ div rowsum`, truncating in both
    * dialects), and the dominant left eigenvector comes from 12 integer
    * power iterations with max-rescale — the same bounded-eigensolve
    * posture as `embedding_top_pc`: the DISTRIBUTED work is the transition
    * count (one lead window + one (cur,nxt) aggregate, linear in events);
    * the iteration runs on k² ppm integers, bounded by the event-type
    * DOMAIN, not the corpus, and the oracle replays the identical 12
    * iterations as unrolled MATERIALIZED CTEs. Types are restricted to the
    * strongly-reachable surface (appear as a source; edges into
    * never-source absorbing types are dropped) so every row of the ppm
    * matrix is defined; missing incoming mass coalesces to 0 on both
    * engines. Output per type: outgoing step count and stationary permille
    * (v_i·1000 div Σv — sums to ≤1000 with truncation slack). */
  def markovStationary(spark: SparkSession, dir: String, iters: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val steps = table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull)
    val counts = steps.groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
    val edges = counts.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sources = edges.map(_._1).distinct.sorted // the defined-row universe
    val idx = sources.zipWithIndex.toMap
    val kept = edges.filter(e => idx.contains(e._2))
    val rowTot = kept.groupBy(_._1).map { case (c, es) => c -> es.map(_._3).sum }
    val nOut = sources.map(s => rowTot.getOrElse(s, 0L))
    val p = Array.fill(sources.length, sources.length)(BigInt(0))
    kept.foreach { case (c, x, n) =>
      p(idx(c))(idx(x)) = BigInt(n) * 1000000 / rowTot(c)
    }
    var v = Array.fill(sources.length)(BigInt(1000000))
    (0 until iters).foreach { _ =>
      val mv = Array.tabulate(sources.length)(j =>
        sources.indices.map(i => v(i) * p(i)(j)).sum)
      val m = mv.max
      if (m != 0) v = mv.map(x => x * 1000000 / m)
    }
    val tot = v.sum
    import spark.implicits._
    sources.indices.map(i =>
      (sources(i), nOut(i), (v(i) * 1000 / tot).toLong))
      .toDF("event_type", "n_out", "stationary_permille")
      .orderBy("event_type")
  }

  def markovStationaryOracle(iters: Int = 12): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""mv$k AS MATERIALIZED (
         |  SELECT p.j AS t, sum(v${k - 1}.v * p.p) AS w
         |  FROM p JOIN v${k - 1} ON v${k - 1}.t = p.i GROUP BY 1
         |), v$k AS MATERIALIZED (
         |  SELECT u.t, coalesce(mv$k.w, 0) * 1000000 // (SELECT max(w) FROM mv$k) AS v
         |  FROM u LEFT JOIN mv$k ON mv$k.t = u.t
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH steps AS MATERIALIZED (
       |  SELECT event_type AS cur,
       |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM events
       |), c AS MATERIALIZED (
       |  SELECT cur, nxt, count(*) AS n FROM steps WHERE nxt IS NOT NULL GROUP BY 1, 2
       |), u AS MATERIALIZED (SELECT DISTINCT cur AS t FROM c),
       |ck AS MATERIALIZED (
       |  SELECT cur, nxt, n FROM c WHERE nxt IN (SELECT t FROM u)
       |), r AS MATERIALIZED (SELECT cur, sum(n) AS tot FROM ck GROUP BY cur),
       |p AS MATERIALIZED (
       |  SELECT ck.cur AS i, ck.nxt AS j, ck.n * 1000000 // r.tot AS p
       |  FROM ck JOIN r ON r.cur = ck.cur
       |), v0 AS MATERIALIZED (SELECT t, CAST(1000000 AS HUGEINT) AS v FROM u),
       |$iterCtes,
       |nout AS (
       |  SELECT cur AS t, CAST(sum(n) AS BIGINT) AS n_out FROM ck GROUP BY 1
       |)
       |SELECT u.t AS event_type, coalesce(nout.n_out, 0) AS n_out,
       |  CAST(v$iters.v * 1000 // (SELECT sum(v) FROM v$iters) AS BIGINT)
       |    AS stationary_permille
       |FROM u JOIN v$iters ON v$iters.t = u.t LEFT JOIN nout ON nout.t = u.t
       |ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------- RFM scoring

  /** RFM (recency / frequency / monetary) quintile scoring per user —
    * the classic CRM segmentation: rank users into 5 equal buckets on
    * each axis, emit the 3-digit segment code. `ntile` bucket-boundary
    * semantics are identical on both engines GIVEN a total order, so
    * every ORDER BY ends with the user id tie-break. Monetary sums route
    * through DECIMAL; recency is integer epoch-micros.
    *
    * 100 TB: one partial+final aggregate to per-user rows (|users|-sized),
    * then three ntile windows over the user frame — at extreme user
    * counts these become the same two-level prefix shape as the Gini
    * profile; here the user frame is the reduced side. */
  def rfmScores(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = table(spark, dir, "events")
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy("user_id")
      .agg(
        max(unix_micros(col("ts").cast("timestamp"))).as("last_us"),
        count(lit(1)).as("freq"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("monetary"))
    val r = ntile(5).over(Window.orderBy(col("last_us").desc, col("user_id")))
    val f = ntile(5).over(Window.orderBy(col("freq").desc, col("user_id")))
    val m = ntile(5).over(Window.orderBy(col("monetary").desc, col("user_id")))
    perUser
      .select(col("user_id"), col("last_us"), col("freq"), col("monetary"),
        // bigint to match DuckDB's ntile return type
        r.cast("bigint").as("r_q"), f.cast("bigint").as("f_q"), m.cast("bigint").as("m_q"))
      .withColumn("rfm_code", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      .orderBy("user_id")
  }

  val rfmScoresOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |    max(epoch_us(ts)) AS last_us,
      |    count(*) AS freq,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      |  GROUP BY user_id
      |)
      |SELECT user_id, last_us, freq, monetary,
      |  ntile(5) OVER (ORDER BY last_us DESC, user_id) AS r_q,
      |  ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_q,
      |  ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_q,
      |  ntile(5) OVER (ORDER BY last_us DESC, user_id) * 100
      |    + ntile(5) OVER (ORDER BY freq DESC, user_id) * 10
      |    + ntile(5) OVER (ORDER BY monetary DESC, user_id) AS rfm_code
      |FROM u ORDER BY user_id""".stripMargin

  // ------------------------------------------------- robust (median/MAD) anomalies

  /** Robust per-type outliers (round 9): median/MAD z-scores — the
    * mean/stddev anomaly twin ([[hourlyAnomalies]]) that heavy tails can't
    * poison (one whale event shifts a mean arbitrarily; it moves a median
    * by at most one rank). Flags events with |x − median| > 3.5·1.4826·MAD
    * (the classic Iglewicz-Hoberg cut at the σ-consistent MAD scale).
    *
    * Determinism: values quantize to integer cents; `2·median` and `4·MAD`
    * are then EXACT BIGINTs on both engines (an even-count median is the
    * midpoint of two integers — .5 at worst), and the outlier test runs
    * entirely in integer space (`20000·ad2 > 51891·mad4`). Only the
    * reported z-score itself touches doubles, with one multiply + one
    * divide on identical inputs (correctly-rounded IEEE → bit-identical).
    *
    * Scale note: exact medians buffer per-group values, so this is the
    * exact GATE form (groups = event types). The 100 TB path for the same
    * cut is the KLL quantile sketch already in [[graft.profile
    * .ProfileQueries.sketchProfile]] — mergeable, KB of state per group. */
  def robustAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("x"))
    val med = e.groupBy(col("event_type").as("mt"))
      .agg((median(col("x")) * 2).cast("bigint").as("m2"))
    val dev = e.join(broadcast(med), col("event_type") === col("mt"))
      .withColumn("ad2", abs(col("x") * 2 - col("m2")))
    val mad = dev.groupBy(col("event_type").as("dt"))
      .agg((median(col("ad2")) * 2).cast("bigint").as("mad4"))
    dev.join(broadcast(mad), col("event_type") === col("dt"))
      .filter(col("ad2") * 20000 > col("mad4") * 51891)
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("x") * 2 - col("m2")).cast("double") /
          (lit(1.4826) * col("mad4").cast("double") / 2)).as("robust_z"))
      .orderBy("event_id")
  }

  val robustAnomaliesOracle: String =
    """WITH e AS (
      |  SELECT event_id, event_type, value,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
      |  FROM events WHERE value IS NOT NULL
      |), med AS (
      |  SELECT event_type AS mt, CAST(median(x) * 2 AS BIGINT) AS m2
      |  FROM e GROUP BY 1
      |), dev AS (
      |  SELECT e.*, m2, abs(x * 2 - m2) AS ad2
      |  FROM e JOIN med ON event_type = mt
      |), mad AS (
      |  SELECT event_type AS dt, CAST(median(ad2) * 2 AS BIGINT) AS mad4
      |  FROM dev GROUP BY 1
      |)
      |SELECT event_id, event_type, value,
      |  CAST(x * 2 - m2 AS DOUBLE) / (1.4826 * CAST(mad4 AS DOUBLE) / 2) AS robust_z
      |FROM dev JOIN mad ON event_type = dt
      |WHERE ad2 * 20000 > mad4 * 51891
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------- sweep-line concurrency
  /** Peak session concurrency per hour — the capacity-planning question
    * ("how many users are on at once?") answered with the classic sweep
    * line: sessions become (+1 at start, −1 at end+1µs) delta events, the
    * running sum over change points IS the concurrency, and per-hour max of
    * that running value is the report. Sessions reuse [[sessionize]]'s
    * 30-minute-gap islands.
    *
    * Scale shape: the only per-row work is the per-user session windows
    * (partition-parallel); after `groupBy(tus)` the sweep frame holds
    * DISTINCT CHANGE-POINT TIMESTAMPS, not rows, and its prefix sum is the
    * same TWO-LEVEL distributed form as the Gini profile — hour-bucket
    * local windows in parallel plus a single tiny window over per-hour
    * delta totals (rows = hours in the corpus). No global row sort ever
    * happens. Hours with no change points carry no row (documented:
    * concurrency is constant through such hours, equal to the last
    * reported running value). */
  def maxConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("tus")
    val gapUs = 30L * 60 * 1000000
    val hourUs = 3600L * 1000000
    val e = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"))
    val sessions = e
      .withColumn("prev", lag(col("tus"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sess_id")
      .agg(min(col("tus")).as("s_tus"), max(col("tus")).as("e_tus"))
    // endpoint deltas; end is inclusive, so the -1 lands at end+1us.
    // BOTH endpoints explode from one session row (r16): the former
    // `select(+1) union select(−1)` fed the sessionize pipeline into two
    // plan branches, and Spark has no cross-branch CSE — the scan, the
    // per-user windows and the session aggregate all ran TWICE (plan:
    // 2 parquet scans). The change-point frame is then materialized once
    // (StageMemo.shared, distinct-timestamp-bounded rows) because the
    // bucket-offset branch and the sweep branch both read it.
    val deltas0 = sessions.select(explode(array(
        struct(col("s_tus").as("tus"), lit(1L).as("d")),
        struct((col("e_tus") + 1).as("tus"), lit(-1L).as("d")))).as("ev"))
      .groupBy(col("ev.tus").as("tus")).agg(sum(col("ev.d")).as("d"))
      .withColumn("bucket", expr(s"tus div $hourUs"))
    val deltas = StageMemo.shared(deltas0)
    val wLocal = Window.partitionBy("bucket").orderBy("tus")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wBucket = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas.groupBy("bucket").agg(sum(col("d")).as("bd"))
      .withColumn("bucket_offset", coalesce(sum(col("bd")).over(wBucket), lit(0L)))
      .select(col("bucket").as("ob"), col("bucket_offset"))
    deltas
      .withColumn("local", sum(col("d")).over(wLocal))
      .join(broadcast(offsets), col("bucket") === col("ob"))
      .withColumn("conc", col("bucket_offset") + col("local"))
      .groupBy(col("bucket"))
      .agg(max(col("conc")).as("peak_concurrency"), count(lit(1)).as("n_change_points"))
      .select(timestamp_micros(col("bucket") * hourUs).cast("timestamp_ntz").as("hour_start"),
        col("peak_concurrency"), col("n_change_points"))
      .orderBy("hour_start")
  }

  val maxConcurrencyOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
      |g AS (
      |  SELECT user_id, tus,
      |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
      |              OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |s AS (
      |  SELECT user_id,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sess_id,
      |    tus FROM g),
      |sess AS (
      |  SELECT user_id, sess_id, min(tus) AS s_tus, max(tus) AS e_tus
      |  FROM s GROUP BY user_id, sess_id),
      |deltas AS (
      |  SELECT tus, CAST(sum(d) AS BIGINT) AS d FROM (
      |    SELECT s_tus AS tus, 1 AS d FROM sess
      |    UNION ALL
      |    SELECT e_tus + 1 AS tus, -1 AS d FROM sess)
      |  GROUP BY tus),
      |sweep AS (
      |  SELECT tus, CAST(sum(d) OVER (ORDER BY tus ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
      |  FROM deltas)
      |SELECT make_timestamp((tus // 3600000000) * 3600000000) AS hour_start,
      |       CAST(max(conc) AS BIGINT) AS peak_concurrency, count(*) AS n_change_points
      |FROM sweep GROUP BY 1 ORDER BY hour_start""".stripMargin

  // ----------------------------------------------------- user growth curve
  /** Daily audience growth: new users (first-ever appearance), cumulative
    * registered users, and daily active users in one report — the
    * product-analytics growth curve. First-seen collapses each user to one
    * row (`groupBy(user_id).min(day)` — a partial-agg shuffle on the 8 B
    * user key), daily actives are an exact distinct per day, and the
    * cumulative sum runs over DISTINCT DAYS only (a calendar-bounded frame
    * at any corpus size — ~365 rows/year — so the single-partition window
    * is safe at 100 TB). */
  def userGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = table(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts").cast("timestamp")).as("day"))
    val firstSeen = e.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val actives = e.distinct().groupBy("day").agg(count(lit(1)).as("active_users"))
    val wDays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    actives.join(firstSeen, Seq("day"), "left")
      .na.fill(0L, Seq("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(wDays))
      .select(col("day"), col("new_users"), col("cum_users"), col("active_users"))
      .orderBy("day")
  }

  val userGrowthOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |fs AS (
      |  SELECT day, count(*) AS new_users FROM (
      |    SELECT user_id, min(day) AS day FROM e GROUP BY user_id)
      |  GROUP BY day),
      |act AS (
      |  SELECT day, count(DISTINCT user_id) AS active_users FROM e GROUP BY day)
      |SELECT act.day, COALESCE(new_users, 0) AS new_users,
      |       CAST(sum(COALESCE(new_users, 0)) OVER (ORDER BY act.day
      |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
      |       active_users
      |FROM act LEFT JOIN fs ON act.day = fs.day
      |ORDER BY act.day""".stripMargin

  // ---------------------------------------------- interval-interval overlap
  /** Busy-window audience report: data-derived "busy windows" (maximal runs
    * of hours whose event count exceeds the per-hour mean — a pure integer
    * compare, `n · n_hours > total`) interval-joined against user SESSIONS
    * ([[sessionize]] islands) to count sessions/users active during each
    * window. This is the interval-INTERVAL overlap join (both sides are
    * ranges), complementing the point-in-range family (`events_range_join*`).
    *
    * Scale shape: the overlap join is NOT a theta join — both interval sides
    * explode into the hour buckets they cover (expansion bounded by
    * interval length / bucket width) and meet in an EQUI-join on the 8 B
    * hour key, with the busy-hour side broadcast (calendar-bounded). The
    * oracle states the same join as the naive `s_start < w_end AND
    * s_end >= w_start` theta form. Pair dedup (a session sharing k hours
    * with a window appears k times) happens on (window, user, session)
    * keys before counting. */
  def busyWindowSessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600L * 1000000
    val gapUs = 30L * 60 * 1000000
    val e = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"))
    val hourly0 = e.groupBy(expr(s"tus div $hourUs").as("h"))
      .agg(count(lit(1)).as("n"))
    // calendar-bounded rows, read by the totals AND busy branches —
    // without materialization each branch re-ran the corpus scan +
    // hourly aggregation (r17; plan: 3 event scans → 2: the session
    // branch's own pass remains)
    val hourly = StageMemo.shared(hourly0)
    val tot = hourly.agg(sum(col("n")).as("total"), count(lit(1)).as("n_hours"))
    val busy = hourly.crossJoin(broadcast(tot))
      .filter(col("n") * col("n_hours") > col("total"))
      .select("h")
    // gaps-and-islands over the busy-hour frame (calendar-bounded): runs of
    // consecutive hours share (h - row_number)
    val windows = busy
      .withColumn("grp", col("h") - row_number().over(Window.orderBy("h")))
      .groupBy("grp").agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val byUser = Window.partitionBy("user_id").orderBy("tus")
    val sessions = e
      .withColumn("prev", lag(col("tus"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sess_id")
      .agg(min(col("tus")).as("s_tus"), max(col("tus")).as("e_tus"))
    val sessHours = sessions.withColumn("h",
      explode(sequence(expr(s"s_tus div $hourUs"), expr(s"e_tus div $hourUs"))))
    val winHours = windows.withColumn("h", explode(sequence(col("h0"), col("h1"))))
    sessHours.join(broadcast(winHours), Seq("h"))
      .select("h0", "h1", "user_id", "sess_id").distinct()
      .groupBy("h0", "h1")
      .agg(count(lit(1)).as("n_sessions"), countDistinct(col("user_id")).as("n_users"))
      .select(
        timestamp_micros(col("h0") * hourUs).cast("timestamp_ntz").as("window_start"),
        timestamp_micros((col("h1") + 1) * hourUs).cast("timestamp_ntz").as("window_end"),
        (col("h1") - col("h0") + 1).as("n_hours"),
        col("n_sessions"), col("n_users"))
      .orderBy("window_start")
  }

  val busyWindowSessionsOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
      |hourly AS (SELECT tus // 3600000000 AS h, count(*) AS n FROM e GROUP BY 1),
      |tot AS (SELECT sum(n) AS total, count(*) AS n_hours FROM hourly),
      |busy AS (SELECT h FROM hourly, tot WHERE n * n_hours > total),
      |win AS (
      |  SELECT min(h) AS h0, max(h) AS h1 FROM (
      |    SELECT h, h - row_number() OVER (ORDER BY h) AS grp FROM busy)
      |  GROUP BY grp),
      |g AS (
      |  SELECT user_id, tus,
      |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
      |              OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |s AS (
      |  SELECT user_id,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sess_id,
      |    tus FROM g),
      |sess AS (
      |  SELECT user_id, sess_id, min(tus) AS s_tus, max(tus) AS e_tus
      |  FROM s GROUP BY user_id, sess_id)
      |SELECT make_timestamp(h0 * 3600000000) AS window_start,
      |       make_timestamp((h1 + 1) * 3600000000) AS window_end,
      |       h1 - h0 + 1 AS n_hours,
      |       count(*) AS n_sessions,
      |       count(DISTINCT user_id) AS n_users
      |FROM win JOIN sess
      |  ON s_tus < (h1 + 1) * 3600000000 AND e_tus >= h0 * 3600000000
      |GROUP BY h0, h1 ORDER BY window_start""".stripMargin

  // ------------------------------------------------- rolling active users
  /** Rolling 7-day active users (WAU) next to daily actives (DAU) — the
    * product-health pair. Exact sliding-window DISTINCT cannot run as a
    * window function (distinct doesn't decompose over frames); the scalable
    * form is interval decomposition: collapse to DISTINCT (day, user)
    * pairs first (a partial-agg shuffle that removes the per-day event
    * skew), then each pair votes into the ≤7 report days it covers — a
    * BOUNDED ×7 explode on domain-sized rows — and an exact distinct per
    * report day finishes. Report days are semi-joined to days that exist,
    * so the curve never extends past the data. */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val dayUser = table(spark, dir, "events")
      .select(to_date(col("ts").cast("timestamp")).as("day"), col("user_id"))
      .distinct()
    val days = dayUser.select("day").distinct()
    val dau = dayUser.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = dayUser
      .withColumn("report_day",
        explode(sequence(col("day"), date_add(col("day"), 6))))
      .join(broadcast(days.select(col("day").as("report_day"))), Seq("report_day"),
        "left_semi")
      .groupBy("report_day")
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("report_day"))
      .select(col("day"), col("dau"), col("wau"))
      .orderBy("day")
  }

  val rollingActiveUsersOracle: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
      |), days AS (SELECT DISTINCT day FROM du),
      |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
      |wau AS (
      |  SELECT d.day AS report_day, count(DISTINCT du.user_id) AS wau
      |  FROM days d JOIN du ON du.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY 1)
      |SELECT day, dau, wau
      |FROM dau JOIN wau ON day = report_day
      |ORDER BY day""".stripMargin

  // ------------------------------------------------ weekend rank test (U)
  /** Exact Mann–Whitney U for "is weekend hourly activity genuinely
    * shifted vs weekdays" per event type — the nonparametric answer that
    * doesn't assume normal hourly counts (robust anomalies proved they
    * aren't). Everything stays integer: midranks come from the
    * grouped-VALUE frame (2·below + cnt + 1 — the Gini cumulative trick,
    * ties handled exactly), and `2U = Σ_we midrank₂ − n_we(n_we+1)`.
    * Readers compare `u2` against `n_wd·n_we` (its value under no shift);
    * the z-scaling is left to consumers, keeping libm out. Windows run
    * over distinct (type, value) rows — domain-bounded. */
  def weekendRankTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = table(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("h"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("y"))
      .withColumn("is_we", expr("((h div 24) + 4) % 7 >= 5"))
    val grp = hourly.groupBy("event_type", "y")
      .agg(count(lit(1)).as("cnt"),
        sum(col("is_we").cast("long")).as("we_cnt"))
    val w = Window.partitionBy("event_type").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, -1)
    grp
      .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("midrank2", lit(2L) * col("below") + col("cnt") + 1)
      .groupBy("event_type")
      .agg(sum(col("cnt")).as("n_hours"),
        sum(col("we_cnt")).as("n_we"),
        sum(col("we_cnt") * col("midrank2")).as("sum_mr2"))
      .select(col("event_type"),
        (col("n_hours") - col("n_we")).as("n_wd"), col("n_we"),
        (col("sum_mr2") - col("n_we") * (col("n_we") + 1)).as("u2"),
        ((col("n_hours") - col("n_we")) * col("n_we")).as("u2_null"))
      .orderBy("event_type")
  }

  val weekendRankTestOracle: String =
    """WITH hourly AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS y
      |  FROM events GROUP BY 1, 2
      |), f AS (
      |  SELECT event_type, y,
      |    CAST(((h // 24) + 4) % 7 >= 5 AS INT) AS is_we
      |  FROM hourly
      |), grp AS (
      |  SELECT event_type, y, count(*) AS cnt,
      |    CAST(sum(is_we) AS BIGINT) AS we_cnt
      |  FROM f GROUP BY 1, 2
      |), r AS (
      |  SELECT event_type, cnt, we_cnt,
      |    2 * COALESCE(sum(cnt) OVER (PARTITION BY event_type ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + cnt + 1 AS midrank2
      |  FROM grp)
      |SELECT event_type,
      |  CAST(sum(cnt) - sum(we_cnt) AS BIGINT) AS n_wd,
      |  CAST(sum(we_cnt) AS BIGINT) AS n_we,
      |  CAST(sum(we_cnt * midrank2) - sum(we_cnt) * (sum(we_cnt) + 1) AS BIGINT) AS u2,
      |  CAST((sum(cnt) - sum(we_cnt)) * sum(we_cnt) AS BIGINT) AS u2_null
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------ dormancy buckets
  /** Dormancy (churn-risk) distribution: users bucketed by days since
    * their LAST activity, relative to the corpus's newest event (a
    * data-derived "now", so the report is deterministic). The re-engagement
    * targeting table: who went quiet, and how long ago. One per-user max,
    * one calendar-bounded group-by. */
  def dormancyBuckets(spark: SparkSession, dir: String): DataFrame = {
    val last = table(spark, dir, "events")
      .groupBy("user_id")
      .agg(max(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")).as("last_day"))
    last
      .crossJoin(broadcast(last.agg(max(col("last_day")).as("now_day"))))
      .withColumn("days_dormant", col("now_day") - col("last_day"))
      .groupBy(col("days_dormant"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("days_dormant")
  }

  val dormancyBucketsOracle: String =
    """WITH last AS (
      |  SELECT user_id, max(epoch_us(ts) // 86400000000) AS last_day
      |  FROM events GROUP BY user_id
      |), n AS (SELECT max(last_day) AS now_day FROM last)
      |SELECT CAST(now_day - last_day AS BIGINT) AS days_dormant,
      |  count(*) AS n_users
      |FROM last, n GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- session-gap sensitivity
  /** Gap-threshold sensitivity sweep — how many sessions each candidate
    * inactivity threshold (5/15/30/60 min) would produce, from ONE pass:
    * per-user session count at threshold g is `1 + #(gaps > g)`, so the
    * corpus-wide count is `n_users + Σ(gap > g)` — four conditional sums
    * over the same lag frame, no re-sessionization per candidate. The
    * elbow of this curve is how the 30-minute default gets justified
    * instead of inherited. */
  def sessionGapSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tus")
    val mins = Seq(5L, 15L, 30L, 60L)
    val gaps = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"))
      .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
    val agg = gaps.agg(
      countDistinct(col("user_id")).as("n_users"),
      mins.map(m => sum((col("gap") > m * 60000000L).cast("long"))
        .as(s"brk_$m")): _*)
    // all four sweep rows explode from the ONE aggregate row (r16): the
    // former per-config union fed `agg` into four plan branches, and with
    // no cross-branch CSE the scan + per-user lag window ran FOUR times
    agg.select(explode(array(mins.map(m =>
        struct(lit(m).as("gap_minutes"),
          (col("n_users") + col(s"brk_$m")).as("n_sessions"))): _*)).as("r"))
      .select(col("r.gap_minutes").as("gap_minutes"),
        col("r.n_sessions").as("n_sessions"))
      .orderBy("gap_minutes")
  }

  val sessionGapSweepOracle: String = {
    val branches = Seq(5L, 15L, 30L, 60L).map { m =>
      s"""SELECT CAST($m AS BIGINT) AS gap_minutes,
         |  (SELECT count(DISTINCT user_id) FROM events)
         |  + CAST(sum(CASE WHEN gap > ${m * 60000000L} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sessions
         |FROM (
         |  SELECT epoch_us(ts) - lag(epoch_us(ts))
         |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS gap
         |  FROM events)""".stripMargin
    }
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY gap_minutes")
  }

  // -------------------------------------------------- burstiness profile
  /** Inter-arrival burstiness per event type: squared coefficient of
    * variation of the gaps, `CV² = n·Σg²/(Σg)² − 1`, as an exact
    * parts-per-million integer ratio (wide decimals; no float moments).
    * CV² ≈ 1 is a Poisson stream; ≫ 1 is bursty (retry storms, batch
    * emitters), ≪ 1 is a metronome (schedulers). One lag window per type
    * partition, one rollup; log₂-bucket detail lives in the gap terms if
    * a histogram is wanted later. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("tus", "event_id")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    table(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
      .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sg"),
        sum(dec(col("gap")) * dec(col("gap"))).cast("decimal(38,0)").as("sgg"))
      // a type whose events all share one timestamp has sg = 0: Spark's
      // div would NULL where DuckDB's // errors — drop the degenerate type
      // on both sides instead
      .filter(col("sg") > 0)
      .select(col("event_type"), col("n_gaps"),
        expr("sg div n_gaps").as("mean_gap_us"),
        expr("CAST((CAST(n_gaps AS DECIMAL(38,0)) * sgg * 1000000)" +
          " div (CAST(sg AS DECIMAL(38,0)) * sg) - 1000000 AS BIGINT)").as("cv2_ppm"))
      .orderBy("event_type")
  }

  val burstinessOracle: String =
    """WITH g AS (
      |  SELECT event_type,
      |    tus - lag(tus) OVER (PARTITION BY event_type ORDER BY tus, event_id) AS gap
      |  FROM (SELECT event_type, event_id, epoch_us(ts) AS tus FROM events))
      |SELECT event_type, count(*) AS n_gaps,
      |  CAST(sum(gap) // count(*) AS BIGINT) AS mean_gap_us,
      |  CAST(CAST(count(*) AS HUGEINT) * sum(CAST(gap AS HUGEINT) * gap) * 1000000
      |    // (CAST(sum(gap) AS HUGEINT) * sum(gap)) - 1000000 AS BIGINT) AS cv2_ppm
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY event_type HAVING sum(gap) > 0
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------- Haar wavelet energy
  /** Multi-scale activity decomposition: un-normalized Haar detail energy
    * of each type's hourly series at scales 2/4/8/16 hours — "does the
    * variance live at hour-to-hour jitter or day-scale swings", the
    * spectral question answered WITHOUT libm (Haar coefficients are sums
    * and differences of integer counts; energy is their exact square sum
    * in wide decimals). Scale k's detail per aligned block is
    * `Σ_even-half y − Σ_odd-half y` — one conditional aggregate per level
    * over hour-block keys, levels unioned into one DAG. Missing hours
    * count 0, exactly as a gap-filled series would. */
  def waveletEnergy(spark: SparkSession, dir: String, levels: Int = 4): DataFrame = {
    val hourly0 = table(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("h"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("y"))
    // (type × calendar-hour)-bounded, read by every wavelet level —
    // without materialization the corpus scan + hourly aggregation ran
    // once per level (r17; plan: 4 event scans → 1)
    val hourly = StageMemo.shared(hourly0)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val frames = (1 to levels).map { k =>
      val block = 1L << k
      val half = 1L << (k - 1)
      hourly
        .groupBy(col("event_type"), expr(s"h div $block").as("blk"))
        .agg(sum(when(expr(s"(h div $half) % 2") === 0, col("y"))
          .otherwise(-col("y"))).as("detail"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_blocks"),
          sum(dec(col("detail")) * dec(col("detail"))).cast("decimal(38,0)")
            .cast("bigint").as("energy"))
        .select(col("event_type"), lit(block).as("scale_hours"),
          col("n_blocks"), col("energy"))
    }
    frames.reduce(_.union(_)).orderBy("event_type", "scale_hours")
  }

  def waveletEnergyOracle(levels: Int = 4): String =
    (1 to levels).map { k =>
      val block = 1L << k
      val half = 1L << (k - 1)
      s"""SELECT event_type, CAST($block AS BIGINT) AS scale_hours,
         |  count(*) AS n_blocks,
         |  CAST(sum(CAST(detail AS HUGEINT) * detail) AS BIGINT) AS energy
         |FROM (
         |  SELECT event_type, h // $block AS blk,
         |    sum(CASE WHEN (h // $half) % 2 = 0 THEN y ELSE -y END) AS detail
         |  FROM (
         |    SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS y
         |    FROM events GROUP BY 1, 2)
         |  GROUP BY 1, 2)
         |GROUP BY event_type""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY event_type, scale_hours")

  // --------------------------------------------------- lateness profile
  /** Out-of-orderness profile — the measurement that PICKS a streaming
    * watermark instead of guessing one: for each event (in `event_id`
    * arrival order), how far behind the maximum event-time seen so far it
    * arrived, histogrammed into log₂-second buckets with the per-bucket
    * max. Read the tail bucket and you have the delay bound a
    * `withWatermark` needs to not drop data.
    *
    * The running max over arrival order is corpus-sized, so it runs as the
    * TWO-LEVEL prefix (id-range-bucket local maxima in parallel + a tiny
    * bucket-offset frame) — no global sort, no single-partition window over
    * rows. Bucket index is the binary-string length of the lateness in
    * seconds (+1) — no libm. */
  /** Per-event lateness (µs behind the running event-time max in arrival
    * order) — the shared core of [[latenessProfile]] and [[watermarkSweep]].
    * Two-level prefix shape as documented on the profile. */
  private def latenessFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val MinLong = Long.MinValue
    // the fixture's event_id order is PERFECTLY time-sorted (measured:
    // 10k/10k events at lateness 0), so arrival is simulated with a
    // deterministic per-event network delay of 0-120 s (the mixedHash
    // cross-engine idiom) — the profile then measures real reordering
    val e = table(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("tus"))
      .withColumn("arr",
        col("tus") + TextAnalysis.mixedHashOf("late|", col("event_id")) % 120000000L)
      .withColumn("bucket", expr("arr div 3600000000"))
    val wLocal = Window.partitionBy("bucket").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBucket = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = e.groupBy("bucket").agg(max(col("tus")).as("bmax"))
      .withColumn("prev_max", max(col("bmax")).over(wBucket))
      .select(col("bucket").as("ob"), col("prev_max"))
    e.withColumn("local_max", max(col("tus")).over(wLocal))
      .join(broadcast(offsets), col("bucket") === col("ob"))
      .withColumn("runprev",
        greatest(coalesce(col("local_max"), lit(MinLong)),
          coalesce(col("prev_max"), lit(MinLong))))
      .withColumn("late_us",
        when(col("runprev") === MinLong, 0L)
          .otherwise(greatest(lit(0L), col("runprev") - col("tus"))))
      .select("late_us")
  }

  def latenessProfile(spark: SparkSession, dir: String): DataFrame =
    latenessFrame(spark, dir)
      .select(length(expr("bin(late_us div 1000000 + 1)")).cast("bigint")
        .as("late_bucket"), col("late_us"))
      .groupBy("late_bucket")
      .agg(count(lit(1)).as("cnt"), max(col("late_us")).as("max_late_us"))
      .orderBy("late_bucket")

  val latenessProfileOracle: String =
    s"""WITH e AS (
       |  SELECT event_id, epoch_us(ts) AS tus,
       |    epoch_us(ts) + ${TextAnalysis.mixedHashSql("late|", "event_id")} % 120000000 AS arr
       |  FROM events),
       |l AS (
       |  SELECT greatest(0, COALESCE(max(tus) OVER (ORDER BY arr, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), tus) - tus) AS late_us
       |  FROM e)
       |SELECT CAST(length(bin(late_us // 1000000 + 1)) AS BIGINT) AS late_bucket,
       |       count(*) AS cnt, CAST(max(late_us) AS BIGINT) AS max_late_us
       |FROM l GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- watermark sweep
  /** WATERMARK-DELAY SWEEP (round 11) — [[latenessProfile]] measures how
    * out-of-order the stream is; this table prices the KNOB: for each
    * candidate `withWatermark` delay, exactly how many events arrive later
    * than the watermark allows and are DROPPED (exact ppm). Read the row
    * where dropped_ppm hits your loss budget and that is the delay — the
    * completeness-vs-latency trade every stateful streaming job makes
    * (the 18 streaming twins here included), printed as a decision table
    * instead of guessed.
    *
    * 100 TB shape: the ×|delays| explode runs on the 8-byte late_us
    * projection AFTER the two-level prefix (the profile's own distributed
    * shape), partial-aggregating into |delays| groups — sweep cost is one
    * narrow pass over what the profile already computes. */
  def watermarkSweep(spark: SparkSession, dir: String): DataFrame = {
    val delays = Seq(1L, 5L, 15L, 30L, 60L, 120L)
    latenessFrame(spark, dir)
      .withColumn("delay_s", explode(array(delays.map(lit): _*)))
      .groupBy("delay_s")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_us") > col("delay_s") * 1000000L, 1L).otherwise(0L))
          .as("n_dropped"))
      .withColumn("dropped_ppm", expr("(n_dropped * 1000000) div n_events"))
      .select("delay_s", "n_events", "n_dropped", "dropped_ppm")
      .orderBy("delay_s")
  }

  val watermarkSweepOracle: String =
    s"""WITH e AS (
       |  SELECT event_id, epoch_us(ts) AS tus,
       |    epoch_us(ts) + ${TextAnalysis.mixedHashSql("late|", "event_id")} % 120000000 AS arr
       |  FROM events),
       |l AS (
       |  SELECT greatest(0, COALESCE(max(tus) OVER (ORDER BY arr, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), tus) - tus) AS late_us
       |  FROM e),
       |d AS (
       |  SELECT CAST(unnest([1, 5, 15, 30, 60, 120]) AS BIGINT) AS delay_s)
       |SELECT d.delay_s,
       |  count(*) AS n_events,
       |  CAST(sum(CASE WHEN l.late_us > d.delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  CAST((sum(CASE WHEN l.late_us > d.delay_s * 1000000 THEN 1 ELSE 0 END) * 1000000)
       |       // count(*) AS BIGINT) AS dropped_ppm
       |FROM l CROSS JOIN d
       |GROUP BY d.delay_s ORDER BY d.delay_s""".stripMargin

  // ------------------------------------------------- CUSUM change detection
  /** CUSUM change-point alarms over each type's hourly series — the
    * sequential drift detector that fires on a SUSTAINED small shift long
    * before any single-hour threshold does. The textbook recursion
    * `S_t = max(0, S_(t−1) + (y_t − ȳ))` is sequential, but it has the
    * closed form `S_t = P_t − min_(j≤t) P_j` with `P` the prefix sum of
    * deviations — two windows, both per-type partitions over the
    * calendar-bounded hourly frame. Everything is scaled by n so the mean
    * never divides: `n·S_t = (n·ΣY_t − t·total) − runmin(·)`, exact
    * BIGINTs, and the alarm `S_t > 5·ȳ·n/n` compares `n·S_t > 5·total`.
    * Observed hours only (an absent hour contributes no deviation). */
  def cusumAlarms(spark: SparkSession, dir: String,
      thresholdMeans: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = table(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("h"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("y"))
    val totals = hourly.groupBy(col("event_type").as("tt"))
      .agg(sum(col("y")).as("total"), count(lit(1)).as("n"))
    val byType = Window.partitionBy("event_type").orderBy("h")
    val run = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    // slack of ȳ/2 per hour (the classic k≈0.5σ allowance, in mean units):
    // d_i = y_i − 1.5·ȳ, scaled by 2n ⇒ 2n·y_i − 3·total — without it the
    // mean-centered prefix is a random walk and S saturates into a
    // permanent alarm (observed: 2052 alarm hours on the fixture)
    hourly.join(broadcast(totals), col("event_type") === col("tt"))
      .withColumn("t", row_number().over(byType))
      .withColumn("cum",
        lit(2L) * col("n") * sum(col("y")).over(run) - lit(3L) * col("t") * col("total"))
      .withColumn("runmin", least(lit(0L), min(col("cum")).over(run)))
      .withColumn("s_scaled", col("cum") - col("runmin"))
      .filter(col("s_scaled") > lit(2L) * col("total") * thresholdMeans)
      .select(col("event_type"), col("h"), col("y"), col("s_scaled"),
        (lit(2L) * col("total") * thresholdMeans).as("threshold_scaled"))
      .orderBy("event_type", "h")
  }

  def cusumAlarmsOracle(thresholdMeans: Int = 1): String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS y
       |  FROM events GROUP BY 1, 2
       |), tot AS (
       |  SELECT event_type AS tt, CAST(sum(y) AS BIGINT) AS total,
       |         count(*) AS n
       |  FROM hourly GROUP BY 1
       |), c AS (
       |  SELECT event_type, h, y, total,
       |    2 * n * sum(y) OVER w - 3 * CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) * total AS cum
       |  FROM hourly JOIN tot ON event_type = tt
       |  WINDOW w AS (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING)
       |), s AS (
       |  SELECT event_type, h, y, total,
       |    cum - least(0, min(cum) OVER (PARTITION BY event_type ORDER BY h
       |      ROWS UNBOUNDED PRECEDING)) AS s_scaled
       |  FROM c)
       |SELECT event_type, h, y, CAST(s_scaled AS BIGINT) AS s_scaled,
       |       2 * total * $thresholdMeans AS threshold_scaled
       |FROM s WHERE s_scaled > 2 * total * $thresholdMeans
       |ORDER BY event_type, h""".stripMargin

  // ------------------------------------------------ nearest-event as-of join
  /** NEAREST as-of join — both directions: each purchase pairs with the
    * temporally closest click of the same user within ±5 minutes (the
    * backward-only form is [[purchaseClickAttribution]]; sensor/trade
    * alignment usually wants nearest-either-side). Banded equi-join: each
    * purchase probes its own 5-minute band and both neighbors (3 bands —
    * any |Δt| ≤ window pair shares one of them), then a per-purchase
    * min-|Δt| rank with an earlier-click tie-break. No theta join: the
    * band key bounds candidates to a constant per row at any scale. */
  def asofNearestClick(spark: SparkSession, dir: String,
      windowUs: Long = 5L * 60 * 1000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tus").as("p_tus"))
      .withColumn("band",
        explode(array(expr(s"p_tus div $windowUs") - 1,
          expr(s"p_tus div $windowUs"), expr(s"p_tus div $windowUs") + 1)))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tus").as("c_tus"))
      .withColumn("band", expr(s"c_tus div $windowUs"))
    val w = Window.partitionBy("event_id")
      .orderBy(abs(col("c_tus") - col("p_tus")), col("c_tus"))
    purchases
      .join(clicks, col("user_id") === col("c_user") && purchases("band") === clicks("band") &&
        abs(col("c_tus") - col("p_tus")) <= windowUs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("p_tus"), col("c_tus"),
        (col("c_tus") - col("p_tus")).as("delta_us"))
      .orderBy("event_id")
  }

  def asofNearestClickOracle(windowUs: Long = 5L * 60 * 1000000): String =
    s"""WITH p AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS p_tus FROM events
       |  WHERE event_type = 'purchase'
       |), c AS (
       |  SELECT user_id, epoch_us(ts) AS c_tus FROM events WHERE event_type = 'click'
       |), j AS (
       |  SELECT p.event_id, p.user_id, p.p_tus, c.c_tus,
       |    row_number() OVER (PARTITION BY p.event_id
       |      ORDER BY abs(c.c_tus - p.p_tus), c.c_tus) AS rn
       |  FROM p JOIN c ON c.user_id = p.user_id
       |    AND abs(c.c_tus - p.p_tus) <= $windowUs)
       |SELECT event_id, user_id, p_tus, c_tus, c_tus - p_tus AS delta_us
       |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---------------------------------------------- lagged cross-correlation
  /** Lagged cross-correlation between event-type hourly series — "do error
    * spikes FOLLOW deploy/click spikes, and by how many hours?" — Pearson r
    * of (x_t, y_(t+lag)) for every ordered type pair at lags −3..+3. All
    * five moments accumulate in DECIMAL(38,0) over integer (hour, count)
    * rows and only the final r is an IEEE divide (the [[corrMatrix]]
    * recipe applied to a lag-shifted self-join). The join is hourly-frame ×
    * 7 lags — calendar-bounded both sides, equi-join on the shifted hour
    * key; corpus rows are touched once to build the hourly frame. */
  def crossCorrelation(spark: SparkSession, dir: String,
      maxLag: Int = 3): DataFrame = {
    val hourly = table(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("h"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("y"))
    val a = hourly.select(col("event_type").as("type_a"), col("h"), col("y").as("x"))
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .withColumn("h2", col("h") + col("lag"))
    val b = hourly.select(col("event_type").as("type_b"), col("h").as("h2"),
      col("y").as("yv"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    a.join(b, "h2")
      .groupBy("type_a", "type_b", "lag")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("yv"))).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum(dec(col("yv")) * dec(col("yv"))).cast("decimal(38,0)").as("syy"),
        sum(dec(col("x")) * dec(col("yv"))).cast("decimal(38,0)").as("sxy"))
      .select(col("type_a"), col("type_b"), col("lag"),
        col("n").cast("bigint").as("n_hours"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("r"))
      .orderBy("type_a", "type_b", "lag")
  }

  def crossCorrelationOracle(maxLag: Int = 3): String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS y
       |  FROM events GROUP BY 1, 2
       |), a AS (
       |  SELECT event_type AS type_a, h, y AS x,
       |         unnest(range(-$maxLag, ${maxLag + 1})) AS lag
       |  FROM hourly
       |), m AS (
       |  SELECT type_a, b.event_type AS type_b, lag,
       |    CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(b.y) AS HUGEINT) AS sy,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(b.y AS HUGEINT) * b.y) AS HUGEINT) AS syy,
       |    CAST(sum(CAST(x AS HUGEINT) * b.y) AS HUGEINT) AS sxy
       |  FROM a JOIN hourly b ON a.h + a.lag = b.h
       |  GROUP BY 1, 2, 3)
       |SELECT type_a, type_b, CAST(lag AS INTEGER) AS lag,
       |  CAST(n AS BIGINT) AS n_hours,
       |  CAST(n * sxy - sx * sy AS DOUBLE) /
       |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
       |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
       |FROM m ORDER BY type_a, type_b, lag""".stripMargin

  // ---------------------------------------------- process-conformance check
  /** Process-mining conformance: "a purchase must be preceded by a click in
    * the SAME session" — the funnel-integrity rule instrumentation bugs
    * break first (attribution pipelines silently mis-credit when it fails).
    * Sessions are [[sessionize]]'s 30-minute islands; clicks-so-far is a
    * conditional running count over the session partition ordered by
    * (tus, event_id), and a purchase with zero prior clicks is a
    * violation. Per-type admission summary plus violation share in exact
    * per-mille. All windows partition by (user, session) — partition-
    * parallel, one shuffle, no self-joins. */
  def purchaseConformance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000000
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val e = table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
      .withColumn("prev", lag(col("tus"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val bySess = Window.partitionBy("user_id", "sess_id").orderBy("tus", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("clicks_before",
        coalesce(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .over(bySess), lit(0L)))
      .filter(col("event_type") === "purchase")
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(when(col("clicks_before") >= 1, 1L).otherwise(0L)).as("n_conforming"),
        sum(when(col("clicks_before") === 0, 1L).otherwise(0L)).as("n_violations"))
      .select(col("n_purchases"), col("n_conforming"), col("n_violations"),
        expr("n_violations * 1000 div n_purchases").as("violation_permille"))
  }

  val purchaseConformanceOracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events
      |), g AS (
      |  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
      |                  OR tus - lag(tus) OVER w > 1800000000
      |             THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
      |), s AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM g
      |), c AS (
      |  SELECT event_type,
      |    COALESCE(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id, sess_id ORDER BY tus, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clicks_before
      |  FROM s)
      |SELECT count(*) AS n_purchases,
      |  CAST(sum(CASE WHEN clicks_before >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_conforming,
      |  CAST(sum(CASE WHEN clicks_before = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
      |  CAST(sum(CASE WHEN clicks_before = 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000
      |    // count(*) AS violation_permille
      |FROM c WHERE event_type = 'purchase'""".stripMargin

  // -------------------------------------------------- Theil-Sen robust slope
  /** Theil–Sen robust trend per event type — the median of all pairwise
    * slopes of the hourly counts, the estimator that shrugs off the outlier
    * hours that drag [[trendSlopes]]'s OLS line. The pair join runs over
    * the HOURLY frame, so its size is (hours spanned)² per type —
    * calendar-bounded at any corpus scale (a year is ~8.8k hours → 38M
    * pairs, a broadcast-side job), never corpus-rows². Slopes are exact
    * IEEE divisions of integer deltas and the median interpolates two
    * middle doubles identically on both engines. */
  def theilSenSlopes(spark: SparkSession, dir: String): DataFrame = {
    val hourly = table(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("x"))
      .groupBy("event_type", "x")
      .agg(count(lit(1)).as("y"))
    val h1 = hourly.select(col("event_type"), col("x").as("x1"), col("y").as("y1"))
    val h2 = hourly.select(col("event_type").as("et2"), col("x").as("x2"), col("y").as("y2"))
    h1.join(h2, col("event_type") === col("et2") && col("x1") < col("x2"))
      .select(col("event_type"),
        ((col("y2") - col("y1")).cast("double") / (col("x2") - col("x1")).cast("double"))
          .as("slope"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        (median(col("slope")) * 1000).as("ts_slope_milli"))
      .orderBy("event_type")
  }

  val theilSenSlopesOracle: String =
    """WITH hourly AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS x, count(*) AS y
      |  FROM events GROUP BY 1, 2
      |), slopes AS (
      |  SELECT a.event_type,
      |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      |  FROM hourly a JOIN hourly b
      |    ON a.event_type = b.event_type AND a.x < b.x)
      |SELECT event_type, count(*) AS n_pairs,
      |       median(slope) * 1000 AS ts_slope_milli
      |FROM slopes GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------- seasonal deviation
  /** Seasonality-adjusted spike report: each hour's count against the mean
    * of its (event_type, day-of-week, hour-of-day) SLOT across the corpus —
    * "busy for a Tuesday 3pm" rather than "busy" ([[hourlyAnomalies]]'s
    * global z-score can't tell those apart). The baseline stays an exact
    * integer fraction (slot sum, slot count): deviation_permille =
    * (y·cnt − sum)·1000 div sum — no float means. Slot keys derive from
    * pure integer hour arithmetic (epoch-hour div/mod; day 0 = Thursday),
    * so both engines bucket identically. Top-20 spikes via TakeOrdered. */
  def seasonalSpikes(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val hourly = table(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("h"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("y"))
      .withColumn("dow", expr("((h div 24) + 4) % 7"))
      .withColumn("hod", expr("h % 24"))
    val slots = hourly.groupBy(col("event_type").as("st"), col("dow").as("sd"),
        col("hod").as("sh"))
      .agg(sum(col("y")).as("slot_sum"), count(lit(1)).as("slot_cnt"))
    hourly.join(broadcast(slots),
        col("event_type") === col("st") && col("dow") === col("sd") &&
          col("hod") === col("sh"))
      // positive deviations only: Spark `div` truncates toward zero while
      // DuckDB `//` floors, so negative ratios would disagree — and a
      // SPIKE report only wants the above-baseline side anyway
      .filter(col("y") * col("slot_cnt") > col("slot_sum"))
      .select(col("event_type"), col("h"), col("y"),
        expr("slot_sum * 1000 div slot_cnt").as("expected_milli"),
        expr("(y * slot_cnt - slot_sum) * 1000 div slot_sum").as("dev_permille"))
      .orderBy(col("dev_permille").desc, col("event_type"), col("h"))
      .limit(k)
  }

  def seasonalSpikesOracle(k: Int = 20): String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS y
       |  FROM events GROUP BY 1, 2
       |), slot AS (
       |  SELECT event_type, ((h // 24) + 4) % 7 AS dow, h % 24 AS hod,
       |         CAST(sum(y) AS BIGINT) AS slot_sum, count(*) AS slot_cnt
       |  FROM hourly GROUP BY 1, 2, 3)
       |SELECT hourly.event_type, h, y,
       |  slot_sum * 1000 // slot_cnt AS expected_milli,
       |  (y * slot_cnt - slot_sum) * 1000 // slot_sum AS dev_permille
       |FROM hourly JOIN slot
       |  ON hourly.event_type = slot.event_type
       |  AND ((h // 24) + 4) % 7 = slot.dow AND h % 24 = slot.hod
       |WHERE y * slot_cnt > slot_sum
       |ORDER BY dev_permille DESC, hourly.event_type, h LIMIT $k""".stripMargin

  // ------------------------------------------ rolling WAU, the sketch form
  /** The 100 TB twin of [[rollingActiveUsers]]: per-day Datasketches HLL
    * sketches of the user set (one partial-agg scan), then each report
    * day UNIONS its ≤ 7 day-sketches — KB of state per day, a day-domain
    * join, zero re-touch of event rows. Where the exact form explodes
    * distinct (day, user) pairs ×7, this unions 7 sketches per calendar
    * day regardless of corpus size; the register-max union is
    * order-insensitive, so the estimate is deterministic. Gate form: the
    * estimate is tolerance-checked in-query against the exact WAU and the
    * oracle asserts the boolean (the estimate itself is not
    * SQL-expressible). */
  def rollingWauSketchGate(spark: SparkSession, dir: String,
      tolPct: Int = 5): DataFrame = {
    val perDay0 = table(spark, dir, "events")
      .select(to_date(col("ts").cast("timestamp")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    // day-domain-bounded rows (one KB-sized sketch per calendar day), read
    // by BOTH self-join sides — without materialization each side re-ran
    // the corpus scan + HLL aggregation (r17, the r16 batch-4 finding;
    // plan: 3 event scans → 1)
    val perDay = StageMemo.shared(perDay0)
    val est = perDay.select(col("day").as("report_day"))
      .join(perDay,
        col("day").between(date_sub(col("report_day"), 6), col("report_day")))
      .groupBy("report_day")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"))
    val exact = rollingActiveUsers(spark, dir)
      .select(col("day").as("report_day"), col("wau"))
    est.join(exact, "report_day")
      .select(col("report_day").as("day"), col("wau"),
        (abs(col("est") - col("wau")) * 100 <= col("wau") * tolPct).as("within_tol"))
      .orderBy("day")
  }

  val rollingWauSketchGateOracle: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
      |), days AS (SELECT DISTINCT day FROM du)
      |SELECT d.day, count(DISTINCT du.user_id) AS wau, TRUE AS within_tol
      |FROM days d JOIN du ON du.day BETWEEN d.day - 6 AND d.day
      |GROUP BY d.day ORDER BY d.day""".stripMargin

  // ------------------------------------------------------------- debounce
  /** Event debounce report: per event type, how many events survive a
    * "drop repeats within 60 s of the previous event of the same
    * (user, type)" rule — the standard duplicate-burst suppressor for
    * double-clicks and retry storms. The gap test is a single `lag` window
    * per (user, type) partition (partition-parallel, one shuffle); ties on
    * identical timestamps order by event_id so the verdict is
    * deterministic. Emits the per-type admission summary (the kept-stream
    * itself is the same frame without the final rollup). */
  def debounceSummary(spark: SparkSession, dir: String,
      holdoffUs: Long = 60L * 1000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type").orderBy("tus", "event_id")
    table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .withColumn("kept",
        (col("prev").isNull || col("tus") - col("prev") >= holdoffUs).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"),
        (count(lit(1)) - sum(col("kept"))).as("n_dropped"))
      .orderBy("event_type")
  }

  def debounceSummaryOracle(holdoffUs: Long = 60L * 1000000): String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events
       |), f AS (
       |  SELECT event_type,
       |    CASE WHEN lag(tus) OVER (PARTITION BY user_id, event_type
       |           ORDER BY tus, event_id) IS NULL
       |         OR tus - lag(tus) OVER (PARTITION BY user_id, event_type
       |           ORDER BY tus, event_id) >= $holdoffUs
       |    THEN 1 ELSE 0 END AS kept
       |  FROM e)
       |SELECT event_type, count(*) AS n_total,
       |       CAST(sum(kept) AS BIGINT) AS n_kept,
       |       CAST(count(*) - sum(kept) AS BIGINT) AS n_dropped
       |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------- autocorrelation (seasonality)
  /** EXACT AUTOCORRELATION of the gap-filled hourly count series, per event
    * type, at the lags that matter for event data (1-3 h persistence, 6/12 h
    * harmonics, 24 h daily, 48 h, 168 h weekly) — the seasonality detector
    * behind "is this series daily-periodic?" before anyone fits a forecast.
    *
    * Integer-exact cross-engine, no libm: with n dense hours and S = Σx,
    * the centered series is scaled through by n — d_t = n·x_t − S (DECIMAL
    * (38,0), exact at any corpus size) — so ACF(L) = Σ d_t·d_{t+L} / Σ d_t²
    * needs no fractional mean. The ppm ratio is sign-adjusted around a
    * single non-negative floor division (`(-num) * 1e6 div den` when num<0)
    * because Spark's `div` truncates toward zero while DuckDB's `//` floors
    * — they agree only on non-negative operands (the IVF-Lloyd lesson).
    * Constant series (den = 0) are excluded rather than divided by zero.
    *
    * 100 TB shape: ONE scan partial-aggregates events to (type, hour)
    * counts; everything after runs on the dense spine — types × hours rows,
    * domain-bounded, not corpus-bounded. The 8 lag joins are hash joins on
    * that tiny series; the spine explode is a single-row sequence(). */
  /** (event_type, h, x): the gap-filled hourly count series over the global
    * [min, max] hour spine — the shared input of [[autocorrelation]] and
    * [[changepoint]]. One row-linear partial aggregate; everything after is
    * domain-bounded (types × hours). */
  private def denseHourly(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val ev = table(spark, dir, "events")
      .select(col("event_type"),
        expr(s"unix_micros(cast(ts as timestamp)) div $hourUs").as("h"))
    val counts = ev.groupBy("event_type", "h").agg(count(lit(1)).as("x"))
    val bounds = ev.agg(min("h").as("h0"), max("h").as("h1"))
    val spine = bounds.select(explode(expr("sequence(h0, h1)")).as("h"))
      .crossJoin(ev.select("event_type").distinct())
    spine.join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), coalesce(col("x"), lit(0L)).as("x"))
  }

  /** DuckDB twin of [[denseHourly]]: CTEs ev → counts → bounds → spine →
    * types → dense (x cast HUGEINT). */
  private val denseHourlySql: String =
    s"""ev AS (
       |  SELECT event_type, epoch_us(ts) // ${3600L * 1000000} AS h FROM events
       |), counts AS (
       |  SELECT event_type, h, count(*) AS x FROM ev GROUP BY 1, 2
       |), bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev
       |), spine AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds
       |), types AS (SELECT DISTINCT event_type FROM ev
       |), dense AS (
       |  SELECT t.event_type, s.h, CAST(COALESCE(c.x, 0) AS HUGEINT) AS x
       |  FROM spine s CROSS JOIN types t
       |  LEFT JOIN counts c ON c.h = s.h AND c.event_type = t.event_type
       |)""".stripMargin

  def autocorrelation(spark: SparkSession, dir: String,
      lags: Seq[Int] = Seq(1, 2, 3, 6, 12, 24, 48, 168)): DataFrame = {
    import spark.implicits._
    val dense = denseHourly(spark, dir)
    val totals = dense.groupBy("event_type")
      .agg(sum("x").as("s"), count(lit(1)).as("n_hours"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d = dense.join(totals, "event_type")
      .select(col("event_type"), col("h"),
        (dec(col("n_hours")) * dec(col("x")) - dec(col("s"))).as("d"))
    val dens = d.groupBy("event_type").agg(sum(col("d") * col("d")).as("den"))
    val nums = d.as("a")
      .crossJoin(broadcast(lags.map(_.toLong).toDF("lag")))
      .join(d.as("b"),
        col("b.event_type") === col("a.event_type") &&
          col("b.h") === col("a.h") + col("lag"))
      .groupBy(col("a.event_type").as("event_type"), col("lag"))
      .agg(sum(col("a.d") * col("b.d")).as("num"))
    nums.join(dens, "event_type")
      .filter(col("den") > 0)
      .select(col("event_type"), col("lag"),
        expr("""CAST(CASE WHEN num < 0 THEN -((-num) * 1000000 div den)
                |     ELSE num * 1000000 div den END AS BIGINT)""".stripMargin)
          .as("acf_ppm"))
      .orderBy("event_type", "lag")
  }

  def autocorrelationOracle(lags: Seq[Int] = Seq(1, 2, 3, 6, 12, 24, 48, 168)): String =
    s"""WITH $denseHourlySql, tot AS (
       |  SELECT event_type, sum(x) AS s, CAST(count(*) AS HUGEINT) AS n_hours
       |  FROM dense GROUP BY 1
       |), d AS (
       |  SELECT dense.event_type, h, n_hours * x - s AS d
       |  FROM dense JOIN tot ON dense.event_type = tot.event_type
       |), dens AS (SELECT event_type, sum(d * d) AS den FROM d GROUP BY 1
       |), lags AS (SELECT unnest([${lags.mkString(", ")}]) AS lag
       |), nums AS (
       |  SELECT a.event_type, lag, sum(a.d * b.d) AS num
       |  FROM d a CROSS JOIN lags
       |  JOIN d b ON b.event_type = a.event_type AND b.h = a.h + lag
       |  GROUP BY 1, 2
       |)
       |SELECT n.event_type, CAST(lag AS BIGINT) AS lag,
       |  CAST(CASE WHEN num < 0 THEN -((-num) * 1000000 // den)
       |       ELSE num * 1000000 // den END AS BIGINT) AS acf_ppm
       |FROM nums n JOIN dens USING (event_type)
       |WHERE den > 0
       |ORDER BY event_type, lag""".stripMargin

  // ----------------------------------------------- changepoint (mean shift)
  /** EXACT CHANGE-POINT DETECTION — binary segmentation's first split
    * (Edwards & Cavalli-Sforza '65; the CUSUM-scan form of Page '54), per
    * event type: the hour boundary t that maximizes the mean-shift scan
    * statistic G_t = t·(n−t)·(mean_L − mean_R)² over the gap-filled hourly
    * series. The CUSUM alarms ([[cusumAlarms]]) flag that drift happened;
    * this locates WHERE, which is what an incident review asks first.
    *
    * Integer-exact: with prefix sum A_t and total S, mean_L − mean_R =
    * (A_t·n − S·t)/(t·(n−t)), so G_t = (A_t·n − S·t)² / (t·(n−t)) — squared
    * numerator (non-negative) floor-divided once in DECIMAL(38,0), ranked
    * with ties to the earliest hour. Segment means reported in milli-units
    * (non-negative floor division again). Shape: the prefix sum is one
    * window over the domain-bounded dense series; argmax is a per-type
    * row_number — same two-shuffle profile as every spine statistic. */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dense = denseHourly(spark, dir)
    val wCum = Window.partitionBy("event_type").orderBy("h")
    val tot = dense.groupBy("event_type")
      .agg(sum("x").as("s"), count(lit(1)).as("n_hours"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = dense
      .withColumn("t", row_number().over(wCum).cast("bigint"))
      .withColumn("a", sum("x").over(wCum))
      .join(tot, "event_type")
      .filter(col("t") < col("n_hours"))
      .withColumn("dev",
        dec(col("a")) * dec(col("n_hours")) - dec(col("s")) * dec(col("t")))
      .withColumn("g_stat",
        expr("CAST((dev * dev) div (CAST(t AS DECIMAL(38,0)) * (n_hours - t)) AS BIGINT)"))
    val wPick = Window.partitionBy("event_type").orderBy(col("g_stat").desc, col("t"))
    g.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .select(col("event_type"), col("h").as("split_hour"), col("t"),
        col("n_hours"), col("g_stat"),
        expr("CAST(a * 1000 div t AS BIGINT)").as("mean_left_milli"),
        expr("CAST((s - a) * 1000 div (n_hours - t) AS BIGINT)").as("mean_right_milli"))
      .orderBy("event_type")
  }

  val changepointOracle: String =
    s"""WITH $denseHourlySql, tot AS (
       |  SELECT event_type, sum(x) AS s, CAST(count(*) AS HUGEINT) AS n_hours
       |  FROM dense GROUP BY 1
       |), pre AS (
       |  SELECT d.event_type, h,
       |    CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY h) AS HUGEINT) AS t,
       |    sum(x) OVER (PARTITION BY d.event_type ORDER BY h) AS a,
       |    s, n_hours
       |  FROM dense d JOIN tot ON d.event_type = tot.event_type
       |), g AS (
       |  SELECT event_type, h, t, n_hours, a, s,
       |    (a * n_hours - s * t) * (a * n_hours - s * t) // (t * (n_hours - t)) AS g_stat
       |  FROM pre WHERE t < n_hours
       |)
       |SELECT event_type, h AS split_hour, CAST(t AS BIGINT) AS t,
       |  CAST(n_hours AS BIGINT) AS n_hours, CAST(g_stat AS BIGINT) AS g_stat,
       |  CAST(a * 1000 // t AS BIGINT) AS mean_left_milli,
       |  CAST((s - a) * 1000 // (n_hours - t) AS BIGINT) AS mean_right_milli
       |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
       |        ORDER BY g_stat DESC, t) AS rn FROM g)
       |WHERE rn = 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------- seasonal forecast backtest
  /** FORECAST BACKTEST — the evaluation loop behind every capacity
    * forecast: score the seasonal-naive predictor (x̂_t = x_{t−168}, "same
    * hour last week") against the 1-step naive baseline (x̂_t = x_{t−1})
    * over the gap-filled hourly series, per event type. Reports MAE in
    * milli-events, signed bias, and the skill score
    * (MAE_naive − MAE_seasonal)/MAE_naive in permille — positive skill =
    * the weekly pattern is real and exploitable, the go/no-go number for
    * shipping a seasonal forecast at all.
    *
    * Integer-exact: absolute errors are integer counts summed in
    * DECIMAL(38,0); every division is floored on non-negative operands,
    * with the signed bias/skill routed through the sign-adjusted form
    * (negate after abs-division) so Spark `div` ≡ DuckDB `//`. Shape: two
    * lag windows over the domain-bounded spine — nothing row-scale after
    * the one partial aggregate. */
  def seasonalBacktest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dense = denseHourly(spark, dir)
    val w = Window.partitionBy("event_type").orderBy("h")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    dense
      .withColumn("f168", lag("x", 168).over(w))
      .withColumn("f1", lag("x", 1).over(w))
      .filter(col("f168").isNotNull)
      .groupBy("event_type").agg(
        count(lit(1)).as("n_test"),
        sum(dec(abs(col("x") - col("f168")))).as("ae168"),
        sum(dec(abs(col("x") - col("f1")))).as("ae1"),
        sum(dec(col("x") - col("f168"))).as("bias_sum"))
      .select(col("event_type"), col("n_test"),
        expr("CAST(ae168 * 1000 div n_test AS BIGINT)").as("mae_seasonal_milli"),
        expr("CAST(ae1 * 1000 div n_test AS BIGINT)").as("mae_naive_milli"),
        expr("""CAST(CASE WHEN bias_sum < 0 THEN -((-bias_sum) * 1000 div n_test)
               |     ELSE bias_sum * 1000 div n_test END AS BIGINT)""".stripMargin)
          .as("bias_milli"),
        expr("""CAST(CASE WHEN ae1 = 0 THEN 0
               |     WHEN ae1 >= ae168 THEN (ae1 - ae168) * 1000 div ae1
               |     ELSE -((ae168 - ae1) * 1000 div ae1) END AS BIGINT)""".stripMargin)
          .as("skill_permille"))
      .orderBy("event_type")
  }

  // --------------------------------------------------- conversion lag deciles
  /** CONVERSION-LAG DISTRIBUTION — the latency report behind attribution
    * windows: for every purchase with a click in the preceding hour, the
    * lag to the NEAREST prior click, cut into ten equal-count deciles with
    * exact integer min/max/mean milliseconds per bucket. This is how the
    * 5-minute attribution window of [[purchaseClickAttribution]] gets
    * CHOSEN — read the decile table, see where the mass sits.
    *
    * Shape: the candidate join is the same banded equi-join as every range
    * join here (band + band+1 keys, never a cross product); the decile
    * ntile runs over the CONVERTING-PURCHASE frame (already one row per
    * purchase — at lake scale swap in the two-level-prefix exact
    * percentile path of `profile_weighted_percentiles` if even that frame
    * is too wide for one window task), with a total-order tie-break so
    * bucket boundaries are engine-independent. */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val windowUs = 3600L * 1000000
    val ev = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tus").as("p_tus"), col("event_id"),
        expr(s"tus div $windowUs").as("band"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tus").as("c_tus"))
      .withColumn("band",
        explode(array(expr(s"c_tus div $windowUs"), expr(s"c_tus div $windowUs") + 1)))
    val lags = purchases
      .join(clicks,
        col("user_id") === col("c_user") && purchases("band") === clicks("band") &&
          col("c_tus") <= col("p_tus") && col("c_tus") >= col("p_tus") - windowUs)
      .groupBy("event_id")
      .agg(min(col("p_tus") - col("c_tus")).as("lag_us"))
    val w = Window.orderBy(col("lag_us"), col("event_id"))
    lags
      .withColumn("decile", ntile(10).over(w).cast("bigint"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_purchases"),
        expr("CAST(min(lag_us) div 1000 AS BIGINT)").as("min_lag_ms"),
        expr("CAST(max(lag_us) div 1000 AS BIGINT)").as("max_lag_ms"),
        expr("CAST(sum(lag_us) div (count(*) * 1000) AS BIGINT)").as("mean_lag_ms"))
      .orderBy("decile")
  }

  val conversionLagOracle: String = {
    val windowUs = 3600L * 1000000
    s"""WITH p AS (
       |  SELECT user_id, epoch_us(ts) AS p_tus, event_id FROM events
       |  WHERE event_type = 'purchase'
       |), c AS (
       |  SELECT user_id, epoch_us(ts) AS c_tus FROM events WHERE event_type = 'click'
       |), lags AS (
       |  SELECT p.event_id, min(p.p_tus - c.c_tus) AS lag_us
       |  FROM p JOIN c ON p.user_id = c.user_id
       |    AND c.c_tus <= p.p_tus AND c.c_tus >= p.p_tus - $windowUs
       |  GROUP BY p.event_id
       |), d AS (
       |  SELECT lag_us, CAST(ntile(10) OVER (ORDER BY lag_us, event_id) AS BIGINT) AS decile
       |  FROM lags
       |)
       |SELECT decile, count(*) AS n_purchases,
       |  CAST(min(lag_us) // 1000 AS BIGINT) AS min_lag_ms,
       |  CAST(max(lag_us) // 1000 AS BIGINT) AS max_lag_ms,
       |  CAST(sum(lag_us) // (count(*) * 1000) AS BIGINT) AS mean_lag_ms
       |FROM d GROUP BY decile ORDER BY decile""".stripMargin
  }

  // ---------------------------------------------- per-user temporal intensity
  /** USER TEMPORAL-INTENSITY PROFILE — the feature-engineering pass behind
    * abuse/bot screening and engagement segmentation: per user, total
    * volume, active-hour coverage, the PEAK single-hour rate, the MINIMUM
    * inter-arrival gap (microseconds; the two features that separate
    * scripted traffic from humans), activity span, and events per active
    * hour in milli-units. Complements [[rfmScores]] (value-based quantiles)
    * and [[burstiness]] (per-type CV²) with per-USER rate features.
    * Single-event users have no gaps — `min_gap_us` is −1 for them
    * (sentinel, documented; NULL would round-trip differently through the
    * two engines' frames). One shuffle on user_id; everything per-group. */
  def userIntensity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600L * 1000000
    val ev = table(spark, dir, "events").select(col("user_id"),
      expr("unix_micros(cast(ts as timestamp))").as("tus"),
      expr(s"unix_micros(cast(ts as timestamp)) div $hourUs").as("h"))
    val hourly = ev.groupBy("user_id", "h").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_active_hours"), max("c").as("peak_hourly"))
    val w = Window.partitionBy("user_id").orderBy("tus")
    val gaps = ev.withColumn("gap", col("tus") - lag("tus", 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("user_id").agg(min("gap").as("min_gap"))
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), (max("h") - min("h") + 1).as("span_hours"))
      .join(hourly, "user_id")
      .join(gaps, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("n_active_hours"),
        col("peak_hourly"), col("span_hours"),
        coalesce(col("min_gap"), lit(-1L)).as("min_gap_us"),
        expr("CAST(n_events * 1000 div n_active_hours AS BIGINT)")
          .as("events_per_active_hour_milli"))
      .orderBy("user_id")
  }

  val userIntensityOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) AS tus,
       |         epoch_us(ts) // ${3600L * 1000000} AS h
       |  FROM events
       |), hourly AS (
       |  SELECT user_id, count(*) AS n_active_hours, max(c) AS peak_hourly
       |  FROM (SELECT user_id, h, count(*) AS c FROM ev GROUP BY 1, 2)
       |  GROUP BY user_id
       |), gaps AS (
       |  SELECT user_id, min(gap) AS min_gap FROM (
       |    SELECT user_id,
       |      tus - lag(tus, 1) OVER (PARTITION BY user_id ORDER BY tus) AS gap
       |    FROM ev)
       |  WHERE gap IS NOT NULL GROUP BY user_id
       |), base AS (
       |  SELECT user_id, count(*) AS n_events, max(h) - min(h) + 1 AS span_hours
       |  FROM ev GROUP BY user_id
       |)
       |SELECT b.user_id, n_events, n_active_hours, peak_hourly, span_hours,
       |  COALESCE(min_gap, -1) AS min_gap_us,
       |  CAST(n_events * 1000 // n_active_hours AS BIGINT) AS events_per_active_hour_milli
       |FROM base b
       |JOIN hourly USING (user_id)
       |LEFT JOIN gaps USING (user_id)
       |ORDER BY user_id""".stripMargin

  // ----------------------------------------------- bot / metronome detector
  /** INTER-ARRIVAL REGULARITY (bot detector) — per user, the squared
    * coefficient of variation of inter-event gaps in exact ppm:
    * CV² = n·Σg²/(Σg)² − 1, computed as one integer expression in
    * DECIMAL(38,0) (Σg² wraps int64 at hour-scale microsecond gaps). Human
    * traffic is bursty (CV² ≳ 10⁶, the Poisson line); schedulers and
    * scrapers are metronomic (CV² ≈ 0) — the standard first screen before
    * counting "users" in a web corpus. Gaps come from a per-user
    * partitioned window (no global sort); Σg/Σg² are order-invariant under
    * timestamp ties, so the report is deterministic across engines and
    * partitionings. */
  def botRegularity(spark: SparkSession, dir: String, minEvents: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, dir, "events").select(col("user_id"),
      expr("unix_micros(cast(ts as timestamp))").as("tus"))
    val w = Window.partitionBy("user_id").orderBy("tus")
    ev.withColumn("gap", col("tus") - lag("tus", 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("s1"),
        sum(expr("CAST(gap AS DECIMAL(38,0)) * gap")).as("s2"))
      .filter(col("n_gaps") >= minEvents - 1)
      .select(col("user_id"), col("n_gaps"),
        expr("CAST(s1 div n_gaps AS BIGINT)").as("mean_gap_us"),
        expr("""CAST((1000000 * (n_gaps * s2 - CAST(s1 AS DECIMAL(38,0)) * s1))
               |  div (CAST(s1 AS DECIMAL(38,0)) * s1) AS BIGINT)""".stripMargin)
          .as("cv2_ppm"),
        expr("""(1000000 * (n_gaps * s2 - CAST(s1 AS DECIMAL(38,0)) * s1))
               |  div (CAST(s1 AS DECIMAL(38,0)) * s1) < 250000""".stripMargin)
          .as("is_regular"))
      .orderBy("user_id")
  }

  def botRegularityOracle(minEvents: Int = 10): String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) AS tus FROM events
       |), g AS (
       |  SELECT user_id,
       |    tus - lag(tus, 1) OVER (PARTITION BY user_id ORDER BY tus) AS gap
       |  FROM ev
       |), a AS (
       |  SELECT user_id, count(*) AS n_gaps, sum(gap) AS s1,
       |         sum(CAST(gap AS HUGEINT) * gap) AS s2
       |  FROM g WHERE gap IS NOT NULL GROUP BY user_id
       |)
       |SELECT user_id, n_gaps,
       |  CAST(s1 // n_gaps AS BIGINT) AS mean_gap_us,
       |  CAST((1000000 * (n_gaps * s2 - CAST(s1 AS HUGEINT) * s1))
       |    // (CAST(s1 AS HUGEINT) * s1) AS BIGINT) AS cv2_ppm,
       |  (1000000 * (n_gaps * s2 - CAST(s1 AS HUGEINT) * s1))
       |    // (CAST(s1 AS HUGEINT) * s1) < 250000 AS is_regular
       |FROM a WHERE n_gaps >= ${minEvents - 1}
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------- multi-touch attribution
  /** MULTI-TOUCH ATTRIBUTION — conversion credit assignment, the classic
    * marketing-analytics rollup: every `purchase` looks back `windowHours`
    * at the same user's `click`/`view` touches and credit is split three
    * ways at once — first-touch (all to the earliest), last-touch (all to
    * the latest), linear (1000‰ split evenly, remainder to the last touch
    * so every conversion distributes EXACTLY 1000). Integer permille
    * throughout: each model's column sums to 1000 × attributed
    * conversions, an invariant the spec asserts. Ties inside a conversion
    * break on event_id, so credit is deterministic across engines.
    *
    * 100 TB shape: conversions ⨝ touches is a user-keyed equi-join (8-byte
    * shuffle key) with the look-back window as a post-join filter —
    * per-user frames are bounded, and the per-conversion rank windows sort
    * only a user's touches inside one partition. No global sort, no
    * cross-user work. */
  def attribution(spark: SparkSession, dir: String, windowHours: Int = 72): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val winUs = windowHours * 3600L * 1000000L
    val ev = table(spark, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), expr("unix_micros(cast(ts as timestamp))").as("tus"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"), col("tus").as("cts"))
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("tus").as("tts"), col("event_id").as("touch_id"))
    val w = Window.partitionBy("conv_id")
    conv.join(touch, Seq("user_id"))
      .filter(col("tts") < col("cts") && col("tts") >= col("cts") - winUs)
      .withColumn("rk_first", row_number().over(w.orderBy(col("tts"), col("touch_id"))))
      .withColumn("rk_last", row_number().over(w.orderBy(col("tts").desc, col("touch_id").desc)))
      .withColumn("n_touches", count(lit(1)).over(w))
      .select(col("touch_type"),
        when(col("rk_first") === 1, 1000L).otherwise(0L).as("fc"),
        when(col("rk_last") === 1, 1000L).otherwise(0L).as("lc"),
        (expr("1000 div n_touches") +
          when(col("rk_last") === 1, expr("1000 % n_touches")).otherwise(0L)).as("nc"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touch_events"),
        sum(col("fc")).cast("bigint").as("first_touch_milli"),
        sum(col("lc")).cast("bigint").as("last_touch_milli"),
        sum(col("nc")).cast("bigint").as("linear_milli"))
      .orderBy("touch_type")
  }

  def attributionOracle(windowHours: Int = 72): String = {
    val winUs = windowHours * 3600L * 1000000L
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events
       |), conv AS (
       |  SELECT event_id AS conv_id, user_id, tus AS cts FROM ev
       |  WHERE event_type = 'purchase'
       |), touch AS (
       |  SELECT user_id, event_type AS touch_type, tus AS tts, event_id AS touch_id
       |  FROM ev WHERE event_type IN ('click', 'view')
       |), j AS (
       |  SELECT conv_id, touch_type, tts, touch_id,
       |    row_number() OVER (PARTITION BY conv_id ORDER BY tts, touch_id) AS rk_first,
       |    row_number() OVER (PARTITION BY conv_id ORDER BY tts DESC, touch_id DESC) AS rk_last,
       |    count(*) OVER (PARTITION BY conv_id) AS n_touches
       |  FROM conv JOIN touch USING (user_id)
       |  WHERE tts < cts AND tts >= cts - $winUs
       |)
       |SELECT touch_type, count(*) AS n_touch_events,
       |  CAST(sum(CASE WHEN rk_first = 1 THEN 1000 ELSE 0 END) AS BIGINT) AS first_touch_milli,
       |  CAST(sum(CASE WHEN rk_last = 1 THEN 1000 ELSE 0 END) AS BIGINT) AS last_touch_milli,
       |  CAST(sum(1000 // n_touches +
       |           CASE WHEN rk_last = 1 THEN 1000 % n_touches ELSE 0 END) AS BIGINT) AS linear_milli
       |FROM j GROUP BY touch_type ORDER BY touch_type""".stripMargin
  }

  val seasonalBacktestOracle: String =
    s"""WITH $denseHourlySql, lagged AS (
       |  SELECT event_type, x,
       |    lag(x, 168) OVER (PARTITION BY event_type ORDER BY h) AS f168,
       |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY h) AS f1
       |  FROM dense
       |), agg AS (
       |  SELECT event_type, count(*) AS n_test,
       |    sum(abs(x - f168)) AS ae168,
       |    sum(abs(x - f1)) AS ae1,
       |    sum(x - f168) AS bias_sum
       |  FROM lagged WHERE f168 IS NOT NULL GROUP BY event_type
       |)
       |SELECT event_type, n_test,
       |  CAST(ae168 * 1000 // n_test AS BIGINT) AS mae_seasonal_milli,
       |  CAST(ae1 * 1000 // n_test AS BIGINT) AS mae_naive_milli,
       |  CAST(CASE WHEN bias_sum < 0 THEN -((-bias_sum) * 1000 // n_test)
       |       ELSE bias_sum * 1000 // n_test END AS BIGINT) AS bias_milli,
       |  CAST(CASE WHEN ae1 = 0 THEN 0
       |       WHEN ae1 >= ae168 THEN (ae1 - ae168) * 1000 // ae1
       |       ELSE -((ae168 - ae1) * 1000 // ae1) END AS BIGINT) AS skill_permille
       |FROM agg ORDER BY event_type""".stripMargin

  // ------------------------------------------- difference-in-differences
  /** DIFFERENCE-IN-DIFFERENCES — the experiment-readout primitive: purchase
    * spend per (arm × period) cell and the DiD estimate, in exact milli
    * units. Arm assignment is the content-independent
    * `mixedHash("ab|" ‖ user_id) % 2` bucket (the reproducible A/B split —
    * the same user lands in the same arm at any partitioning or rerun);
    * the period boundary is the midpoint of the observed event-time range,
    * so pre/post windows are equal by construction. Cell means are floor
    * divisions of non-negative milli sums (identical truncation in both
    * engines); the DiD estimate is plain BIGINT subtraction of the four
    * cell means.
    *
    * 100 TB shape: ONE scan → conditional aggregates (the 2×2 pivot is 8
    * partial-agg columns, map-side combined); the range midpoint is a
    * 1-row broadcast. No shuffle wider than the single global agg. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events").select(
      col("user_id"), col("event_type"),
      expr("unix_micros(cast(ts as timestamp))").as("tus"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"))
    val mid = ev.agg(expr("(min(tus) + max(tus)) div 2").as("mid"))
    ev.filter(col("event_type") === "purchase")
      .crossJoin(broadcast(mid))
      .select(
        (TextAnalysis.mixedHashOf("ab|", col("user_id")) % 2 === 1).as("treat"),
        (col("tus") >= col("mid")).as("post"), col("vm"))
      .agg(
        sum(when(!col("treat") && !col("post"), 1L).otherwise(0L)).as("n_pre_ctrl"),
        sum(when(col("treat") && !col("post"), 1L).otherwise(0L)).as("n_pre_treat"),
        sum(when(!col("treat") && col("post"), 1L).otherwise(0L)).as("n_post_ctrl"),
        sum(when(col("treat") && col("post"), 1L).otherwise(0L)).as("n_post_treat"),
        sum(when(!col("treat") && !col("post"), col("vm")).otherwise(0L)).as("s_pre_ctrl"),
        sum(when(col("treat") && !col("post"), col("vm")).otherwise(0L)).as("s_pre_treat"),
        sum(when(!col("treat") && col("post"), col("vm")).otherwise(0L)).as("s_post_ctrl"),
        sum(when(col("treat") && col("post"), col("vm")).otherwise(0L)).as("s_post_treat"))
      .select(
        col("n_pre_ctrl"), col("n_pre_treat"), col("n_post_ctrl"), col("n_post_treat"),
        expr("s_pre_ctrl div n_pre_ctrl").as("mean_pre_ctrl_milli"),
        expr("s_pre_treat div n_pre_treat").as("mean_pre_treat_milli"),
        expr("s_post_ctrl div n_post_ctrl").as("mean_post_ctrl_milli"),
        expr("s_post_treat div n_post_treat").as("mean_post_treat_milli"),
        expr("""(s_post_treat div n_post_treat - s_pre_treat div n_pre_treat)
               | - (s_post_ctrl div n_post_ctrl - s_pre_ctrl div n_pre_ctrl)""".stripMargin)
          .as("did_milli"))
  }

  def diffInDiffOracle(): String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS tus,
       |    CAST(floor(value * 1000) AS BIGINT) AS vm
       |  FROM events
       |), mid AS (SELECT (min(tus) + max(tus)) // 2 AS mid FROM ev),
       |cells AS (
       |  SELECT ${TextAnalysis.mixedHashSql("ab|", "user_id").linesIterator.mkString("\n|    ")} % 2 = 1 AS treat,
       |    tus >= mid AS post, vm
       |  FROM ev CROSS JOIN mid WHERE event_type = 'purchase'
       |), agg AS (
       |  SELECT
       |    sum(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS n_pre_ctrl,
       |    sum(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS n_pre_treat,
       |    sum(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS n_post_ctrl,
       |    sum(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS n_post_treat,
       |    sum(CASE WHEN NOT treat AND NOT post THEN vm ELSE 0 END) AS s_pre_ctrl,
       |    sum(CASE WHEN treat AND NOT post THEN vm ELSE 0 END) AS s_pre_treat,
       |    sum(CASE WHEN NOT treat AND post THEN vm ELSE 0 END) AS s_post_ctrl,
       |    sum(CASE WHEN treat AND post THEN vm ELSE 0 END) AS s_post_treat
       |  FROM cells
       |)
       |SELECT CAST(n_pre_ctrl AS BIGINT) AS n_pre_ctrl,
       |  CAST(n_pre_treat AS BIGINT) AS n_pre_treat,
       |  CAST(n_post_ctrl AS BIGINT) AS n_post_ctrl,
       |  CAST(n_post_treat AS BIGINT) AS n_post_treat,
       |  CAST(s_pre_ctrl // n_pre_ctrl AS BIGINT) AS mean_pre_ctrl_milli,
       |  CAST(s_pre_treat // n_pre_treat AS BIGINT) AS mean_pre_treat_milli,
       |  CAST(s_post_ctrl // n_post_ctrl AS BIGINT) AS mean_post_ctrl_milli,
       |  CAST(s_post_treat // n_post_treat AS BIGINT) AS mean_post_treat_milli,
       |  CAST((s_post_treat // n_post_treat - s_pre_treat // n_pre_treat)
       |    - (s_post_ctrl // n_post_ctrl - s_pre_ctrl // n_pre_ctrl) AS BIGINT) AS did_milli
       |FROM agg""".stripMargin

  // ----------------------------------------------- dyadic EWMA forecast
  /** DYADIC EWMA FORECAST BACKTEST — one-step-ahead level forecasting of
    * the dense hourly series per type, with EXACT integer weights: the
    * window is the last 8 hours weighted 128,64,…,1 (α=½ exponential decay
    * truncated at K=8), so fc_milli = 1000·Σ 2^(8−k)·x_(t−k) div 255 —
    * no floating smoothing state, bit-identical everywhere. Reported per
    * type: scored hours, MAE and signed bias of the forecast (milli), and
    * the next-hour forecast a monitor would alert on. Complements
    * [[seasonalBacktest]] (seasonal-naive lag-168) with the smoothed-level
    * model that reacts to drift within a day.
    *
    * 100 TB shape: the hourly rollup is the only data-sized agg; the spine
    * join and the 8 lag windows run on the (types × hours) series —
    * domain-bounded, partitioned by type, never a global sort. */
  def ewmaBacktest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, dir, "events")
      .select(expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"),
        col("event_type"))
    val hourly = ev.groupBy("event_type", "h").agg(count(lit(1)).as("x"))
    val bounds = ev.agg(min("h").as("h0"), max("h").as("h1"))
    val dense = bounds
      .select(explode(expr("sequence(h0, h1)")).as("h"))
      .crossJoin(ev.select("event_type").distinct())
      .join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("h")
    // nnum at row t = SUM_{j=0..7} 2^(7-j)*x_(t-j): the weighted window that
    // FORECASTS hour t+1. The forecast scored at t is therefore lag(nnum,1).
    val fc = dense.select(col("event_type"), col("h"), col("x"),
      (0 to 7).map(j => lag("x", j).over(w) * lit(1L << (7 - j)))
        .reduce(_ + _).as("nnum"))
      .withColumn("fcnum", lag("nnum", 1).over(w))
      .withColumn("fc_milli", expr("fcnum * 1000 div 255"))
      .withColumn("err", col("x") * 1000L - col("fc_milli"))
    fc.groupBy("event_type")
      .agg(sum(when(col("fcnum").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(abs(col("err"))).as("ae"),
        sum(col("err")).as("es"),
        max_by(col("nnum"), col("h")).as("last_nnum"))
      .select(col("event_type"), col("n_scored"),
        expr("ae div n_scored").as("mae_milli"),
        expr("""CASE WHEN es < 0 THEN -((-es) div n_scored)
               |  ELSE es div n_scored END""".stripMargin).as("bias_milli"),
        expr("last_nnum * 1000 div 255").as("next_fc_milli"))
      .orderBy("event_type")
  }

  def ewmaBacktestOracle(): String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h, event_type FROM events
      |), hourly AS (
      |  SELECT event_type, h, count(*) AS x FROM ev GROUP BY 1, 2
      |), bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
      |dense AS (
      |  SELECT t.event_type, s.h, COALESCE(hr.x, 0) AS x
      |  FROM (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds) s
      |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
      |  LEFT JOIN hourly hr ON hr.event_type = t.event_type AND hr.h = s.h
      |), win AS (
      |  SELECT event_type, h, x,
      |    128 * x
      |    + 64 * lag(x, 1) OVER w + 32 * lag(x, 2) OVER w
      |    + 16 * lag(x, 3) OVER w + 8 * lag(x, 4) OVER w
      |    + 4 * lag(x, 5) OVER w + 2 * lag(x, 6) OVER w
      |    + lag(x, 7) OVER w AS nnum
      |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h)
      |), fc AS (
      |  SELECT event_type, h, x, nnum,
      |    lag(nnum, 1) OVER (PARTITION BY event_type ORDER BY h) AS fcnum
      |  FROM win
      |), scored AS (
      |  SELECT event_type, h, x, nnum, fcnum,
      |    x * 1000 - fcnum * 1000 // 255 AS err
      |  FROM fc
      |)
      |SELECT event_type,
      |  CAST(sum(CASE WHEN fcnum IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
      |  CAST(sum(abs(err)) // sum(CASE WHEN fcnum IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS mae_milli,
      |  CAST(CASE WHEN sum(err) < 0
      |    THEN -((-sum(err)) // sum(CASE WHEN fcnum IS NOT NULL THEN 1 ELSE 0 END))
      |    ELSE sum(err) // sum(CASE WHEN fcnum IS NOT NULL THEN 1 ELSE 0 END) END
      |    AS BIGINT) AS bias_milli,
      |  CAST(max_by(nnum, h) * 1000 // 255 AS BIGINT) AS next_fc_milli
      |FROM scored GROUP BY event_type ORDER BY event_type""".stripMargin
}

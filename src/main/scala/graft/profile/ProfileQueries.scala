package graft.profile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixtures

/** SQL-checkable query forms of the profiling semantics — the correctness
  * gate for SURVEY §2's S5/S6/S7/A2/A3/A4/A6 rows. Each builder has a
  * matching DuckDB oracle-SQL generator driven by the same column lists.
  *
  * Everything here is a single fused aggregation per table (SURVEY §4.2 "stat
  * fusion"): one column-pruned scan computes COUNT(*) plus every MIN/MAX, vs
  * the reference's one-scan-per-column loop
  * (`/root/reference/src/listTables.tsx:236-251`).
  */
object ProfileQueries {

  /** Fused per-table stats as a one-row DataFrame: `n_rows`, `min_<c>`,
    * `max_<c>` for each profiled column. `events.ts` (TIMESTAMP_NTZ micros)
    * surfaces as epoch-MICROS integers (`min_ts`/`max_ts`) so the DuckDB
    * oracle — `epoch_us(...)` over the same naive timestamps — lands on the
    * identical integer.
    */
  def stats(spark: SparkSession, dir: String, tableName: String): DataFrame = {
    val df = Fixtures.table(spark, dir, tableName)
    val profiled = Fixtures.numericCols(tableName) ++
      Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      profiled.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          (count(lit(1)) - count(col(c))).as(s"nulls_$c"))) ++
      (if (tableName == "events")
        Seq(expr("unix_micros(cast(min(ts) as timestamp))").as("min_ts"),
          expr("unix_micros(cast(max(ts) as timestamp))").as("max_ts"),
          expr("count(*) - count(ts)").as("nulls_ts"))
      else Seq.empty)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** DuckDB oracle for [[stats]] — generated from the same column lists. */
  def statsOracle(tableName: String): String = {
    val cols = Fixtures.numericCols(tableName) ++
      Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    val minmax = cols.map(c =>
      s"min($c) AS min_$c, max($c) AS max_$c, count(*) - count($c) AS nulls_$c") ++
      (if (tableName == "events")
        Seq("epoch_us(min(ts)) AS min_ts, epoch_us(max(ts)) AS max_ts, count(*) - count(ts) AS nulls_ts")
      else Seq.empty)
    s"SELECT count(*) AS n_rows, ${minmax.mkString(", ")} FROM $tableName"
  }

  /** Exact row count of every table in the catalog, one result set —
    * SURVEY §2.1 S7 / §2.4 A4, batched. */
  def rowCounts(spark: SparkSession, dir: String): DataFrame =
    Fixtures.allTables
      .map(t => Fixtures.table(spark, dir, t)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows")))
      .reduce(_ unionAll _)
      .orderBy("table_name")

  def rowCountsOracle: String =
    Fixtures.allTables
      .map(t => s"SELECT '$t' AS table_name, count(*) AS n_rows FROM $t")
      .mkString("", " UNION ALL ", " ORDER BY table_name")

  /** Tri-state boolean histogram with the reference's exact percent math
    * (SURVEY §2.2 P5, §2.4 A3/A6), demonstrated on a derived boolean (the
    * fixtures have no boolean column — FIXTURES.md): discount > 0.06 → TRUE,
    * < 0.03 → FALSE, else NULL. NULLs count toward neither bucket nor the
    * denominator; percents use the bigint half-up permille formula
    * (`/root/reference/src/listTables.tsx:51-57`) in pure integer SQL.
    */
  def boolHistogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Fixtures.table(spark, dir, "lineitem")
    val flagged = li.select(
      when(col("l_discount") > 0.06, lit(true))
        .when(col("l_discount") < 0.03, lit(false))
        .otherwise(lit(null)).as("flag"))
    flagged
      .agg(
        sum(when(col("flag") <=> lit(true), 1L).otherwise(0L)).as("true_count"),
        sum(when(col("flag") <=> lit(false), 1L).otherwise(0L)).as("false_count"))
      .withColumn("denom", col("true_count") + col("false_count"))
      .withColumn("permille_t",
        expr("(true_count * 1000 + denom div 2) div denom"))
      .withColumn("permille_f",
        expr("(false_count * 1000 + denom div 2) div denom"))
      .select(
        col("true_count"), col("false_count"),
        concat(expr("permille_t div 10"), lit("."), expr("permille_t % 10"), lit("%")).as("true_pct"),
        concat(expr("permille_f div 10"), lit("."), expr("permille_f % 10"), lit("%")).as("false_pct"))
  }

  /** Exact NDV (count DISTINCT) per profiled column of a table — the
    * cardinality row of a full `summary()`-style profile. The approximate
    * (HLL) twin is [[approxNdv]]; exact is the oracle-checkable form. */
  def ndv(spark: SparkSession, dir: String, tableName: String): DataFrame = {
    val cols = Fixtures.numericCols(tableName) ++
      Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    ndvFrame(Fixtures.table(spark, dir, tableName), cols)
  }

  /** Exact multi-column NDV WITHOUT the Expand plan and in ONE job: stack()
    * unpivots the N profiled columns to narrow (column_name, value-string)
    * pairs in-row, a two-level aggregate (distinct pairs, then count per
    * column) computes every NDV behind one scan and one shuffle of
    * map-side-deduplicated pairs, and a values-pinned pivot folds the N
    * counts back to the profile's 1-row shape.
    *
    * Two rejected forms, both measured: (a) N countDistinct in one
    * aggregate — Catalyst plans Expand, replicating every row (N+1)× at
    * FULL width before the partial agg (~10× the honest runtime at sf0.1);
    * (b) per-column single-distinct aggregates recombined by broadcast
    * cross join (the round-5/6 form) — the best *plan* per column, but N
    * independently scheduled query stages, and the round-6 driver artifact
    * showed the N-stage shape inflating 1.5 s → 14.6 s under driver load
    * while this query alone stayed ≤2 s beside 24 busy-loop threads:
    * scheduling fan-out is a real-world fragility a profile query should
    * not carry. One linear job has no such seam.
    *
    * The stack replication is N× like Expand's, but at TWO narrow string
    * columns instead of the full row width, and the per-column value→string
    * casts are injective (Spark renders doubles shortest-round-trip, dates
    * ISO) so distinct counts are exact. At 100 TB: one full-width columnar
    * scan (same bytes as N pruned scans), map-side partial distinct bounds
    * the exchange at the true distinct-pair volume, and the final per-column
    * counts are 1-row — the plan that survives both scale and a contended
    * scheduler. */
  /** Spread a CPU-bound whole-table aggregate across cores when the input
    * parquet reads as fewer splits than the session's parallelism — the
    * single-row-group local fixture reads as ONE scan task, serializing
    * all per-row sketch/aggregate work on one core (guide §2.5: input
    * skew from an unsplittable file → repartition after the read). No-op
    * (no shuffle node at all) when the scan already yields at least
    * core-count splits, so at production scale the input's own
    * partitioning wins and nothing changes. Only safe for ORDER-
    * INDEPENDENT aggregates (count/min/max/decimal sums/exact NDV;
    * sketches are tolerance-gated by contract) — callers with ordered
    * double accumulation must not use it. */
  private def spread(df: DataFrame): DataFrame = Fixtures.spread(df)

  private[profile] def ndvFrame(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "ndvFrame needs at least one column")
    // pairs are keyed by a column ORDINAL (int), not the name string — the
    // id rides every pre-dedup pair through the partial agg, so 4 bytes
    // beats a 15-char name; names come back only at the final 1-row pivot
    val ids = cols.zipWithIndex
    // one stack per VALUE TYPE GROUP keeps values native (no string cast
    // for integral/date columns); the groups union into one DAG — still a
    // single job, and each group's scan prunes to just its columns
    val byType = ids.groupBy { case (c, _) =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => "bigint"
        case org.apache.spark.sql.types.DateType => "date"
        case org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType => "dbits"
        case _ => "other"
      }
    }
    val pairStreams = byType.toSeq.map { case (kind, group) =>
      // per-kind injective value encodings — all NATIVE LONGS except the
      // residual "other" kind (strings/decimals), so the distinct-pair hash
      // agg compares 8-byte primitives, not rendered strings:
      //  - integral: widen to BIGINT;
      //  - date: days-since-epoch via unix_date (ANSI forbids CAST date→int);
      //  - float/double: `double_bits(x)` = doubleToLongBits(x + 0.0) — the
      //    +0.0 folds -0.0 onto 0.0 and doubleToLongBits canonicalizes NaN
      //    payloads, so bits-equality IS countDistinct value-equality
      //    (float widens to double exactly first). The prior string render
      //    (`CAST(x+0.0d AS STRING)`) paid a Ryu render + UTF8String hash
      //    per pre-dedup pair — switching the 4 fractional lineitem columns
      //    native measured the sf0.1 NDV job 2.7 s → ~1.2 s steady-state;
      //  - residual: shortest-round-trip string.
      val pairs = kind match {
        case "dbits" =>
          import graft.functions.VectorExpressions.double_bits
          df.select(explode(array(group.map { case (c, i) =>
            struct(lit(i).as("cid"), double_bits(col(s"`$c`").cast("double")).as("value"))
          }: _*)).as("p")).select(col("p.cid").as("cid"), col("p.value").as("value"))
        case _ =>
          def v(c: String): String = kind match {
            case "bigint" => s"CAST(`$c` AS BIGINT)"
            case "date" => s"UNIX_DATE(`$c`)"
            case _ => s"CAST(`$c` AS STRING)"
          }
          val args = group.map { case (c, i) => s"$i, ${v(c)}" }.mkString(", ")
          df.selectExpr(s"stack(${group.size}, $args) AS (cid, value)")
      }
      pairs
        .filter(col("value").isNotNull) // countDistinct semantics: nulls don't count
        .groupBy("cid", "value").agg(count(lit(1)))
        .groupBy("cid").agg(count(lit(1)).as("ndv"))
        .select(col("cid"), col("ndv"))
    }
    pairStreams.reduce(_ unionAll _)
      .groupBy().pivot("cid", ids.map(_._2)).agg(first(col("ndv")))
      .select(ids.map { case (c, i) => coalesce(col(s"`$i`"), lit(0L)).as(s"ndv_$c") }: _*)
  }

  def ndvOracle(tableName: String): String = {
    val cols = Fixtures.numericCols(tableName) ++
      Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    s"SELECT ${cols.map(c => s"count(DISTINCT $c) AS ndv_$c").mkString(", ")} FROM $tableName"
  }

  /** Approximate NDV via HyperLogLog++ — the 100 TB path (no expand+shuffle
    * per column, one pass, mergeable sketches). Not oracle-comparable
    * (sketch implementations differ per engine); gated by a relative-error
    * test against [[ndv]] instead. */
  def approxNdv(spark: SparkSession, dir: String, tableName: String, rsd: Double = 0.02): DataFrame = {
    val cols = Fixtures.numericCols(tableName) ++
      Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    val df = Fixtures.table(spark, dir, tableName)
    val aggs = cols.map(c => approx_count_distinct(col(c), rsd).as(s"ndv_$c"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Top-3 most frequent values of each low-cardinality string column of
    * lineitem/orders — the "common values" row of a profile. Deterministic
    * rank tie-break on the value itself.
    *
    * The rank window is PARTITIONED by `column_name` over the unioned
    * per-column count tables: each column's distinct values shuffle to their
    * own partition and the `rnk <= 3` predicate gets the WindowGroupLimit
    * pushdown, so a high-NDV column never funnels the whole table through
    * one task (the round-2 form ranked each column with an ungrouped
    * `Window.orderBy` — a "No Partition Defined" single-task sort). */
  def topkValues(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE scan per table: stack() unpivots the profiled columns in-row, so
    // counting n columns costs one pass instead of n (the round-2 form
    // scanned each table once per column before the union)
    def counts(tbl: String, cols: Seq[String]): DataFrame = {
      val stackArgs = cols.map(c => s"'$tbl.$c', $c").mkString(", ")
      Fixtures.table(spark, dir, tbl)
        .selectExpr(s"stack(${cols.size}, $stackArgs) AS (column_name, value)")
        .groupBy("column_name", "value").agg(count(lit(1)).as("cnt"))
    }
    val unioned = counts("lineitem", Seq("l_returnflag", "l_linestatus"))
      .unionAll(counts("orders", Seq("o_orderstatus", "o_orderpriority")))
    val w = Window.partitionBy("column_name").orderBy(col("cnt").desc, col("value"))
    unioned
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select("column_name", "value", "cnt", "rnk")
      .orderBy("column_name", "rnk")
  }

  val topkValuesOracle: String = {
    def one(tbl: String, c: String) =
      s"""SELECT '$tbl.$c' AS column_name, value, cnt, rnk FROM (
         |  SELECT $c AS value, count(*) AS cnt,
         |         row_number() OVER (ORDER BY count(*) DESC, $c) AS rnk
         |  FROM $tbl GROUP BY $c) t WHERE rnk <= 3""".stripMargin
    Seq(one("lineitem", "l_returnflag"), one("lineitem", "l_linestatus"),
      one("orders", "o_orderstatus"), one("orders", "o_orderpriority"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name, rnk")
  }

  /** String-length stats per text column of `documents` — the string-column
    * row of a profile (the reference displays string columns but never
    * profiles them; SURVEY §1.1). Same single fused scan; averages divide
    * exact integer sums, so they are engine-identical doubles. */
  def docStringStats(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("text", "lang", "source")
    val df = Fixtures.table(spark, dir, "documents")
    val aggs = cols.flatMap(c => Seq(
      min(length(col(c))).cast("bigint").as(s"min_len_$c"),
      max(length(col(c))).cast("bigint").as(s"max_len_$c"),
      (sum(length(col(c)).cast("bigint")).cast("double") / count(col(c))).as(s"avg_len_$c")))
    df.agg(aggs.head, aggs.tail: _*)
  }

  val docStringStatsOracle: String = {
    val cols = Seq("text", "lang", "source")
    val exprs = cols.map(c =>
      s"min(length($c)) AS min_len_$c, max(length($c)) AS max_len_$c, " +
        s"CAST(CAST(sum(length($c)) AS BIGINT) AS DOUBLE) / count($c) AS avg_len_$c")
    s"SELECT ${exprs.mkString(", ")} FROM documents"
  }

  /** Exact interpolated percentiles of l_quantity — the quartile row of a
    * profile. Values are integral doubles, so the ANSI interpolation
    * `(1-g)·a + g·b` is exact in binary and engine-identical. (The scale
    * path is `percentile_approx`/KLL-style sketches; exact percentile is
    * the oracle-checkable form.) */
  def quantityPercentiles(spark: SparkSession, dir: String): DataFrame =
    Fixtures.table(spark, dir, "lineitem")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q25"),
        expr("percentile(l_quantity, 0.5)").as("q50"),
        expr("percentile(l_quantity, 0.75)").as("q75"),
        expr("min(l_quantity)").as("q0"),
        expr("max(l_quantity)").as("q100"))

  val quantityPercentilesOracle: String =
    """SELECT quantile_cont(l_quantity, 0.25) AS q25,
      |       quantile_cont(l_quantity, 0.5) AS q50,
      |       quantile_cont(l_quantity, 0.75) AS q75,
      |       min(l_quantity) AS q0,
      |       max(l_quantity) AS q100
      |FROM lineitem""".stripMargin

  /** PER-GROUP exact interpolated percentiles — the grouped twin of
    * [[quantityPercentiles]] (a profiler's per-segment distribution view).
    * One hash aggregation; `percentile` buffers per group, so at scale the
    * swap is `percentile_approx` (mergeable GK sketch) with the same query
    * shape. */
  def quantityPercentilesByFlag(spark: SparkSession, dir: String): DataFrame =
    Fixtures.table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(l_quantity, 0.25)").as("q25"),
        expr("percentile(l_quantity, 0.5)").as("q50"),
        expr("percentile(l_quantity, 0.75)").as("q75"))
      .orderBy("l_returnflag")

  val quantityPercentilesByFlagOracle: String =
    """SELECT l_returnflag, count(*) AS n,
      |       quantile_cont(l_quantity, 0.25) AS q25,
      |       quantile_cont(l_quantity, 0.5)  AS q50,
      |       quantile_cont(l_quantity, 0.75) AS q75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Fixed-width numeric histogram of l_quantity (width 5 from 1.0) — the
    * distribution row of a profile; one group-by, partial-agg friendly. */
  def quantityHistogram(spark: SparkSession, dir: String): DataFrame =
    Fixtures.table(spark, dir, "lineitem")
      .groupBy(floor((col("l_quantity") - 1.0) / 5.0).cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo", col("bucket") * 5.0 + 1.0)
      .withColumn("hi", col("bucket") * 5.0 + 6.0)
      .select("bucket", "lo", "hi", "cnt")
      .orderBy("bucket")

  val quantityHistogramOracle: String =
    """SELECT bucket, bucket * 5.0 + 1.0 AS lo, bucket * 5.0 + 6.0 AS hi, cnt FROM (
      |  SELECT CAST(floor((l_quantity - 1.0) / 5.0) AS BIGINT) AS bucket, count(*) AS cnt
      |  FROM lineitem GROUP BY 1) t
      |ORDER BY bucket""".stripMargin

  /** `summary()`-style ONE-CALL full profile of a table: row count plus
    * min / max / null-count / exact NDV for every profiled column, plus a
    * decimal-exact average for the numeric columns — all in a single
    * aggregation (one logical pass; Catalyst plans the multi-DISTINCT via
    * Expand, still one scan of the parquet). This is the fused engine form
    * of the reference's whole per-table profile, which issues one query per
    * column sequentially (`/root/reference/src/listTables.tsx:236-251`). */
  /** Decimal scale for the average: integer-digits + scale must stay within
    * a double's ~15 significant digits or the two engines' double→decimal
    * conversions disagree in the last place (o_totalprice has 6 integer
    * digits → scale 4; events.value is small → scale 10 captures its full
    * fractional precision). */
  private val avgScale: Map[String, Int] = Map("events" -> 10).withDefaultValue(4)

  def fullProfile(spark: SparkSession, dir: String, tableName: String): DataFrame = {
    val numCols = Fixtures.numericCols(tableName)
    val tCols = Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    val df = Fixtures.table(spark, dir, tableName)
    // algebraic statistics fuse into ONE scan; the exact NDVs run as
    // per-column single-distinct aggregates (see [[ndvFrame]] — the fused
    // multi-distinct form pays an (N+1)× Expand row replication) and the
    // 1-row frames recombine by broadcast cross join
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      (numCols ++ tCols).flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        (count(lit(1)) - count(col(c))).as(s"nulls_$c"))) ++
      numCols.map(c =>
        (sum(col(c).cast(s"decimal(28,${avgScale(tableName)})")).cast("double") / count(col(c))).as(s"avg_$c"))
    val base = df.agg(aggs.head, aggs.tail: _*)
    // a table with no profiled columns degrades to the n_rows-only profile
    if ((numCols ++ tCols).isEmpty) base
    else base.crossJoin(ndvFrame(df, numCols ++ tCols))
  }

  /** Mergeable-SKETCH twin of [[fullProfile]] — the 100 TB path. The exact
    * form's `countDistinct` per column plans through Expand (the scan is
    * replicated once per distinct column before the shuffle: 13 columns ⇒
    * 13× the rows crossing the exchange), and exact `percentile` buffers
    * whole groups. Here every statistic is a bounded-size MERGEABLE sketch:
    *  - NDV: Datasketches HLL (`hll_sketch_agg`, lgK=12 ⇒ rsd ≈ 1.6 %) — a
    *    few KB per column, partials combine by register-max. Float/double
    *    columns stream through the native `double_bits` encoding (the HLL
    *    input surface is int/bigint/string/binary); DATE as epoch-day ints.
    *  - quantiles: Datasketches KLL (`kll_sketch_agg_double`, k=400 ⇒ rank
    *    error ≲ 0.9 % ≪ the 2 % gate tolerance), partials merge natively.
    *    KLL compaction is randomized, so estimates vary run-to-run INSIDE
    *    the guarantee band — every downstream check is tolerance-based,
    *    never equality. Measured on the single-row-group sf0.1 fixture
    *    (one scan task — the worst case for per-core sketch throughput)
    *    the Datasketches pair halves the line vs HLL++ + GK
    *    `percentile_approx` (NDV 1.4→0.65 s, quartiles 1.4→0.65 s).
    *  - min/max/null-count/decimal-exact avg: plain algebraic aggregates.
    * ONE scan, ONE partial+final aggregation, NO Expand, and every partial
    * buffer is O(KB) regardless of n — the plan that survives 10¹² rows.
    * Not DuckDB-oracle-gated (sketch estimates are engine-specific);
    * tolerance-gated against the EXACT [[fullProfile]] numbers in
    * `SketchProfileSpec`, alongside a plan gate (no Expand, single scan). */
  def sketchProfile(spark: SparkSession, dir: String, tableName: String,
      lgK: Int = 12, kllK: Int = 400): DataFrame =
    sketchProfileFrom(spread(Fixtures.table(spark, dir, tableName)), tableName, lgK, kllK)

  private[graft] def sketchProfileFrom(df: DataFrame, tableName: String,
      lgK: Int = 12, kllK: Int = 400): DataFrame = {
    val numCols = Fixtures.numericCols(tableName)
    val tCols = Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    val schema = df.schema
    def hllIn(c: String): Column = schema(c).dataType match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
        graft.functions.VectorExpressions.double_bits(col(c).cast("double"))
      // ANSI forbids CAST date→int; unix_date is the documented ndvFrame recipe
      case org.apache.spark.sql.types.DateType => expr(s"unix_date(`$c`)")
      case org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType =>
        expr(s"unix_micros(cast(`$c` as timestamp))")
      case _ => col(c)
    }
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      (numCols ++ tCols).flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        (count(lit(1)) - count(col(c))).as(s"nulls_$c"),
        hll_sketch_agg(hllIn(c), lit(lgK)).as(s"hllsk_$c"))) ++
      numCols.flatMap(c => Seq(
        (sum(col(c).cast(s"decimal(28,${avgScale(tableName)})")).cast("double") / count(col(c))).as(s"avg_$c"),
        kll_sketch_agg_double(col(c).cast("double"), kllK).as(s"kllsk_$c")))
    val out =
      Seq(col("n_rows")) ++
      (numCols ++ tCols).flatMap(c => Seq(
        col(s"min_$c"), col(s"max_$c"), col(s"nulls_$c"),
        hll_sketch_estimate(col(s"hllsk_$c")).as(s"ndv_$c"))) ++
      numCols.flatMap(c =>
        col(s"avg_$c") +: Seq(25 -> 0.25, 50 -> 0.5, 75 -> 0.75).map { case (pct, p) =>
          // scalar columns, not a 3-element array: driver-facing outputs
          // must stay Array/Map-free (round-3/round-9 harness lesson)
          when(col(s"nulls_$c") === col("n_rows"), lit(null))
            .otherwise(kll_sketch_get_quantile_double(col(s"kllsk_$c"), lit(p)))
            .as(s"q${pct}_$c")
        })
    df.agg(aggs.head, aggs.tail: _*).select(out: _*)
  }

  /** DRIVER-GATED form of [[sketchProfile]] — the query that puts the
    * 100 TB profile path under the DuckDB oracle, not just a ScalaTest.
    * Sketch ESTIMATES are engine-specific (DuckDB's HLL ≠ Spark's HLL++),
    * so the gated row carries:
    *  - the sketch query's ALGEBRAIC stats verbatim (n_rows, min/max/
    *    null-count/decimal-exact avg) — exact by construction, so DuckDB
    *    recomputes and hash-compares them for real; and
    *  - one BOOLEAN per estimate, evaluated Spark-side against an exact
    *    reference (relative NDV error ≤ `ndvRelTol`; each approx quartile's
    *    realized rank within `rankTol` of its target, tie-safe:
    *    `frac(x<q) ≤ p+tol ∧ frac(x≤q) ≥ p−tol`), with the oracle asserting
    *    literal TRUE — a sketch regression on EITHER engine's side flips a
    *    boolean and fails the hash gate.
    * Both sketches are deterministic given the data, so the booleans are
    * stable, not flaky. The exact references (stacked-NDV job + one
    * rank-check scan against the broadcast 1-row sketch) are the gate's
    * scaffolding; production profiles call [[sketchProfile]] alone. */
  def sketchProfileGate(spark: SparkSession, dir: String, tableName: String,
      lgK: Int = 12, kllK: Int = 400,
      ndvRelTol: Double = 0.1, rankTol: Double = 0.02): DataFrame = {
    val numCols = Fixtures.numericCols(tableName)
    val tCols = Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    val all = numCols ++ tCols
    val df = Fixtures.table(spark, dir, tableName)
    // the 1-row sketch feeds BOTH the rank-check scan and the final gated
    // projection. Exchange reuse does NOT dedup the two consumers (column
    // pruning narrows the broadcast branch to the quartile aggregates
    // only — a different partial agg than the full sketch), so the
    // quartile pass genuinely runs twice. Measured, that is still the
    // FASTEST form: the duplicated branches run as parallel stages of one
    // job and the box absorbs them, while checkpointing the 1-row sketch
    // (eager: 3-6x slower; lazy: +20%) serializes a sketch-only job ahead
    // of everything else. Redundant-but-parallel beats once-but-serial
    // here; production profiles call [[sketchProfile]] alone either way.
    val sk = sketchProfile(spark, dir, tableName, lgK, kllK)
    val exactNdv = ndvFrame(df, all)
      .select(all.map(c => col(s"ndv_$c").as(s"xndv_$c")): _*)
    // realized-rank counts for every (numeric column, quartile) pair: one
    // scan against the broadcast 1-row sketch output
    val qTargets = Seq(25 -> 0.25, 50 -> 0.5, 75 -> 0.75)
    val rankAggs = numCols.flatMap { c =>
      count(col(c)).as(s"cnt_$c") +: qTargets.flatMap { case (pct, _) =>
        val q = col(s"q${pct}_$c")
        Seq(
          sum(when(col(c).cast("double") < q, 1L).otherwise(0L)).as(s"lo${pct}_$c"),
          sum(when(col(c).cast("double") <= q, 1L).otherwise(0L)).as(s"hi${pct}_$c"))
      }
    }
    // the rank-check scan is pure per-row CPU (6 counters per numeric
    // column) — spread it across cores on the single-split fixture
    val ranks = spread(df)
      .crossJoin(broadcast(sk.select(numCols.flatMap(c =>
        Seq(25, 50, 75).map(pct => col(s"q${pct}_$c"))): _*)))
      .agg(rankAggs.head, rankAggs.tail: _*)
    val gated =
      Seq(col("n_rows")) ++
      all.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"), col(s"nulls_$c"))) ++
      numCols.map(c => col(s"avg_$c")) ++
      all.map(c =>
        (abs(col(s"ndv_$c") - col(s"xndv_$c")) <=
          greatest(lit(1.0), lit(ndvRelTol) * col(s"xndv_$c"))).as(s"ok_ndv_$c")) ++
      numCols.flatMap { c =>
        qTargets.map { case (pct, p) =>
          // an all-null column has cnt = 0, and 0/0 makes both bounds NULL
          // — which would fail the oracle's literal TRUE for a reason
          // unrelated to sketch quality; degrade to a vacuous pass, since
          // there is no rank to check (ADVICE r7)
          when(col(s"cnt_$c") === 0, lit(true)).otherwise(
            (col(s"lo${pct}_$c").cast("double") / col(s"cnt_$c") <= lit(p + rankTol)) &&
              (col(s"hi${pct}_$c").cast("double") / col(s"cnt_$c") >= lit(p - rankTol)))
            .as(s"ok_q${pct}_$c")
        }
      }
    sk.crossJoin(exactNdv).crossJoin(ranks).select(gated: _*)
  }

  def sketchProfileGateOracle(tableName: String): String = {
    val numCols = Fixtures.numericCols(tableName)
    val tCols = Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    val all = numCols ++ tCols
    val stats = all.map(c =>
      s"min($c) AS min_$c, max($c) AS max_$c, count(*) - count($c) AS nulls_$c")
    val avgs = numCols.map(c =>
      s"CAST(sum(CAST($c AS DECIMAL(28,${avgScale(tableName)}))) AS DOUBLE) / count($c) AS avg_$c")
    val oks = all.map(c => s"TRUE AS ok_ndv_$c") ++
      numCols.flatMap(c => Seq(25, 50, 75).map(p => s"TRUE AS ok_q${p}_$c"))
    s"SELECT count(*) AS n_rows, ${(stats ++ avgs ++ oks).mkString(", ")} FROM $tableName"
  }

  def fullProfileOracle(tableName: String): String = {
    val numCols = Fixtures.numericCols(tableName)
    val tCols = Fixtures.temporalCols.getOrElse(tableName, Seq.empty)
    val perCol = (numCols ++ tCols).map(c =>
      s"min($c) AS min_$c, max($c) AS max_$c, " +
        s"count(*) - count($c) AS nulls_$c, count(DISTINCT $c) AS ndv_$c")
    val avgs = numCols.map(c =>
      s"CAST(sum(CAST($c AS DECIMAL(28,${avgScale(tableName)}))) AS DOUBLE) / count($c) AS avg_$c")
    s"SELECT count(*) AS n_rows, ${(perCol ++ avgs).mkString(", ")} FROM $tableName"
  }

  /** Equi-DEPTH histogram of l_quantity: quartile buckets, per-bucket count +
    * bounds. Complements the fixed-width [[quantityHistogram]]: equi-depth
    * adapts bucket boundaries to the distribution — the form profilers prefer
    * for skewed columns.
    *
    * SCALE-SAFE FORM (oracle-gated): bucket boundaries come from the exact
    * interpolated quartiles (one fused aggregation — a partial+final agg, no
    * window), broadcast as a one-row frame, and bucketing is a stateless
    * per-row comparison `1 + (x>b1) + (x>b2) + (x>b3)` — fully parallel,
    * partial-agg friendly, no total order anywhere. The round-2 form
    * (exact `ntile(4)` over a total order = every row through ONE partition)
    * is kept as the spec-only twin [[quantityDepthHistogramNtile]]; the two
    * differ only in how ties sitting exactly on a boundary are split (ntile
    * splits a run of equal values across buckets to equalize depth; boundary
    * bucketing keeps equal values together — the deterministic semantics an
    * engine can honor at any scale). At 100 TB the exact quartiles would be
    * [[Sampling.approxPercentiles]]; exact percentile keeps it
    * oracle-comparable here.
    */
  def quantityDepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Fixtures.table(spark, dir, "lineitem").select("l_quantity")
    val bounds = li.agg(
      expr("percentile(l_quantity, 0.25)").as("b1"),
      expr("percentile(l_quantity, 0.5)").as("b2"),
      expr("percentile(l_quantity, 0.75)").as("b3"))
    li.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        (lit(1L) + (col("l_quantity") > col("b1")).cast("long")
          + (col("l_quantity") > col("b2")).cast("long")
          + (col("l_quantity") > col("b3")).cast("long")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), min("l_quantity").as("lo"), max("l_quantity").as("hi"))
      .orderBy("bucket")
  }

  val quantityDepthHistogramOracle: String =
    """WITH b AS (
      |  SELECT quantile_cont(l_quantity, 0.25) AS b1,
      |         quantile_cont(l_quantity, 0.5)  AS b2,
      |         quantile_cont(l_quantity, 0.75) AS b3
      |  FROM lineitem
      |)
      |SELECT bucket, count(*) AS cnt, min(l_quantity) AS lo, max(l_quantity) AS hi
      |FROM (
      |  SELECT l_quantity,
      |         1 + CAST(l_quantity > b1 AS BIGINT)
      |           + CAST(l_quantity > b2 AS BIGINT)
      |           + CAST(l_quantity > b3 AS BIGINT) AS bucket
      |  FROM lineitem, b)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Spec-only twin of [[quantityDepthHistogram]]: exact equal-depth via
    * `ntile(4)` over a TOTAL order (ties broken by the row key). Correct but
    * deliberately NOT the engine form — the global window is a
    * single-partition sort. Kept as the semantic reference the scale-safe
    * form is tested against (bucket depths within one tie-run of equal). */
  def quantityDepthHistogramNtile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
    Fixtures.table(spark, dir, "lineitem")
      .select(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", ntile(4).over(w).cast("bigint"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), min("l_quantity").as("lo"), max("l_quantity").as("hi"))
      .orderBy("bucket")
  }

  /** Correlation via EXACT sufficient statistics: n, Σx, Σy, Σxy, Σx², Σy²
    * as decimal sums (order-independent), with Pearson r computed from
    * those identical doubles at the end — engine-identical without trusting
    * either engine's streaming corr() implementation. One fused scan. */
  def quantityPriceCorr(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    Fixtures.table(spark, dir, "lineitem")
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sum_x"),
        sum(y).cast("double").as("sum_y"),
        sum(x * y).cast("double").as("sum_xy"),
        sum(x * x).cast("double").as("sum_x2"),
        sum(y * y).cast("double").as("sum_y2"))
      .withColumn("corr_xy",
        (col("n") * col("sum_xy") - col("sum_x") * col("sum_y")) /
          (sqrt(col("n") * col("sum_x2") - col("sum_x") * col("sum_x")) *
            sqrt(col("n") * col("sum_y2") - col("sum_y") * col("sum_y"))))
  }

  /** Measure columns of the pairwise-correlation profile. */
  private val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val corrPairs: Seq[(String, String)] =
    for { (a, i) <- corrCols.zipWithIndex; b <- corrCols.drop(i + 1) } yield (a, b)

  /** FULL pairwise Pearson-correlation profile of lineitem's measure
    * columns in ONE scan — the matrix generalization of
    * [[quantityPriceCorr]]: a single fused aggregation computes every
    * column's decimal-exact sum and sum-of-squares plus every pair's
    * cross-product sum (k columns ⇒ 2k + k(k−1)/2 aggregates, all
    * partial-agg friendly), then each pair's correlation is a fixed-order
    * double expression over the 1-row result, exploded to long format.
    * The naive form runs one scan per pair — k(k−1)/2 passes; this is the
    * stat-fusion posture (SURVEY §4.2) applied to second moments, and at
    * 100 TB the single pass is the entire cost. Decimal sums make both
    * engines' doubles bit-identical, so the correlation itself
    * hash-matches (the [[quantityPriceCorr]] recipe). */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    def d(c: String) = col(c).cast("decimal(18,2)")
    val aggs = Seq(count(lit(1)).as("n")) ++
      corrCols.flatMap(c => Seq(
        sum(d(c)).cast("double").as(s"s_$c"),
        sum(d(c) * d(c)).cast("double").as(s"q_$c"))) ++
      corrPairs.map { case (a, b) => sum(d(a) * d(b)).cast("double").as(s"p_${a}_$b") }
    spread(Fixtures.table(spark, dir, "lineitem"))
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(corrPairs.map { case (a, b) =>
        struct(lit(a).as("col_x"), lit(b).as("col_y"), col("n"),
          ((col("n") * col(s"p_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
            (sqrt(col("n") * col(s"q_$a") - col(s"s_$a") * col(s"s_$a")) *
              sqrt(col("n") * col(s"q_$b") - col(s"s_$b") * col(s"s_$b")))).as("corr"))
      }: _*)).as("p"))
      .select("p.*")
      .orderBy("col_x", "col_y")
  }

  val corrMatrixOracle: String = {
    def d(c: String) = s"CAST($c AS DECIMAL(18,2))"
    val sums = corrCols.flatMap(c => Seq(
      s"CAST(sum(${d(c)}) AS DOUBLE) AS s_$c",
      s"CAST(sum(${d(c)} * ${d(c)}) AS DOUBLE) AS q_$c")) ++
      corrPairs.map { case (a, b) => s"CAST(sum(${d(a)} * ${d(b)}) AS DOUBLE) AS p_${a}_$b" }
    val rows = corrPairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  (n * p_${a}_$b - s_$a * s_$b) /
         |  (sqrt(n * q_$a - s_$a * s_$a) * sqrt(n * q_$b - s_$b * s_$b)) AS corr
         |FROM s""".stripMargin
    }
    s"""WITH s AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM lineitem)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY col_x, col_y""".stripMargin
  }

  val quantityPriceCorrOracle: String =
    """WITH s AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_y,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_xy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_x2,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_y2
      |  FROM lineitem
      |)
      |SELECT n, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
      |  (n * sum_xy - sum_x * sum_y) /
      |  (sqrt(n * sum_x2 - sum_x * sum_x) * sqrt(n * sum_y2 - sum_y * sum_y)) AS corr_xy
      |FROM s""".stripMargin

  def boolHistogramOracle: String =
    """WITH flagged AS (
      |  SELECT CASE WHEN l_discount > 0.06 THEN TRUE
      |              WHEN l_discount < 0.03 THEN FALSE
      |              ELSE NULL END AS flag
      |  FROM lineitem
      |), counts AS (
      |  SELECT count(*) FILTER (WHERE flag IS TRUE) AS true_count,
      |         count(*) FILTER (WHERE flag IS FALSE) AS false_count
      |  FROM flagged
      |), p AS (
      |  SELECT true_count, false_count,
      |         (true_count * 1000 + (true_count + false_count) // 2) // (true_count + false_count) AS pt,
      |         (false_count * 1000 + (true_count + false_count) // 2) // (true_count + false_count) AS pf
      |  FROM counts
      |)
      |SELECT true_count, false_count,
      |       CAST(pt // 10 AS VARCHAR) || '.' || CAST(pt % 10 AS VARCHAR) || '%' AS true_pct,
      |       CAST(pf // 10 AS VARCHAR) || '.' || CAST(pf % 10 AS VARCHAR) || '%' AS false_pct
      |FROM p""".stripMargin

  // --------------------------------------------------- exact outlier scan
  /** Z-score anomaly detection with EXACT integer arithmetic: events whose
    * value sits more than 3 population-σ from the mean (the fixture's value
    * column is exponential-ish, so real tail rows exist). The classic float
    * formulation (mean/stddev as doubles) is partial-agg-order dependent
    * and not bit-portable; instead values are quantized to exact cents and
    * the predicate is evaluated on integers only — multiply
    * (x−μ)² > (3σ)² through by n²:
    *
    *   (n·x − S)² > 9·(n·Q − S²)     [σ² = (n·Q − S²)/n², population]
    *
    * with S = Σx, Q = Σx² carried in DECIMAL(38,0) (HUGEINT in DuckDB) —
    * no division, no sqrt, no floats anywhere, so both engines agree on
    * every boundary case. Two scans (one fused stats agg broadcast back as
    * a single row, one filter scan) — the same shape as the scalar-subquery
    * query, linear at any scale. Magnitudes: cents ≤ 5·10⁴, so the largest
    * term n·Q stays < 10³⁸ past 10¹² rows.
    *
    * The wide types are INTERNAL only: the emitted `cents` column is cast
    * to BIGINT on both engines (it is a quantized per-row value, far below
    * 2⁶³), because gated outputs must be scalars of
    * BIGINT/DOUBLE/STRING/DATE — DECIMAL(38,0) vs HUGEINT stringify
    * differently in the driver's hasher even when values are identical. */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Fixtures.table(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("value"),
        floor(col("value") * 100 + 0.5).cast("decimal(38,0)").as("x"))
    val stats = o.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sq"))
    val dev = col("n") * col("x") - col("sx")
    o.crossJoin(broadcast(stats))
      .filter(dev * dev > lit(9) * (col("n") * col("sq") - col("sx") * col("sx")))
      .select(col("event_id"), col("value"), col("x").cast("bigint").as("cents"))
      .orderBy("event_id")
  }

  val valueOutliersOracle: String =
    """WITH o AS (
      |  SELECT event_id, value,
      |         CAST(floor(value * 100 + 0.5) AS HUGEINT) AS x
      |  FROM events WHERE value IS NOT NULL
      |), s AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(x) AS HUGEINT) AS sx,
      |         CAST(sum(x * x) AS HUGEINT) AS sq
      |  FROM o
      |)
      |SELECT event_id, value, CAST(x AS BIGINT) AS cents
      |FROM o, s
      |WHERE (n * x - sx) * (n * x - sx) > 9 * (n * sq - sx * sx)
      |ORDER BY event_id""".stripMargin

  // ───────────────────── whole-catalog long-format profile ────────────────

  /** The WHOLE LAKE in ONE query: a long-format profile row per
    * (table, numeric column) — row count, null count, min/max (as double),
    * decimal-exact average, exact NDV — across every fixture table. The
    * reference profiles a catalog with one Postgres round-trip per column,
    * sequentially (`/root/reference/src/listTables.tsx:236-251`); here the
    * entire catalog is one job: per table one fused algebraic scan + the
    * stacked one-job NDV frame ([[ndvFrame]]), the 1-row wide profiles
    * unpivot to long rows in-plan, and the union is a single DAG the
    * scheduler overlaps across tables — N tables gain N-way inter-table
    * parallelism on top of per-table partitioning, with zero driver-side
    * orchestration between them. At 100 TB this is the nightly
    * profile-the-lake job; swap [[sketchProfile]] per table for the
    * estimate form and the shape is unchanged. */
  def catalogProfile(spark: SparkSession, dir: String): DataFrame =
    sharedCatalogProfile(spark, dir).orderBy("tbl", "col_name")

  /** The whole-lake numeric profile MATERIALIZED once per (session, dir)
    * (round 15, VERDICT r14 #6): tiny output (one row per numeric column),
    * expensive build (exact NDV scan of every table) — and TWO suite
    * consumers (the gated `profile_catalog_long` row and
    * [[pkDiscovery]]'s derivation), which previously each re-ran the
    * whole-catalog scan. */
  private def sharedCatalogProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.StageMemo(spark, dir, "catalog_profile")(
      pooledUnion(perTableCatalogFrames(spark, dir)))

  /** Materialize independent union branches as CONCURRENT jobs (guide
    * §2.6 — VERDICT r16 #5): inside ONE union action the scheduler walks
    * the 10-table profile DAG largely table-by-table (AQE materializes
    * each table's shuffle stages in sequence down the union), so 9 tables
    * idle while lineitem's critical path runs. Submitting each branch's
    * own (tiny: rows-per-column) cut from a bounded pool lets the next
    * table's scan back-fill the current one's straggler tail —
    * measured 3.59 → 2.25 s steady on the catalog build (sf0.1, see
    * `OPTIMIZATION_r17.md`). Deterministic: branch order is fixed, every
    * branch materializes exactly the rows its plan defines, and all
    * consumers re-sort. Pool of 3: enough to fill the tail, not enough to
    * thrash (guide: "2-3 jobs in flight is plenty"). Under a plan audit
    * (checked here, on the caller thread, before any fork) the branches
    * are unioned as they are.
    *
    * Failure: the branches' jobs share one job tag, set inside the pooled
    * thread that submits them. Branches are awaited in completion order,
    * so the first failure surfaces at once: branches not yet started are
    * skipped, the tag is cancelled until every started branch has returned
    * (a job submitted after the first cancel dies too), and the branch's
    * error is rethrown. */
  private[graft] def pooledUnion(frames: Seq[DataFrame], poolSize: Int = 3): DataFrame =
    if (graft.operators.StageMemo.isAuditing) frames.reduce(_ union _)
    else {
      import java.util.concurrent.{ExecutorCompletionService, ExecutionException, Executors, TimeUnit}
      val sc = frames.head.sparkSession.sparkContext
      val tag = s"graft-pooled-union-${java.util.UUID.randomUUID()}"
      val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val pool = Executors.newFixedThreadPool(poolSize)
      val done = new ExecutorCompletionService[(Int, DataFrame)](pool)
      frames.zipWithIndex.foreach { case (f, i) =>
        done.submit { () =>
          if (failed.get) (i, null)
          else {
            sc.addJobTag(tag)
            try (i, graft.operators.StageMemo.truncate(f)) finally sc.removeJobTag(tag)
          }
        }
      }
      pool.shutdown()
      val out = new Array[DataFrame](frames.size)
      frames.foreach { _ =>
        try { val (i, df) = done.take().get(); out(i) = df }
        catch { case e: ExecutionException =>
          failed.set(true)
          do sc.cancelJobsWithTag(tag) while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
          throw e.getCause
        }
      }
      out.reduce(_ union _)
    }

  private def perTableCatalogFrames(spark: SparkSession, dir: String): Seq[DataFrame] =
    Fixtures.allTables.map { t =>
      val cols = Fixtures.numericCols(t)
      fullProfile(spark, dir, t).select(explode(array(cols.map(c => struct(
          lit(t).as("tbl"), lit(c).as("col_name"),
          col("n_rows"), col(s"nulls_$c").as("n_nulls"),
          col(s"min_$c").cast("double").as("min_d"),
          col(s"max_$c").cast("double").as("max_d"),
          col(s"avg_$c").as("avg_d"),
          col(s"ndv_$c").as("ndv"))): _*)).as("p"))
        .select("p.*")
    }

  val catalogProfileOracle: String = {
    val selects = Fixtures.allTables.flatMap { t =>
      Fixtures.numericCols(t).map { c =>
        s"""SELECT '$t' AS tbl, '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  CAST(min($c) AS DOUBLE) AS min_d, CAST(max($c) AS DOUBLE) AS max_d,
           |  CAST(sum(CAST($c AS DECIMAL(28,${avgScale(t)}))) AS DOUBLE) / count($c) AS avg_d,
           |  count(DISTINCT $c) AS ndv
           |FROM $t""".stripMargin
      }
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_name")
  }

  // ─────────────── key-overlap (joinability / FK-discovery) profile ───────

  /** FK-candidate key pairs profiled by [[keyOverlap]]: (pk table, pk col,
    * fk table, fk col) over the fixture's TPC-H-ish relationship graph. */
  val keyPairs: Seq[(String, String, String, String)] = Seq(
    ("customer", "c_custkey",   "orders",   "o_custkey"),
    ("nation",   "n_nationkey", "customer", "c_nationkey"),
    ("orders",   "o_orderkey",  "lineitem", "l_orderkey"),
    ("part",     "p_partkey",   "lineitem", "l_partkey"),
    ("supplier", "s_suppkey",   "lineitem", "l_suppkey"))

  /** Cross-table key-overlap profile — the joinability/FK-discovery scan a
    * catalog profiler runs before recommending joins (the natural next
    * question after the reference's per-table ranges,
    * `/root/reference/src/listTables.tsx:236-251`): for each candidate
    * (pk, fk) pair, the distinct key count on each side, the distinct
    * intersection, the orphan (fk-without-pk) count, and integer per-mille
    * containment of fk keys in pk (half-up, the PercentFormat recipe).
    *
    * Scale: each side first reduces to DISTINCT over an 8-byte key — a
    * per-key shuffle whose output is key-cardinality-sized, never
    * row-count-sized — and the full-outer join then runs over those distinct
    * sets only. Nothing after the first partial agg is corpus-sized. At
    * 100 TB the exact distinct-join is replaced by the mergeable-HLL twin
    * [[keyOverlapSketch]] (one scan per side, KB of state, no join at all).
    */
  def keyOverlap(spark: SparkSession, dir: String): DataFrame = {
    val frames = keyPairs.map { case (pt, pc, ft, fc) =>
      exactOverlapFrame(spark, dir, pt, pc, ft, fc).select(
        lit(pt).as("pk_table"), lit(pc).as("pk_col"),
        lit(ft).as("fk_table"), lit(fc).as("fk_col"),
        col("ndv_pk"), col("ndv_fk"), col("n_common"), col("orphan_fk"),
        when(col("ndv_fk") === 0, lit(null).cast("bigint"))
          .otherwise(expr("(n_common * 1000 + ndv_fk div 2) div ndv_fk"))
          .as("containment_pm"))
    }
    frames.reduce(_ union _).orderBy("pk_table", "fk_table", "fk_col")
  }

  /** One-row exact overlap stats for a (pk, fk) key pair: full-outer join of
    * the two DISTINCT key sets with presence markers, folded in one agg. */
  private def exactOverlapFrame(spark: SparkSession, dir: String,
      pt: String, pc: String, ft: String, fc: String): DataFrame = {
    val pk = Fixtures.table(spark, dir, pt)
      .select(col(pc).as("pk_k")).where(col("pk_k").isNotNull).distinct()
      .withColumn("p", lit(1))
    val fk = Fixtures.table(spark, dir, ft)
      .select(col(fc).as("fk_k")).where(col("fk_k").isNotNull).distinct()
      .withColumn("f", lit(1))
    pk.join(fk, col("pk_k") === col("fk_k"), "full_outer")
      .agg(
        count(col("p")).as("ndv_pk"),
        count(col("f")).as("ndv_fk"),
        sum(when(col("p").isNotNull && col("f").isNotNull, 1L).otherwise(0L)).as("n_common"),
        sum(when(col("f").isNotNull && col("p").isNull, 1L).otherwise(0L)).as("orphan_fk"))
  }

  /** Shared per-pair oracle body: labels + exact overlap aggregates over the
    * DISTINCT-sets full-outer join; each gated form appends its own tail
    * columns (so the join/aggregation shape can never silently diverge
    * between the exact and sketch oracles). */
  private def overlapOracleBody(pt: String, pc: String, ft: String, fc: String,
      tail: String): String =
    s"""SELECT '$pt' AS pk_table, '$pc' AS pk_col, '$ft' AS fk_table, '$fc' AS fk_col,
       |  count(p.k) AS ndv_pk, count(f.k) AS ndv_fk,
       |  CAST(sum(CASE WHEN p.k IS NOT NULL AND f.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |  CAST(sum(CASE WHEN f.k IS NOT NULL AND p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_fk,
       |  $tail
       |FROM (SELECT DISTINCT $pc AS k FROM $pt WHERE $pc IS NOT NULL) p
       |FULL OUTER JOIN (SELECT DISTINCT $fc AS k FROM $ft WHERE $fc IS NOT NULL) f ON p.k = f.k""".stripMargin

  val keyOverlapOracle: String = {
    val selects = keyPairs.map { case (pt, pc, ft, fc) =>
      overlapOracleBody(pt, pc, ft, fc,
        """CASE WHEN count(f.k) = 0 THEN NULL ELSE
          |    CAST((CAST(sum(CASE WHEN p.k IS NOT NULL AND f.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000
          |          + count(f.k) // 2) // count(f.k) AS BIGINT) END AS containment_pm""".stripMargin)
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY pk_table, fk_table, fk_col")
  }

  /** The 100 TB twin of [[keyOverlap]]: per side ONE scan folds the key
    * column into a mergeable Datasketches HLL (`hll_sketch_agg`), and the
    * overlap comes from sketch algebra — `|A∩B| ≈ est(A) + est(B) −
    * est(A∪B)` with `hll_union` over the two KB-sized sketches — instead of
    * a distinct-set join. No shuffle carries keys at all: each scan's
    * partial sketches merge to one row, exactly the pattern a 1000-executor
    * profile wants (register-max merge is order-insensitive, so the
    * estimates are deterministic given the data).
    *
    * GATE FORM (driver-oracled): the gated row carries the pair labels and
    * the EXACT overlap stats verbatim (DuckDB recomputes and hash-compares
    * them for real), plus one boolean per estimate asserting it lands within
    * tolerance of the exact value (HLL lgK=12 ⇒ rsd ≈ 1.6 %; the
    * intersection estimate is a difference of three estimates, so its band
    * is relative to the UNION size, the quantity that controls its absolute
    * error). The oracle asserts literal TRUE — a sketch regression flips a
    * boolean and fails the hash gate. Production profiles at scale read the
    * estimates alone and never build the exact reference.
    */
  def keyOverlapSketch(spark: SparkSession, dir: String,
      lgK: Int = 12, relTol: Double = 0.05): DataFrame = {
    val frames = keyPairs.map { case (pt, pc, ft, fc) =>
      val pkSk = Fixtures.table(spark, dir, pt)
        .agg(hll_sketch_agg(col(pc), lit(lgK)).as("sk_pk"))
      val fkSk = Fixtures.table(spark, dir, ft)
        .agg(hll_sketch_agg(col(fc), lit(lgK)).as("sk_fk"))
      val est = pkSk.crossJoin(fkSk).select(
        hll_sketch_estimate(col("sk_pk")).as("est_pk"),
        hll_sketch_estimate(col("sk_fk")).as("est_fk"),
        hll_sketch_estimate(hll_union(col("sk_pk"), col("sk_fk"))).as("est_union"))
      val exact = exactOverlapFrame(spark, dir, pt, pc, ft, fc)
      val exactUnion = col("ndv_pk") + col("ndv_fk") - col("n_common")
      def ok(estC: Column, exactC: Column, scaleC: Column): Column =
        abs(estC - exactC) <= greatest(lit(16.0), lit(relTol) * scaleC.cast("double"))
      exact.crossJoin(est).select(
        lit(pt).as("pk_table"), lit(pc).as("pk_col"),
        lit(ft).as("fk_table"), lit(fc).as("fk_col"),
        col("ndv_pk"), col("ndv_fk"), col("n_common"), col("orphan_fk"),
        ok(col("est_pk").cast("double"), col("ndv_pk"), col("ndv_pk")).as("ok_pk"),
        ok(col("est_fk").cast("double"), col("ndv_fk"), col("ndv_fk")).as("ok_fk"),
        ok((col("est_pk") + col("est_fk") - col("est_union")).cast("double"),
          col("n_common"), exactUnion).as("ok_common"))
    }
    frames.reduce(_ union _).orderBy("pk_table", "fk_table", "fk_col")
  }

  // ───────────────────────── ERD relationship classes ─────────────────────

  /** ERD RELATIONSHIP CLASSIFICATION — the catalog feature one step past
    * [[keyOverlap]]'s joinability stats: for each candidate (pk, fk) pair,
    * decide the RELATIONSHIP CLASS a schema diagram would draw. `weak`
    * when fk-in-pk containment misses 995 ‰ (don't recommend the join);
    * `one_to_one` when the fk side is also unique; `one_to_many`
    * otherwise (with the exact half-up fan-out, rows per distinct key —
    * the join-size multiplier an optimizer-or-human reads);
    * `many_to_many` when even the pk side isn't unique. Built from the
    * same DISTINCT-set overlap frame as [[keyOverlap]] plus two 1-row
    * COUNT(*) broadcasts per pair — nothing new is corpus-sized, and the
    * class thresholds are exact integer comparisons. */
  def erdClasses(spark: SparkSession, dir: String): DataFrame = {
    val frames = keyPairs.map { case (pt, pc, ft, fc) =>
      val pkN = Fixtures.table(spark, dir, pt).agg(count(lit(1)).as("pk_rows"))
      // fk_nn_rows counts only NON-NULL fk keys: NULL-key rows never join,
      // so the fan-out (join-size multiplier) and the one-to-one test must
      // read rows-that-can-join, not raw table cardinality.
      val fkN = Fixtures.table(spark, dir, ft)
        .agg(count(lit(1)).as("fk_rows"), count(col(fc)).as("fk_nn_rows"))
      exactOverlapFrame(spark, dir, pt, pc, ft, fc)
        .crossJoin(broadcast(pkN)).crossJoin(broadcast(fkN))
        .select(
          lit(pt).as("pk_table"), lit(pc).as("pk_col"),
          lit(ft).as("fk_table"), lit(fc).as("fk_col"),
          col("pk_rows"), col("fk_rows"), col("fk_nn_rows"),
          col("ndv_pk"), col("ndv_fk"),
          col("orphan_fk"),
          when(col("ndv_fk") === 0, lit(null).cast("bigint"))
            .otherwise(expr("(n_common * 1000 + ndv_fk div 2) div ndv_fk"))
            .as("containment_pm"),
          (col("ndv_pk") === col("pk_rows")).as("pk_unique"),
          when(col("ndv_fk") === 0, lit(null).cast("bigint"))
            .otherwise(expr("(fk_nn_rows * 1000 + ndv_fk div 2) div ndv_fk"))
            .as("fanout_milli"))
        .withColumn("rel_class",
          when(col("containment_pm").isNull || col("containment_pm") < 995, "weak")
            .when(!col("pk_unique"), "many_to_many")
            .when(col("fk_nn_rows") === col("ndv_fk"), "one_to_one")
            .otherwise("one_to_many"))
    }
    frames.reduce(_ unionAll _).orderBy("pk_table", "fk_table", "fk_col")
  }

  val erdClassesOracle: String = {
    val selects = keyPairs.map { case (pt, pc, ft, fc) =>
      overlapOracleBody(pt, pc, ft, fc,
        s"""(SELECT CAST(count(*) AS BIGINT) FROM $pt) AS pk_rows,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $ft) AS fk_rows,
           |  (SELECT CAST(count($fc) AS BIGINT) FROM $ft) AS fk_nn_rows""".stripMargin)
    }
    s"""WITH base AS (
       |${selects.mkString("", "\nUNION ALL\n", "")}
       |), classed AS (
       |  SELECT pk_table, pk_col, fk_table, fk_col, pk_rows, fk_rows, fk_nn_rows,
       |    ndv_pk, ndv_fk, orphan_fk,
       |    CASE WHEN ndv_fk = 0 THEN NULL
       |         ELSE (n_common * 1000 + ndv_fk // 2) // ndv_fk END AS containment_pm,
       |    ndv_pk = pk_rows AS pk_unique,
       |    CASE WHEN ndv_fk = 0 THEN NULL
       |         ELSE (fk_nn_rows * 1000 + ndv_fk // 2) // ndv_fk END AS fanout_milli
       |  FROM base
       |)
       |SELECT *,
       |  CASE WHEN containment_pm IS NULL OR containment_pm < 995 THEN 'weak'
       |       WHEN NOT pk_unique THEN 'many_to_many'
       |       WHEN fk_nn_rows = ndv_fk THEN 'one_to_one'
       |       ELSE 'one_to_many' END AS rel_class
       |FROM classed ORDER BY pk_table, fk_table, fk_col""".stripMargin
  }

  // ───────────── sketch-algebra FK discovery (no declared pair list) ──────

  /** Integral (key-shaped) profiled columns per table — the candidate space
    * [[fkDiscovery]] scores. */
  private def integralCols(spark: SparkSession, dir: String, t: String): Seq[String] = {
    val schema = Fixtures.table(spark, dir, t).schema
    Fixtures.numericCols(t).filter(c => schema(c).dataType match {
      case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
  }

  /** One HLL sketch row per (table, integral column), materialized ONCE per
    * (session, dir) — both discovery forms read it, and the two join legs of
    * the pair cross never re-scan the data. One scan per table builds every
    * column's sketch in a single fused agg. */
  private def fkSketchRows(spark: SparkSession, dir: String, lgK: Int): DataFrame =
    graft.operators.StageMemo(spark, dir, s"fk_sketches_$lgK") {
      val frames = Fixtures.allTables.flatMap { t =>
        val cols = integralCols(spark, dir, t)
        if (cols.isEmpty) None
        else {
          val aggs = cols.map(c => hll_sketch_agg(col(c), lit(lgK)).as(s"sk_$c"))
          Some(Fixtures.table(spark, dir, t).agg(aggs.head, aggs.tail: _*)
            .select(explode(array(cols.map(c => struct(
              lit(t).as("tbl"), lit(c).as("col_name"), col(s"sk_$c").as("sk"))): _*)).as("p"))
            .select("p.*"))
        }
      }
      frames.reduce(_ union _)
    }

  /** INCLUSION-DEPENDENCY (candidate-FK) DISCOVERY from sketch algebra
    * alone: every cross-table (column, column) pair is scored for
    * containment — `|A∩B| / |B| ≈ (est(A)+est(B)−est(A∪B)) / est(B)` — from
    * the per-column HLL sketches, with NO declared pair list and NO second
    * pass over the data. The scan cost is one fused sketch agg per table
    * (shared via [[fkSketchRows]]); the pair cross is (Σ columns)² rows of
    * KB-sized sketch state, data-independent — at 100 TB the data pass is
    * unchanged and the pair algebra still runs in milliseconds. This is the
    * sketch form of classic IND-discovery (SPIDER-style candidate
    * generation), the crawler step a catalog runs before [[keyOverlap]]
    * verifies exactly. Output: candidate pairs at containment ≥
    * `minContainPm` per-mille, ranked. Estimates are engine-specific
    * (driver records rows-only); [[fkDiscoveryGate]] pins the guarantee
    * under the DuckDB oracle, and small-domain false positives (every
    * 25-value nationkey lands inside every 150k-value custkey) are the
    * documented nature of IND discovery, not a bug. */
  def fkDiscovery(spark: SparkSession, dir: String,
      lgK: Int = 12, minContainPm: Long = 900L): DataFrame = {
    // per-column estimates are computed ONCE on the ~|columns| sketch rows
    // BEFORE the cross (not per pair — at a 10⁴-column lake that is 10⁴
    // estimates instead of 10⁸); only est_union is inherently per-pair
    val s = fkSketchRows(spark, dir, lgK)
      .withColumn("est", hll_sketch_estimate(col("sk")))
    val a = s.select(col("tbl").as("pk_table"), col("col_name").as("pk_col"),
      col("sk").as("sk_a"), col("est").as("est_pk"))
    val b = s.select(col("tbl").as("fk_table"), col("col_name").as("fk_col"),
      col("sk").as("sk_b"), col("est").as("est_fk"))
    a.crossJoin(b).filter(col("pk_table") =!= col("fk_table"))
      .withColumn("est_union", hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
      .withColumn("est_common", greatest(col("est_pk") + col("est_fk") - col("est_union"), lit(0L)))
      .withColumn("containment_pm", expr("least(1000, (est_common * 1000) div greatest(est_fk, 1))"))
      .filter(col("containment_pm") >= minContainPm)
      .select("pk_table", "pk_col", "fk_table", "fk_col", "est_pk", "est_fk", "containment_pm")
      .orderBy(col("containment_pm").desc, col("pk_table"), col("pk_col"),
        col("fk_table"), col("fk_col"))
  }

  /** DRIVER-GATED form: every KNOWN fixture FK pair ([[keyPairs]]) must be
    * detected by [[fkDiscovery]] — the labels are literals and the
    * `detected` boolean is TRUE by the HLL error bound (containment of a
    * true subset estimates ≈ 1000 ‰ ± a few percent at lgK 12, far above
    * the 900 ‰ cut), so the oracle asserts literal TRUE. */
  def fkDiscoveryGate(spark: SparkSession, dir: String,
      lgK: Int = 12, minContainPm: Long = 900L): DataFrame = {
    import spark.implicits._
    val found = fkDiscovery(spark, dir, lgK, minContainPm)
      .select(col("pk_table"), col("pk_col"), col("fk_table"), col("fk_col"), lit(1).as("hit"))
    val known = keyPairs.toDF("pk_table", "pk_col", "fk_table", "fk_col")
    known.join(found, Seq("pk_table", "pk_col", "fk_table", "fk_col"), "left")
      .select(col("pk_table"), col("pk_col"), col("fk_table"), col("fk_col"),
        col("hit").isNotNull.as("detected"))
      .orderBy("pk_table", "fk_table", "fk_col")
  }

  val fkDiscoveryGateOracle: String = {
    val selects = keyPairs.map { case (pt, pc, ft, fc) =>
      s"SELECT '$pt' AS pk_table, '$pc' AS pk_col, '$ft' AS fk_table, '$fc' AS fk_col, TRUE AS detected"
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY pk_table, fk_table, fk_col")
  }

  // ───────────────── frequent items (Misra-Gries heavy hitters) ───────────

  /** Frequent-items summary — the third mergeable sketch in the 100 TB
    * profile family (after HLL NDV and GK quantiles): one scan folds the
    * column into a k-counter Misra-Gries map
    * ([[graft.functions.MisraGriesAgg]]), O(k) state per partition, merged
    * without any key-level shuffle. Output is one row: the summary map and
    * the stream size. Estimates aren't SQL-expressible, so the driver
    * records the rows-only check; the guarantee is oracle-gated by
    * [[heavyValuesGate]] and tolerance-spec'd in `MisraGriesSpec`. */
  def heavyValues(spark: SparkSession, dir: String,
      tableName: String = "events", column: String = "event_type", k: Int = 5): DataFrame =
    Fixtures.table(spark, dir, tableName).agg(
      graft.functions.MisraGriesAgg.misra_gries_agg(col(column), k).as("summary"),
      count(col(column)).as("n"))

  /** DRIVER-FACING form of [[heavyValues]]: the MG summary MAP exploded to
    * scalar (value, mg_count) rows plus the stream size — Map columns crash
    * the driver's pandas harness (round-3/round-9 lesson), and the driver's
    * rows-only check needs a clean, sortable frame. Estimates stay
    * engine-specific (borderline entries depend on partial-merge order), so
    * this remains rows-only; the guarantee itself is oracle-gated by
    * [[heavyValuesGate]]. */
  def heavyValuesRows(spark: SparkSession, dir: String,
      tableName: String = "events", column: String = "event_type", k: Int = 5): DataFrame =
    heavyValues(spark, dir, tableName, column, k)
      .select(explode(col("summary")).as(Seq("value", "mg_count")), col("n"))
      .orderBy("value")

  /** DRIVER-GATED form of the Misra-Gries guarantee, on `documents.lang`
    * with k=3 (5 distinct values through 3 counters — eviction genuinely
    * fires; `en` exceeds the n/(k+1) threshold at every fixture SF).
    *
    * Borderline summary entries depend on Spark's partial-merge order, so
    * the gated row projects ORDER-INVARIANT facts only:
    *  - the exact heavy values (true count · (k+1) > n) with exact counts —
    *    deterministic, DuckDB recomputes and hash-compares them for real;
    *  - `found_in_summary`: MG guarantees every true-heavy item survives,
    *    any merge order — the oracle asserts literal TRUE;
    *  - `ok_bounds`: AND over ALL summary entries of
    *    `mg ≤ true ∧ (true − mg)·(k+1) ≤ n` (all-integer, exact) — TRUE by
    *    the MG bound regardless of which borderline entries survive. */
  def heavyValuesGate(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = Fixtures.table(spark, dir, "documents")
    val mg = docs.agg(
      graft.functions.MisraGriesAgg.misra_gries_agg(col("lang"), k).as("summary"),
      count(col("lang")).as("n"))
    // the MG stream is the NON-NULL values (the aggregate skips nulls), so
    // the exact side must exclude the NULL group and the oracle's heavy
    // threshold must use count(lang), not count(*) — else a null-bearing
    // column computes a different heavy set on each engine
    val exact = docs.where(col("lang").isNotNull)
      .groupBy(col("lang").as("value")).agg(count(lit(1)).as("exact_cnt"))
    val okBounds = mg.select(explode(col("summary")).as(Seq("value", "mg_cnt")), col("n"))
      .join(exact, Seq("value"), "left")
      .agg(bool_and(
        col("mg_cnt") <= col("exact_cnt") &&
          (col("exact_cnt") - col("mg_cnt")) * (k + 1) <= col("n")).as("ok_bounds"))
    exact.crossJoin(broadcast(mg))
      .filter(col("exact_cnt") * (k + 1) > col("n"))
      .withColumn("found_in_summary", map_contains_key(col("summary"), col("value")))
      .crossJoin(broadcast(okBounds))
      .select("value", "exact_cnt", "found_in_summary", "ok_bounds")
      .orderBy("value")
  }

  def heavyValuesGateOracle(k: Int = 3): String =
    s"""SELECT lang AS value, count(*) AS exact_cnt,
       |  TRUE AS found_in_summary, TRUE AS ok_bounds
       |FROM documents WHERE lang IS NOT NULL GROUP BY lang
       |HAVING count(*) * ${k + 1} > (SELECT count(lang) FROM documents)
       |ORDER BY value""".stripMargin

  val keyOverlapSketchOracle: String = {
    val selects = keyPairs.map { case (pt, pc, ft, fc) =>
      overlapOracleBody(pt, pc, ft, fc,
        "TRUE AS ok_pk, TRUE AS ok_fk, TRUE AS ok_common")
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY pk_table, fk_table, fk_col")
  }

  // ------------------------------------------------------- Gini coefficient

  /** Concentration profile (round 9): exact Gini coefficient of
    * `lineitem.l_extendedprice` — "how unequal are the row values", the
    * skew-at-a-glance number a data profiler reports next to min/max/NDV.
    *
    * Computed WITHOUT a global row sort: values quantize to integer cents
    * and GROUP BY value first, so the rank formula
    * `G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)` runs over the per-value frame
    * using cumulative-count windows, with the per-value contribution
    * `Σ i·x over the value's run = cents·(c·Cb + c(c+1)/2)` folded exactly
    * in DECIMAL(38,0) (DuckDB twin: HUGEINT). The single-partition window
    * is over DISTINCT VALUES, whose cardinality is bounded by the price
    * domain (~10⁷ cents values) — not by row count — so the shape holds at
    * 100 TB while the heavy reduce (the value group-by) stays a partial-agg
    * shuffle on an 8 B key. The final G divides two exactly-computed
    * integers as doubles (correctly-rounded IEEE ops → bit-identical). */
  def giniProfile(spark: SparkSession, dir: String,
      tableName: String = "lineitem", column: String = "l_extendedprice"): DataFrame =
    giniOf(Fixtures.table(spark, dir, tableName), column)

  /** [[giniProfile]]'s core over an arbitrary frame (unit-testable on
    * synthetic distributions: constant → 0, one-holder → (n−1)/n).
    *
    * The cumulative count-below uses a TWO-LEVEL distributed prefix sum —
    * a value-range bucket (cents div 10⁴) partitions the window, so each
    * local prefix runs parallel per bucket, and only the per-bucket totals
    * (≈ domain/10⁴ rows) see a single-partition window. A naive
    * `Window.orderBy(cents)` collapses the whole distinct-value frame to
    * one task (measured 4-6 s at sf0.1; this form ~1 s). */
  def giniOf(df: DataFrame, column: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // keys, counts, and prefix sums stay BIGINT through the shuffle and
    // windows (8 B keys, codegen'd hash agg + long-sum windows — decimal
    // keys here cost 3-4x in BigDecimal hash/compare/add); DECIMAL enters
    // only at the final per-row terms, where c·cb can exceed 2^63 at
    // extreme row counts
    val grp0 = df
      .filter(col(column).isNotNull)
      .groupBy(floor(col(column) * 100 + 0.5).cast("bigint").as("cents"))
      .agg(count(lit(1)).as("c"))
      .withColumn("bucket", expr("cents div 10000"))
    // the bucket-offset branch and the per-row contribution branch both
    // read the grouped frame, and Spark has no cross-branch CSE — without
    // materialization the scan + group-by ran twice (r16; plan: 2 scans
    // → 1). Value-domain-bounded rows (distinct cents), so the shared
    // frame is tiny at any corpus size.
    val grp = graft.operators.StageMemo.shared(grp0)
    val wLocal = Window.partitionBy("bucket").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBucket = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = grp.groupBy("bucket")
      .agg(sum(col("c")).as("bc"))
      .withColumn("bucket_offset", coalesce(sum(col("bc")).over(wBucket), lit(0L)))
      .select("bucket", "bucket_offset")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val contrib = grp
      .withColumn("cb_local", coalesce(sum(col("c")).over(wLocal), lit(0L)))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("cb", col("bucket_offset") + col("cb_local"))
      .select(
        (dec(col("cents")) * (dec(col("c")) * dec(col("cb")) +
          (dec(col("c")) * (dec(col("c")) + 1)) / 2))
          .cast("decimal(38,0)").as("t_term"),
        (dec(col("cents")) * dec(col("c"))).cast("decimal(38,0)").as("s_term"),
        col("c"))
    contrib.agg(
        sum(col("t_term")).as("t"), sum(col("s_term")).as("s"),
        sum(col("c")).cast("decimal(38,0)").as("n"))
      .select(
        col("n").cast("bigint").as("n_rows"),
        ((lit(2).cast("decimal(38,0)") * col("t") - (col("n") + 1) * col("s")).cast("double") /
          (col("n") * col("s")).cast("double")).as("gini"))
  }

  def giniProfileOracle(tableName: String = "lineitem",
      column: String = "l_extendedprice"): String =
    s"""WITH grp AS (
       |  SELECT CAST(floor($column * 100 + 0.5) AS HUGEINT) AS cents,
       |         CAST(count(*) AS HUGEINT) AS c
       |  FROM $tableName WHERE $column IS NOT NULL GROUP BY 1
       |), contrib AS (
       |  SELECT cents * (c * COALESCE(sum(c) OVER (ORDER BY cents
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |         + (c * (c + 1)) // 2) AS t_term,
       |         cents * c AS s_term, c
       |  FROM grp
       |)
       |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
       |  CAST(2 * sum(t_term) - (sum(c) + 1) * sum(s_term) AS DOUBLE)
       |    / CAST(sum(c) * sum(s_term) AS DOUBLE) AS gini
       |FROM contrib""".stripMargin

  /** 2-D joint histogram of (quantity, discount) — the dependence profile a
    * pair of 1-D histograms cannot show (is high discount tied to high
    * volume?). Buckets are exact integers (quantity is integral; discount
    * → cents), so the grid is domain-bounded (~50 × 11); one partial-agg
    * scan. */
  def histogram2d(spark: SparkSession, dir: String): DataFrame =
    Fixtures.table(spark, dir, "lineitem")
      .groupBy(col("l_quantity").cast("bigint").as("qty"),
        floor(col("l_discount") * 100 + 0.5).cast("bigint").as("disc_pct"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("qty", "disc_pct")

  val histogram2dOracle: String =
    """SELECT CAST(l_quantity AS BIGINT) AS qty,
      |  CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Exact Kendall τ-a between quantity and discount — the rank
    * correlation that Pearson's linearity assumption can't fake, computed
    * WITHOUT the O(n²) pair walk: concordant/discordant pair counts come
    * from the (quantity, discount) 2-D GRID ([[histogram2d]]'s shape) —
    * `C = Σ_cell n_cell · N(strictly greater in both dims)` over a
    * grid×grid join that is domain-bounded (~550² cells), never row-bounded.
    * τ-a = (C−D)/(n(n−1)/2); the counts are exact integers and only the
    * final division is an IEEE double (τ can be negative, where truncating
    * vs floor integer division would diverge cross-engine). */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val grid = Fixtures.table(spark, dir, "lineitem")
      .groupBy(col("l_quantity").cast("bigint").as("q"),
        floor(col("l_discount") * 100 + 0.5).cast("bigint").as("d"))
      .agg(count(lit(1)).as("c"))
    val a = grid.select(col("q").as("qa"), col("d").as("da"), col("c").as("ca"))
    val b = grid.select(col("q").as("qb"), col("d").as("db"), col("c").as("cb"))
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val pairs = a.join(broadcast(b),
        col("qa") < col("qb") || (col("qa") === col("qb") && col("da") < col("db")))
      .select(col("ca"), col("cb"),
        (col("qa") < col("qb") && col("da") < col("db")).cast("long").as("conc"),
        (col("qa") < col("qb") && col("da") > col("db")).cast("long").as("disc"))
      .agg(sum(dec(col("ca")) * dec(col("cb")) * col("conc")).cast("decimal(38,0)").as("cc"),
        sum(dec(col("ca")) * dec(col("cb")) * col("disc")).cast("decimal(38,0)").as("dd"))
    pairs.crossJoin(broadcast(grid.agg(sum(col("c")).as("n"))))
      .select(col("cc").cast("bigint").as("concordant"),
        col("dd").cast("bigint").as("discordant"),
        // tau can be NEGATIVE: truncating `div` (Spark) vs floor `//`
        // (DuckDB) would disagree below zero, so the final ratio is one
        // IEEE double division - bit-identical cross-engine
        expr("CAST(cc - dd AS DOUBLE) * 2 / (CAST(n AS DOUBLE) * (n - 1))")
          .as("tau_a"))
  }

  val kendallTauOracle: String =
    """WITH grid AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
      |    CAST(count(*) AS HUGEINT) AS c
      |  FROM lineitem GROUP BY 1, 2
      |), p AS (
      |  SELECT
      |    sum(CASE WHEN a.q < b.q AND a.d < b.d THEN a.c * b.c ELSE 0 END) AS cc,
      |    sum(CASE WHEN a.q < b.q AND a.d > b.d THEN a.c * b.c ELSE 0 END) AS dd
      |  FROM grid a JOIN grid b
      |    ON a.q < b.q OR (a.q = b.q AND a.d < b.d)
      |), n AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM grid)
      |SELECT CAST(cc AS BIGINT) AS concordant, CAST(dd AS BIGINT) AS discordant,
      |  CAST(cc - dd AS DOUBLE) * 2 / (CAST(n AS DOUBLE) * (n - 1)) AS tau_a
      |FROM p, n""".stripMargin

  /** Exact Spearman ρ between quantity and discount — Kendall's sibling:
    * Pearson over MIDRANKS (ties exact, ×2 integer scaling via the
    * grouped-value cumulative frames of each margin), all moments in
    * DECIMAL(38,0) over the ~550-cell joint grid, one final IEEE double
    * (ρ is signed — same truncation-divergence reasoning as τ). The
    * margins' rank windows run over value domains, never rows. */
  def spearmanRho(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = Fixtures.table(spark, dir, "lineitem")
      .groupBy(col("l_quantity").cast("bigint").as("q"),
        floor(col("l_discount") * 100 + 0.5).cast("bigint").as("d"))
      .agg(count(lit(1)).as("c"))
    def midranks(key: String): DataFrame = {
      val m = grid.groupBy(col(key)).agg(sum(col("c")).as("mc"))
      val w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
      m.withColumn("below", coalesce(sum(col("mc")).over(w), lit(0L)))
        .select(col(key), (lit(2L) * col("below") + col("mc") + 1).as(s"mr_$key"))
    }
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val joined = grid
      .join(broadcast(midranks("q")), "q")
      .join(broadcast(midranks("d")), "d")
    joined.agg(
        sum(col("c")).as("n"),
        sum(dec(col("c")) * col("mr_q")).cast("decimal(38,0)").as("sx"),
        sum(dec(col("c")) * col("mr_d")).cast("decimal(38,0)").as("sy"),
        sum(dec(col("c")) * col("mr_q") * col("mr_q")).cast("decimal(38,0)").as("sxx"),
        sum(dec(col("c")) * col("mr_d") * col("mr_d")).cast("decimal(38,0)").as("syy"),
        sum(dec(col("c")) * col("mr_q") * col("mr_d")).cast("decimal(38,0)").as("sxy"))
      .select(col("n").cast("bigint").as("n_rows"),
        ((dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((dec(col("n")) * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("rho"))
  }

  val spearmanRhoOracle: String =
    """WITH grid AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
      |    CAST(count(*) AS HUGEINT) AS c
      |  FROM lineitem GROUP BY 1, 2
      |), mq AS (
      |  SELECT q, 2 * COALESCE(sum(mc) OVER (ORDER BY q
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + mc + 1 AS mr_q
      |  FROM (SELECT q, sum(c) AS mc FROM grid GROUP BY q)
      |), md AS (
      |  SELECT d, 2 * COALESCE(sum(mc) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + mc + 1 AS mr_d
      |  FROM (SELECT d, sum(c) AS mc FROM grid GROUP BY d)
      |), m AS (
      |  SELECT CAST(sum(c) AS HUGEINT) AS n,
      |    sum(c * mr_q) AS sx, sum(c * mr_d) AS sy,
      |    sum(c * mr_q * mr_q) AS sxx, sum(c * mr_d * mr_d) AS syy,
      |    sum(c * mr_q * mr_d) AS sxy
      |  FROM grid JOIN mq USING (q) JOIN md USING (d))
      |SELECT CAST(n AS BIGINT) AS n_rows,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rho
      |FROM m""".stripMargin

  /** Lorenz curve of token mass across sources — the PLOT behind the
    * concentration numbers (HHI, Gini): sources ranked by ascending token
    * mass, cumulative share in exact per-mille at each rank. The frame is
    * |sources|-sized, so the single-partition rank window is domain-safe
    * at any corpus size. */
  def lorenzSources(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Fixtures.table(spark, dir, "documents")
      .groupBy("source").agg(sum(col("n_chars")).as("mass"))
    val w = Window.orderBy(col("mass"), col("source"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bySource
      .withColumn("rank", row_number().over(Window.orderBy(col("mass"), col("source"))))
      .withColumn("cum_mass", sum(col("mass")).over(w))
      .crossJoin(broadcast(bySource.agg(sum(col("mass")).as("total"))))
      .select(col("rank").cast("bigint").as("rank"), col("source"), col("mass"),
        expr("cum_mass * 1000 div total").as("cum_share_permille"))
      .orderBy("rank")
  }

  val lorenzSourcesOracle: String =
    """WITH m AS (
      |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
      |  FROM documents GROUP BY source
      |), r AS (
      |  SELECT source, mass,
      |    row_number() OVER (ORDER BY mass, source) AS rank,
      |    sum(mass) OVER (ORDER BY mass, source ROWS UNBOUNDED PRECEDING) AS cum_mass
      |  FROM m)
      |SELECT CAST(rank AS BIGINT) AS rank, source, mass,
      |  CAST(cum_mass * 1000 // (SELECT sum(mass) FROM m) AS BIGINT) AS cum_share_permille
      |FROM r ORDER BY rank""".stripMargin

  /** Variance decomposition (η², eta-squared): how much of the variance of
    * `documents.n_chars` the `lang` grouping EXPLAINS — the one-number
    * ANOVA read ("is length a language effect or noise") computed as the
    * exact integer ratio SSB/SST in parts-per-million. Both sums of
    * squares reduce to moments (`SST = n·Σx²−(Σx)²`,
    * `SSB = n·Σ_g (S_g²/n_g) − (Σx)²` — the per-group term exact via a
    * common denominator: multiply through by Π?, no — by keeping
    * `S_g²·(n/n_g)` in DECIMAL with one truncating div per group,
    * documented ±1 per group slack absorbed by the ppm rounding on both
    * engines identically). Two bounded aggregations, one scan. */
  def etaSquared(spark: SparkSession, dir: String,
      tableName: String = "documents", valueCol: String = "n_chars",
      groupCol: String = "lang"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = Fixtures.table(spark, dir, tableName)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("ng"), sum(col(valueCol)).as("sg"),
        sum(dec(col(valueCol)) * dec(col(valueCol))).as("ssg"))
    g.agg(
        sum(col("ng")).as("n"), sum(col("sg")).as("s"),
        sum(col("ssg")).cast("decimal(38,0)").as("ss"),
        // Σ_g S_g²/n_g scaled ×10⁶ up front so the per-group truncation
        // costs < 1 ppm — identical truncation on both engines
        sum(expr("(CAST(sg AS DECIMAL(38,0)) * sg * 1000000) div ng"))
          .cast("decimal(38,0)").as("sb6"))
      .select(col("n").cast("bigint").as("n_rows"),
        expr("CAST((sb6 - CAST(s AS DECIMAL(38,0)) * s * 1000000 div n)" +
          " div ((CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s) div n)" +
          " AS BIGINT)").as("eta2_ppm"))
  }

  def etaSquaredOracle(tableName: String = "documents",
      valueCol: String = "n_chars", groupCol: String = "lang"): String =
    s"""WITH g AS (
       |  SELECT $groupCol, CAST(count(*) AS HUGEINT) AS ng,
       |    CAST(sum($valueCol) AS HUGEINT) AS sg,
       |    CAST(sum(CAST($valueCol AS HUGEINT) * $valueCol) AS HUGEINT) AS ssg
       |  FROM $tableName GROUP BY 1
       |), t AS (
       |  SELECT sum(ng) AS n, sum(sg) AS s, sum(ssg) AS ss,
       |         sum(sg * sg * 1000000 // ng) AS sb6
       |  FROM g)
       |SELECT CAST(n AS BIGINT) AS n_rows,
       |  CAST((sb6 - s * s * 1000000 // n) // ((n * ss - s * s) // n) AS BIGINT)
       |    AS eta2_ppm
       |FROM t""".stripMargin

  /** Activity-concentration Gini: inequality of per-user EVENT COUNTS —
    * "do 1 % of users generate 90 % of events", the audience-health twin
    * of the revenue Gini. Reuses [[giniOf]] verbatim over the per-user
    * count frame (counts are integers, so the cents quantization is
    * exact ×100). */
  def giniUserActivity(spark: SparkSession, dir: String): DataFrame =
    giniOf(Fixtures.table(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).cast("double").as("n_events")),
      "n_events")

  val giniUserActivityOracle: String =
    """WITH v AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_events FROM events GROUP BY user_id
      |), grp AS (
      |  SELECT CAST(floor(n_events * 100 + 0.5) AS HUGEINT) AS cents,
      |         CAST(count(*) AS HUGEINT) AS c
      |  FROM v WHERE n_events IS NOT NULL GROUP BY 1
      |), contrib AS (
      |  SELECT cents * (c * COALESCE(sum(c) OVER (ORDER BY cents
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         + (c * (c + 1)) // 2) AS t_term,
      |         cents * c AS s_term, c
      |  FROM grp
      |)
      |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
      |  CAST(2 * sum(t_term) - (sum(c) + 1) * sum(s_term) AS DOUBLE)
      |    / CAST(sum(c) * sum(s_term) AS DOUBLE) AS gini
      |FROM contrib""".stripMargin

  // ------------------------------------------------------- Benford profile

  /** Leading-digit (Benford) profile of `orders.o_totalprice` — the
    * fraud/synthetic-data smell test: natural multiplicative amounts follow
    * log₁₀(1+1/d); uniform or fabricated ones don't. Emitted as per-digit
    * counts + per-mille shares in INTEGER math (the digit comes from the
    * first char of the integer-cents string — never from float log₁₀ or
    * double→string formatting, where engines disagree). One scan, 9-row
    * output; share = cnt·1000/total divided as exact-integer doubles. */
  def benfordProfile(spark: SparkSession, dir: String,
      tableName: String = "orders", column: String = "o_totalprice"): DataFrame = {
    val digits = Fixtures.table(spark, dir, tableName)
      // filter on the CENTS being >= 1, not the raw value > 0: a sub-cent
      // value (0 < v < 0.005) floors to 0 cents and would emit a bogus
      // digit-0 row, breaking the 1-9 contract on columns like l_tax
      .filter(col(column).isNotNull && floor(col(column) * 100 + 0.5) >= 1)
      .select(substring(floor(col(column) * 100 + 0.5).cast("bigint").cast("string"), 1, 1)
        .cast("int").as("digit"))
    val counts = digits.groupBy("digit").agg(count(lit(1)).as("cnt"))
    counts.crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
      .select(col("digit"), col("cnt"),
        ((col("cnt") * 1000).cast("double") / col("total").cast("double")).as("permille"))
      .orderBy("digit")
  }

  def benfordProfileOracle(tableName: String = "orders",
      column: String = "o_totalprice"): String =
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(floor($column * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM $tableName WHERE $column IS NOT NULL AND floor($column * 100 + 0.5) >= 1
       |), c AS (SELECT digit, count(*) AS cnt FROM d GROUP BY digit)
       |SELECT digit, cnt,
       |  CAST(cnt * 1000 AS DOUBLE) / CAST((SELECT sum(cnt) FROM c) AS DOUBLE) AS permille
       |FROM c ORDER BY digit""".stripMargin

  // ---------------------------------------------------- weighted percentiles
  /** Exact WEIGHTED percentiles (p25/p50/p75) of `l_extendedprice` weighted
    * by `l_quantity` — "what price does the median UNIT ship at", the
    * revenue-weighted twin of the row-weighted percentile profile. No libm,
    * no global row sort: values quantize to integer cents and weights to
    * integer centi-units (both exact for 2-dp data), the frame collapses to
    * DISTINCT VALUES via a partial-agg shuffle on an 8 B key, and the
    * cumulative weight runs as the same TWO-LEVEL distributed prefix as the
    * Gini profile (cents-range buckets locally in parallel, one tiny window
    * over per-bucket totals). The lower weighted percentile at q is the
    * smallest value whose inclusive cumulative weight reaches ⌈q·W⌉ —
    * pure integer thresholds, so both engines agree bit-for-bit. */
  def weightedPercentiles(spark: SparkSession, dir: String,
      tableName: String = "lineitem", valueCol: String = "l_extendedprice",
      weightCol: String = "l_quantity"): DataFrame =
    weightedPercentilesOf(Fixtures.table(spark, dir, tableName), valueCol, weightCol)

  /** [[weightedPercentiles]]'s core over an arbitrary frame (unit-testable
    * on synthetic weight distributions: unit weights reduce to the plain
    * lower percentile; a dominant weight owns every quantile). */
  def weightedPercentilesOf(df: DataFrame, valueCol: String,
      weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp0 = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(floor(col(valueCol) * 100 + 0.5).cast("bigint").as("cents"))
      .agg(sum(floor(col(weightCol) * 100 + 0.5).cast("bigint")).as("w"))
      .withColumn("bucket", expr("cents div 10000"))
    // three plan branches read the grouped frame (bucket offsets, the
    // cumulative join, and the total-weight aggregate) and Spark has no
    // cross-branch CSE — without materialization the scan + group-by ran
    // three times (r16; plan: 3 scans → 1). Distinct-cents rows only.
    val grp = graft.operators.StageMemo.shared(grp0)
    val wLocal = Window.partitionBy("bucket").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wBucket = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = grp.groupBy("bucket").agg(sum(col("w")).as("bw"))
      .withColumn("bucket_offset", coalesce(sum(col("bw")).over(wBucket), lit(0L)))
      .select(col("bucket").as("ob"), col("bucket_offset"))
    val cum = grp
      .withColumn("local", sum(col("w")).over(wLocal))
      .join(broadcast(offsets), col("bucket") === col("ob"))
      .withColumn("cw", col("bucket_offset") + col("local"))
    // total weight = Σw over the grouped frame — the same integer as the
    // former max(cw) (the inclusive cumulative weight of the last row)
    // without re-running the window+join lineage a second time
    cum.crossJoin(broadcast(grp.agg(sum(col("w")).as("tw"))))
      .agg(
        max(col("tw")).as("total_weight"),
        (min(when(col("cw") * 4 >= col("tw"), col("cents"))).cast("double") / 100).as("wp25"),
        (min(when(col("cw") * 2 >= col("tw"), col("cents"))).cast("double") / 100).as("wp50"),
        (min(when(col("cw") * 4 >= col("tw") * 3, col("cents"))).cast("double") / 100).as("wp75"))
  }

  def weightedPercentilesOracle(tableName: String = "lineitem",
      valueCol: String = "l_extendedprice", weightCol: String = "l_quantity"): String =
    s"""WITH grp AS (
       |  SELECT CAST(floor($valueCol * 100 + 0.5) AS BIGINT) AS cents,
       |         CAST(sum(CAST(floor($weightCol * 100 + 0.5) AS BIGINT)) AS BIGINT) AS w
       |  FROM $tableName
       |  WHERE $valueCol IS NOT NULL AND $weightCol IS NOT NULL
       |  GROUP BY 1
       |), cum AS (
       |  SELECT cents,
       |    CAST(sum(w) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
       |  FROM grp
       |), tot AS (SELECT max(cw) AS tw FROM cum)
       |SELECT CAST(max(tw) AS BIGINT) AS total_weight,
       |  CAST(min(CASE WHEN cw * 4 >= tw THEN cents END) AS DOUBLE) / 100 AS wp25,
       |  CAST(min(CASE WHEN cw * 2 >= tw THEN cents END) AS DOUBLE) / 100 AS wp50,
       |  CAST(min(CASE WHEN cw * 4 >= tw * 3 THEN cents END) AS DOUBLE) / 100 AS wp75
       |FROM cum, tot""".stripMargin

  // --------------------------------------------------------- HHI concentration
  /** Herfindahl–Hirschman concentration of language shares within each
    * document source — "is this source monolingual or a mixed crawl?", the
    * portfolio-concentration number profilers report next to NDV. HHI =
    * Σ shareᵢ² computed as one exact integer ratio
    * `Σcᵢ² · 10⁸ div total²` (HHI ×10⁸; 10⁸ = a 1.0 = full concentration)
    * in DECIMAL(38,0)/HUGEINT — `total²` wraps int64 past ~3·10⁹ rows per
    * group, which a 100 TB corpus exceeds. Two partial-agg shuffles on
    * bounded keys ((source, lang) then source); output is domain-sized. */
  def hhiProfile(spark: SparkSession, dir: String,
      tableName: String = "documents", groupCol: String = "source",
      shareCol: String = "lang"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    Fixtures.table(spark, dir, tableName)
      .groupBy(col(groupCol), col(shareCol))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_values"),
        sum(col("c")).as("total"),
        sum(dec(col("c")) * dec(col("c"))).as("ss"))
      .withColumn("num", col("ss") * 100000000L)
      .withColumn("den", dec(col("total")) * dec(col("total")))
      .select(col(groupCol), col("n_values"), col("total"),
        expr("CAST(num div den AS BIGINT)").as("hhi_e8"))
      .orderBy(groupCol)
  }

  // -------------------------------------------------- k-anonymity audit
  /** Privacy-risk audit: k-anonymity and l-diversity of the customer table
    * under the quasi-identifier (nation, market segment) with the account
    * balance (coarsened to 1000-unit buckets) as the sensitive attribute —
    * the release-readiness numbers a data-sharing review asks for. A QI
    * group smaller than k re-identifies its members; a group with few
    * distinct sensitive values leaks the attribute even at size ≥ k.
    * Two bounded group-bys (QI domain, then one summary row); per-group
    * distinct-sensitive is exact. */
  def kAnonymity(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val groups = Fixtures.table(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000 + 0.5).cast("bigint").as("sens"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("sz"), countDistinct(col("sens")).as("l"))
    groups.agg(
      sum(col("sz")).as("n_rows"),
      count(lit(1)).as("n_groups"),
      min(col("sz")).as("min_group_size"),
      sum(when(col("sz") < k, 1L).otherwise(0L)).as("groups_below_k"),
      sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("rows_below_k"),
      min(col("l")).as("min_l_diversity"))
      .select(col("n_rows").cast("bigint").as("n_rows"), col("n_groups"),
        col("min_group_size"), col("groups_below_k"),
        col("rows_below_k").cast("bigint").as("rows_below_k"),
        col("min_l_diversity"))
  }

  def kAnonymityOracle(k: Int = 5): String =
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment, count(*) AS sz,
       |    count(DISTINCT CAST(floor(c_acctbal / 1000 + 0.5) AS BIGINT)) AS l
       |  FROM customer GROUP BY 1, 2)
       |SELECT CAST(sum(sz) AS BIGINT) AS n_rows, count(*) AS n_groups,
       |  min(sz) AS min_group_size,
       |  CAST(sum(CASE WHEN sz < $k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
       |  CAST(sum(CASE WHEN sz < $k THEN sz ELSE 0 END) AS BIGINT) AS rows_below_k,
       |  min(l) AS min_l_diversity
       |FROM g""".stripMargin

  /** ANONYMIZATION GENERALIZATION LADDER — the planning table for
    * k-anonymous release: the quasi-identifier is coarsened level by
    * level (0: nation+segment → 1: region+segment → 2: region → 3:
    * global) and each level reports its group count, smallest class, and
    * rows still below k — the reader picks the first level where k_ok
    * flips true (the minimal generalization that satisfies k). One
    * GROUPING SETS aggregate computes all four levels in a single Expand
    * + shuffle (no four-scan union); the level is derived from key
    * nullness, identical in both dialects, so no grouping_id() drift.
    * The ladder is domain-sized at any corpus scale. */
  def anonymizationLadder(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val base = Fixtures.table(spark, dir, "customer")
      .join(Fixtures.table(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_nationkey").as("nat"), col("n_regionkey").as("reg"),
        col("c_mktsegment").as("seg"))
    val g = base
      .groupingSets(
        Seq(Seq(col("nat"), col("seg")), Seq(col("reg"), col("seg")),
          Seq(col("reg")), Seq()),
        col("nat"), col("reg"), col("seg"))
      .agg(count(lit(1)).as("sz"))
    g.select(
        when(col("nat").isNotNull, 0L)
          .when(col("seg").isNotNull && col("reg").isNotNull, 1L)
          .when(col("reg").isNotNull, 2L).otherwise(3L).as("level"), col("sz"))
      .groupBy("level")
      .agg(count(lit(1)).as("n_groups"), min(col("sz")).as("min_group_size"),
        sum(when(col("sz") < k, col("sz")).otherwise(0L)).cast("bigint")
          .as("rows_below_k"),
        (min(col("sz")) >= k).as("k_ok"))
      .orderBy("level")
  }

  def anonymizationLadderOracle(k: Int = 5): String =
    s"""WITH base AS (
       |  SELECT c_nationkey AS nat, n_regionkey AS reg, c_mktsegment AS seg
       |  FROM customer JOIN nation ON n_nationkey = c_nationkey
       |), g AS (
       |  SELECT nat, reg, seg, count(*) AS sz FROM base
       |  GROUP BY GROUPING SETS ((nat, seg), (reg, seg), (reg), ())
       |), lv AS (
       |  SELECT CASE WHEN nat IS NOT NULL THEN 0
       |              WHEN seg IS NOT NULL AND reg IS NOT NULL THEN 1
       |              WHEN reg IS NOT NULL THEN 2 ELSE 3 END AS level, sz
       |  FROM g
       |)
       |SELECT CAST(level AS BIGINT) AS level, count(*) AS n_groups,
       |  min(sz) AS min_group_size,
       |  CAST(sum(CASE WHEN sz < $k THEN sz ELSE 0 END) AS BIGINT) AS rows_below_k,
       |  min(sz) >= $k AS k_ok
       |FROM lv GROUP BY level ORDER BY level""".stripMargin

  // --------------------------------------------- whole-catalog string profile
  /** The string-column companion of [[catalogProfile]]: one row per
    * (table, string column) with count/nulls/exact NDV/length range/
    * lexical min+max — the whole lake's text surface in ONE DAG (per-column
    * 1-row aggregates unioned; each branch scans column-pruned). The fixed
    * column list mirrors the fixtures' static schemas (production would
    * enumerate from the catalog the way [[catalogProfile]] does). */
  val CatalogStringCols: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_name", "c_mktsegment"),
    "documents" -> Seq("lang", "source"),
    "events" -> Seq("event_type"),
    "lineitem" -> Seq("l_returnflag", "l_linestatus"),
    "nation" -> Seq("n_name"),
    "orders" -> Seq("o_orderstatus", "o_orderpriority"),
    "part" -> Seq("p_name", "p_brand", "p_type"),
    "region" -> Seq("r_name"),
    "supplier" -> Seq("s_name"))

  def catalogStringProfile(spark: SparkSession, dir: String): DataFrame =
    sharedCatalogStringProfile(spark, dir).orderBy("table_name", "column_name")

  /** String-column twin of [[sharedCatalogProfile]] — same two consumers
    * (`profile_catalog_strings`, [[pkDiscovery]]), same memo-once shape. */
  private def sharedCatalogStringProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.StageMemo(spark, dir, "catalog_strprofile")(
      pooledUnion(perColumnStringFrames(spark, dir)))

  private def perColumnStringFrames(spark: SparkSession, dir: String): Seq[DataFrame] =
    for ((t, cols) <- CatalogStringCols; c <- cols) yield
      Fixtures.table(spark, dir, t).agg(
        count(lit(1)).as("n_rows"),
        sum(col(c).isNull.cast("long")).as("n_nulls"),
        countDistinct(col(c)).as("ndv"),
        min(length(col(c))).as("min_len"), max(length(col(c))).as("max_len"),
        min(col(c)).as("min_val"), max(col(c)).as("max_val"))
      .select(lit(t).as("table_name"), lit(c).as("column_name"),
        col("n_rows"), col("n_nulls"), col("ndv"),
        col("min_len").cast("bigint").as("min_len"),
        col("max_len").cast("bigint").as("max_len"),
        col("min_val"), col("max_val"))

  val catalogStringProfileOracle: String =
    CatalogStringCols.flatMap { case (t, cols) => cols.map { c =>
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  count(*) AS n_rows,
         |  CAST(sum(CAST($c IS NULL AS INT)) AS BIGINT) AS n_nulls,
         |  count(DISTINCT $c) AS ndv,
         |  CAST(min(length($c)) AS BIGINT) AS min_len,
         |  CAST(max(length($c)) AS BIGINT) AS max_len,
         |  min($c) AS min_val, max($c) AS max_val
         |FROM $t""".stripMargin
    }}.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name")

  // ---------------------------------------------------- join-skew advisor
  /** Join-skew report for the fact table's join keys — the numbers that
    * decide salting/AQE-skew-join before a 100 TB join is launched: rows,
    * NDV, the heaviest key's frequency, its per-mille share, and the
    * max/mean frequency ratio (1000 = perfectly uniform). One grouped
    * count per key column (partial-agg shuffle on an 8 B key), 1-row
    * rollups unioned into one DAG; all ratios are exact integer
    * divisions. [[graft.operators.AdaptiveSalt]] consumes exactly this
    * shape at run time — this is the offline advisory twin. */
  def joinSkewProfile(spark: SparkSession, dir: String,
      tableName: String = "lineitem",
      keys: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey")): DataFrame = {
    val t = Fixtures.table(spark, dir, tableName)
    keys.map { k =>
      t.groupBy(col(k)).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("ndv"),
          max(col("c")).as("max_freq"))
        .select(lit(k).as("key_col"),
          col("n_rows").cast("bigint").as("n_rows"), col("ndv"), col("max_freq"),
          expr("max_freq * 1000 div n_rows").as("top_share_permille"),
          expr("max_freq * ndv * 1000 div n_rows").as("skew_ratio_milli"))
    }.reduce(_.union(_)).orderBy("key_col")
  }

  def joinSkewProfileOracle(tableName: String = "lineitem",
      keys: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey")): String =
    keys.map { k =>
      s"""SELECT '$k' AS key_col, CAST(sum(c) AS BIGINT) AS n_rows,
         |  count(*) AS ndv, max(c) AS max_freq,
         |  CAST(max(c) * 1000 // sum(c) AS BIGINT) AS top_share_permille,
         |  CAST(max(c) * count(*) * 1000 // sum(c) AS BIGINT) AS skew_ratio_milli
         |FROM (SELECT $k, count(*) AS c FROM $tableName GROUP BY $k)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY key_col")

  // ---------------------------------------------------- log2 length histogram
  /** Log₂-bucketed histogram of `documents.n_chars` — the right shape for
    * heavy-tailed length distributions (equi-width buckets put everything
    * in bucket 1; equi-depth hides the tail). The bucket index is
    * `⌊log₂ n⌋ + 1` computed WITHOUT libm as the binary-string length of
    * the value — exact on both engines. One projection, one bounded
    * group-by (≤ 64 buckets, ever). */
  def log2Histogram(spark: SparkSession, dir: String,
      tableName: String = "documents", column: String = "n_chars"): DataFrame =
    Fixtures.table(spark, dir, tableName)
      .filter(col(column) >= 1)
      .select(length(expr(s"bin($column)")).cast("bigint").as("bucket"), col(column))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), min(col(column)).as("lo"), max(col(column)).as("hi"))
      .orderBy("bucket")

  def log2HistogramOracle(tableName: String = "documents",
      column: String = "n_chars"): String =
    s"""SELECT CAST(length(bin($column)) AS BIGINT) AS bucket, count(*) AS cnt,
       |  min($column) AS lo, max($column) AS hi
       |FROM $tableName WHERE $column >= 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------- Count-Min sketch gate
  /** Count-Min point-frequency gate over `events.event_type`: build the
    * CMS in one codegen'd scan (Spark's `count_min_sketch` aggregate —
    * mergeable O(w·d) state, the 100 TB shape), probe it with
    * [[graft.functions.Cms.estimate]] for every type, and check the two
    * CMS guarantees in-query against the exact counts: estimates never
    * undershoot, and overshoot is bounded by ⌈ε·n⌉ at the sketch's
    * confidence. The probe side is domain-sized (distinct types ⨯ a
    * broadcast 1-row sketch), so the eval-only lookup never touches a
    * corpus-sized frame. Seeded — deterministic across runs/engines. */
  def cmsGate(spark: SparkSession, dir: String, eps: Double = 0.001): DataFrame = {
    val e = Fixtures.table(spark, dir, "events")
    val sk = e.agg(
      expr(s"count_min_sketch(event_type, CAST($eps AS DOUBLE), CAST(0.99 AS DOUBLE), 42)").as("sk"),
      count(lit(1)).as("n"))
    val exact = e.groupBy("event_type").agg(count(lit(1)).as("exact"))
    exact.crossJoin(broadcast(sk))
      .withColumn("est", graft.functions.Cms.estimate(col("sk"), col("event_type")))
      .select(col("event_type"),
        (col("est") >= col("exact")).as("never_underestimates"),
        (col("est") <= col("exact") + ceil(col("n") * eps).cast("bigint")).as("within_eps"))
      .orderBy("event_type")
  }

  val cmsGateOracle: String =
    """SELECT event_type, TRUE AS never_underestimates, TRUE AS within_eps
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------- functional-dependency mining
  /** Exact functional-dependency discovery over a table's column pairs:
    * A→B holds iff every A-group contains exactly one distinct B — the
    * schema-normalization / hidden-key report (the FD complement of
    * [[fkDiscovery]]'s cross-table INDs). Each directed pair runs as its
    * own grouped aggregate branch (partial-agg shuffle on the determinant,
    * then a 1-row rollup), all branches unioned into ONE DataFrame/DAG —
    * column-pruned scans, no Expand, no pair-explode of corpus rows. At
    * 100 TB the same report drops in the sketch estimate first
    * (per-pair HLLs, the [[keyOverlapSketch]] algebra: A→B ⟺
    * ndv(A) = ndv(A,B)) and reserves these exact branches for the
    * survivors; the fixtures run the exact form directly. */
  def fdDiscovery(spark: SparkSession, dir: String,
      tableName: String = "orders"): DataFrame = {
    val t = Fixtures.table(spark, dir, tableName)
    // ONE branch per DETERMINANT, not per directed pair (r16, guide §2.4):
    // all k−1 countDistincts for a determinant ride one grouped aggregate
    // (Catalyst's multi-distinct Expand), so the table is scanned k times
    // instead of k(k−1) and the DAG carries k exchanges instead of k(k−1)
    // — same rows, same oracle (the per-pair values are independent of
    // which branch computes them). At 100 TB that is 6 table passes, not
    // 30. Measured at sf0.1: 4.4 s → see OPTIMIZATION_r16.md.
    //
    // PROBED AND REJECTED (r17, VERDICT r16 #4): the single-scan GROUPING
    // SETS form — all k determinants through one Expand, all k
    // countDistincts in one aggregate (scans k → 1,
    // plans/r17/profile_fd_discovery_exact_groupingsets_rejected.txt).
    // Oracle-identical but 3-4× SLOWER at sf0.1 (7.4-11.7 s fresh-JVM
    // vs 2.5-2.8 s): the fused aggregate hashes (gid, c1…ck, dep) keys —
    // an 8-column-wide tuple, k−1 of them null — across k·(k+1) Expand
    // replicas in one pipeline, where the per-determinant branches hash a
    // narrow (det, dep) pair each. The I/O the fusion saves is 5 extra
    // column-pruned passes; the CPU it adds is every expanded row paying
    // the wide-key hash. Revisit only where scan I/O dominates hash CPU.
    val frames = t.columns.toSeq.map { a =>
      val deps = t.columns.toSeq.filterNot(_ == a)
      val aggs = deps.map(b => countDistinct(col(b)).as(s"cnt_$b"))
      val rolled = t.groupBy(col(a)).agg(aggs.head, aggs.tail: _*)
        .agg(count(lit(1)).as("n_groups"),
          deps.map(b => max(col(s"cnt_$b")).as(s"max_$b")): _*)
      rolled.select(col("n_groups"), explode(array(deps.map(b =>
          struct(lit(b).as("dep"), col(s"max_$b").as("max_ndv"))): _*)).as("x"))
        .select(lit(a).as("det"), col("x.dep").as("dep"), col("n_groups"),
          col("x.max_ndv").as("max_ndv"), (col("x.max_ndv") === 1).as("holds"))
    }
    frames.reduce(_.union(_)).orderBy("det", "dep")
  }

  def fdDiscoveryOracle(tableName: String = "orders",
      columns: Seq[String]): String = {
    val branches = for {
      a <- columns; b <- columns if a != b
    } yield s"""SELECT '$a' AS det, '$b' AS dep, count(*) AS n_groups,
               |  max(cnt) AS max_ndv, max(cnt) = 1 AS holds
               |FROM (SELECT $a, count(DISTINCT $b) AS cnt
               |      FROM $tableName GROUP BY $a)""".stripMargin
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY det, dep")
  }

  // ------------------- sketch-SCREENED FD discovery (the 100 TB path)
  /** HLL NDV estimates for every column AND every unordered column pair of
    * `tableName`, from ONE fused aggregate over ONE column-pruned scan —
    * k + k(k−1)/2 mergeable sketches built side by side, no grouped
    * shuffle touches row-level data at all. Every sketch ingests
    * `xxhash64` of its column(s) — a codegen'd 8-byte key straight off
    * native values (the first cut used string-cast + concat pair keys and
    * the 15 per-row string constructions made the screen SLOWER than the
    * exact form it replaces; hashing fixed that). A 64-bit collision only
    * LOWERS an estimate, which only ever WIDENS the survivor set — the
    * conservative direction for a screen. NULL hashes to the seed (a
    * value), a hair's difference from countDistinct's null-skipping that
    * the ±10 % margin absorbs. Returns the driver-side estimate row:
    * k(k+1)/2 longs, data-size-independent (the bounded 1-row collect the
    * adaptive screen below plans against). */
  private def fdEstimates(spark: SparkSession, dir: String, tableName: String,
      lgK: Int): (Seq[String], Map[String, Long], Map[(String, String), Long]) = {
    val t = Fixtures.table(spark, dir, tableName)
    val cols = t.columns.toSeq
    val pairs =
      for { i <- cols.indices; j <- (i + 1) until cols.size } yield (cols(i), cols(j))
    val aggs =
      cols.map(c => hll_sketch_agg(xxhash64(col(c)), lit(lgK)).as(s"c_$c")) ++
      pairs.map { case (a, b) =>
        hll_sketch_agg(xxhash64(col(a), col(b)), lit(lgK)).as(s"p_${a}__$b")
      }
    val row = t.agg(aggs.head, aggs.tail: _*)
      .select((cols.map(c => hll_sketch_estimate(col(s"c_$c")).as(s"c_$c")) ++
        pairs.map { case (a, b) =>
          hll_sketch_estimate(col(s"p_${a}__$b")).as(s"p_${a}__$b") }): _*)
      .head()
    (cols,
      cols.map(c => c -> row.getAs[Long](s"c_$c")).toMap,
      pairs.map { case (a, b) => (a, b) -> row.getAs[Long](s"p_${a}__$b") }.toMap)
  }

  /** The SCREEN: directed pair A→B survives iff est_ndv(A,B) ≤
    * `marginPm`/1000 · est_ndv(A). A true FD has ndv(A,B) = ndv(A)
    * EXACTLY, so with independent lgK-12 sketches (rsd ≈ 1.6 %) the 10 %
    * default margin keeps every true FD at ≫ 6σ — no false negatives in
    * practice, and [[fdDiscoveryScreened]]'s oracle would catch one as a
    * hash mismatch. False positives just cost an exact branch. */
  private[graft] def fdScreenSurvivors(spark: SparkSession, dir: String,
      tableName: String, lgK: Int = 12, marginPm: Long = 1100L): Seq[(String, String)] = {
    val (cols, colEst, pairEst) = fdEstimates(spark, dir, tableName, lgK)
    for {
      a <- cols; b <- cols if a != b
      pe = pairEst.getOrElse((a, b), pairEst((b, a)))
      if pe * 1000L <= math.max(colEst(a), 1L) * marginPm
    } yield (a, b)
  }

  /** SKETCH-SCREENED functional-dependency discovery — [[fdDiscovery]]'s
    * own documented 100 TB path made real (VERDICT r15 #1): instead of
    * k(k−1) full grouped-agg branches over the table, ONE fused
    * sketch-aggregate scan estimates every column and pair NDV
    * ([[fdEstimates]]), the driver prunes every directed pair whose pair
    * NDV provably exceeds its determinant NDV ([[fdScreenSurvivors]] —
    * A→B ⟺ ndv(A) = ndv(A,B), the [[keyOverlapSketch]] algebra), and
    * EXACT grouped branches run ONLY for the survivors. On the orders
    * fixture that is ~7 exact branches instead of 30; at 100 TB it is one
    * sketch pass plus a handful of grouped aggs instead of k² table
    * shuffles. Pruned pairs report holds = false on sketch evidence
    * alone; the DuckDB oracle computes exact truth for ALL pairs, so a
    * screen false-negative (a pruned true FD) fails the gate as a hash
    * mismatch — the no-false-negative guarantee is oracle-pinned, not
    * assumed. Two data passes total (sketch, then survivors' branches in
    * one DAG), both column-pruned; the adaptive driver step in between
    * plans against k(k+1)/2 longs, never data. */
  def fdDiscoveryScreened(spark: SparkSession, dir: String,
      tableName: String = "orders", lgK: Int = 12, marginPm: Long = 1100L): DataFrame = {
    import spark.implicits._
    val t = Fixtures.table(spark, dir, tableName)
    val cols = t.columns.toSeq
    val survivors = fdScreenSurvivors(spark, dir, tableName, lgK, marginPm)
    val surv = survivors.toSet
    // survivors fused PER DETERMINANT (r16, same shape as [[fdDiscovery]]):
    // one grouped aggregate carries every surviving dep's countDistinct, so
    // the exact pass scans the table once per surviving determinant, not
    // once per surviving pair
    val exact = survivors.groupBy(_._1).toSeq.sortBy(_._1).map { case (a, ps) =>
      val deps = ps.map(_._2)
      val aggs = deps.map(b => countDistinct(col(b)).as(s"cnt_$b"))
      val maxes = deps.map(b => max(col(s"cnt_$b")).as(s"max_$b"))
      t.groupBy(col(a)).agg(aggs.head, aggs.tail: _*)
        .agg(maxes.head, maxes.tail: _*)
        .select(explode(array(deps.map(b =>
            struct(lit(b).as("dep"), col(s"max_$b").as("max_ndv"))): _*)).as("x"))
        .select(lit(a).as("det"), col("x.dep").as("dep"),
          (col("x.max_ndv") === 1).as("holds"))
    }
    val pruned = (for { a <- cols; b <- cols if a != b && !surv((a, b)) } yield (a, b))
      .toDF("det", "dep").withColumn("holds", lit(false))
    (exact :+ pruned).reduce(_.unionByName(_)).orderBy("det", "dep")
  }

  def fdDiscoveryScreenedOracle(tableName: String = "orders",
      columns: Seq[String]): String = {
    val branches = for {
      a <- columns; b <- columns if a != b
    } yield s"""SELECT '$a' AS det, '$b' AS dep, max(cnt) = 1 AS holds
               |FROM (SELECT $a, count(DISTINCT $b) AS cnt
               |      FROM $tableName GROUP BY $a)""".stripMargin
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY det, dep")
  }

  /** DRIVER-GATED screen economics (the [[fkDiscoveryGate]] cadence):
    * pins that the screen actually PRUNES (exact branches < all pairs —
    * the whole point of the sketch pass) and that every directed pair
    * determined by the table's known unique key survives it (the
    * literal-label no-false-negative direction; `keyCol` → every other
    * column holds by uniqueness, so these pairs MUST reach an exact
    * branch). Estimates are engine-specific, so only these two robust
    * booleans and the pair count are asserted. */
  def fdScreenGate(spark: SparkSession, dir: String,
      tableName: String = "orders", keyCol: String = "o_orderkey",
      lgK: Int = 12, marginPm: Long = 1100L): DataFrame = {
    import spark.implicits._
    val cols = Fixtures.table(spark, dir, tableName).columns.toSeq
    val nPairs = cols.size.toLong * (cols.size - 1)
    val surv = fdScreenSurvivors(spark, dir, tableName, lgK, marginPm).toSet
    val keyPairsSurvive = cols.filter(_ != keyCol).forall(c => surv((keyCol, c)))
    Seq((nPairs, surv.size < nPairs, keyPairsSurvive))
      .toDF("n_pairs", "screen_pruned", "key_fds_survive")
  }

  def fdScreenGateOracle(nColumns: Int): String =
    s"""SELECT CAST(${nColumns * (nColumns - 1)} AS BIGINT) AS n_pairs,
       |  TRUE AS screen_pruned, TRUE AS key_fds_survive""".stripMargin

  // ------------------------------------------------------ missingness profile
  /** Null-pattern (missingness) profile: one bit per column, rows grouped
    * by their full null bitmask — "which columns go missing TOGETHER", the
    * co-missingness structure a per-column null count cannot show. One
    * codegen'd projection to a bounded-domain string key (≤ 2^cols
    * patterns, in practice a handful), one partial-agg shuffle. */
  def nullPatternsOf(df: DataFrame): DataFrame = {
    val mask = concat(df.columns.toSeq.map(c => col(c).isNull.cast("int").cast("string")): _*)
    df.select(mask.as("null_pattern"))
      .groupBy("null_pattern").agg(count(lit(1)).as("cnt"))
      .orderBy("null_pattern")
  }

  /** [[nullPatternsOf]] gated over a derived event view with REAL
    * missingness (the raw fixtures carry no nulls): conditionally-present
    * fields of the kind a flattened JSON/event feed produces. Bit order:
    * (user_id, k_high, v_low, purchase_amt). */
  def nullPatterns(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("bigint")
    nullPatternsOf(Fixtures.table(spark, dir, "events").select(
      col("user_id"),
      when(k > 50, k).as("k_high"),
      when(col("value") < 10, col("value")).as("v_low"),
      when(col("event_type") === "purchase", col("value")).as("purchase_amt")))
  }

  val nullPatternsOracle: String = {
    val mask = Seq("user_id", "k_high", "v_low", "purchase_amt")
      .map(c => s"CAST(CAST($c IS NULL AS INT) AS VARCHAR)").mkString(" || ")
    s"""WITH v AS (
       |  SELECT user_id,
       |    CASE WHEN CAST(props->>'$$.k' AS BIGINT) > 50
       |         THEN CAST(props->>'$$.k' AS BIGINT) END AS k_high,
       |    CASE WHEN value < 10 THEN value END AS v_low,
       |    CASE WHEN event_type = 'purchase' THEN value END AS purchase_amt
       |  FROM events)
       |SELECT $mask AS null_pattern, count(*) AS cnt
       |FROM v GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def hhiProfileOracle(tableName: String = "documents",
      groupCol: String = "source", shareCol: String = "lang"): String =
    s"""WITH c AS (
       |  SELECT $groupCol, $shareCol, CAST(count(*) AS HUGEINT) AS c
       |  FROM $tableName GROUP BY 1, 2
       |)
       |SELECT $groupCol, count(*) AS n_values, CAST(sum(c) AS BIGINT) AS total,
       |  CAST(sum(c * c) * 100000000 // (sum(c) * sum(c)) AS BIGINT) AS hhi_e8
       |FROM c GROUP BY $groupCol ORDER BY $groupCol""".stripMargin

  // ----------------------------------------- categorical association (χ²/V)
  /** The column pairs [[cramersV]] profiles: low-cardinality categorical
    * columns whose dependence a profiler should surface (status×priority,
    * flag×status, lang×source). One definition drives query and oracle. */
  private val cramersPairs: Seq[(String, String, String)] = Seq(
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("lineitem", "l_returnflag", "l_linestatus"),
    ("documents", "lang", "source"))

  /** CRAMÉR'S V — the categorical-categorical association profile (the
    * nominal twin of the Pearson/Spearman/Kendall numeric suite): for each
    * low-cardinality column pair, the Pearson χ² statistic and V² =
    * χ²/(n·min(r−1, c−1)), both as exact floor-division integers.
    *
    * Integer-exact, no libm: per contingency cell, the χ² contribution
    * (o−e)²/e is multiplied through by n — (n·o_ij − r_i·c_j)² / (n·r_i·c_j)
    * — and each cell's term is floored at ppm scale in DECIMAL(38,0)
    * (`(n·o−r·c)²·10⁶ div (n·r·c)`, all operands non-negative so Spark `div`
    * ≡ DuckDB `//`), then summed exactly: `chi2_ppm` is a deterministic
    * χ²·10⁶ lower bound within one ulp per cell on BOTH engines. Magnitudes:
    * n⁴·10⁶ — inside DECIMAL(38,0)/HUGEINT up to n ≈ 3·10⁷ rows; past that
    * the ppm scale (not the statistic) must drop, which a 100 TB deployment
    * does by profiling per-partition samples anyway.
    *
    * 100 TB shape: ONE scan per table partial-aggregates to the r×c cell
    * grid (≤ tens of rows); margins and the V² division run on that grid.
    * No shuffle touches row-level data after the cell count. */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    cramersPairs.map { case (t, a, b) =>
      val cells = Fixtures.table(spark, dir, t)
        .groupBy(col(a).as("va"), col(b).as("vb"))
        .agg(count(lit(1)).as("o"))
      val rows = cells.groupBy("va").agg(sum("o").as("r"))
      val cols_ = cells.groupBy("vb").agg(sum("o").as("c"))
      val tot = cells.agg(sum("o").as("n"),
        countDistinct("va").as("r_card"), countDistinct("vb").as("c_card"))
      cells.join(rows, "va").join(cols_, "vb").crossJoin(broadcast(tot))
        .withColumn("dev", dec(col("n")) * dec(col("o")) - dec(col("r")) * dec(col("c")))
        .withColumn("term",
          expr("(dev * dev * 1000000) div (CAST(n AS DECIMAL(38,0)) * r * c)"))
        .groupBy("n", "r_card", "c_card")
        .agg(sum("term").as("chi2_ppm_d"))
        .select(
          lit(t).as("tbl"), lit(a).as("col_a"), lit(b).as("col_b"),
          col("n"), col("r_card"), col("c_card"),
          expr("CAST(chi2_ppm_d AS BIGINT)").as("chi2_ppm"),
          expr("""CAST((chi2_ppm_d * 1000) div
                 |  (CAST(n AS DECIMAL(38,0)) * least(r_card - 1, c_card - 1))
                 |  AS BIGINT)""".stripMargin).as("v2_ppb"))
    }.reduce(_ unionAll _).orderBy("tbl", "col_a")
  }

  def cramersVOracle(): String =
    cramersPairs.map { case (t, a, b) =>
      s"""SELECT tbl, col_a, col_b,
         |  CAST(n AS BIGINT) AS n, CAST(r_card AS BIGINT) AS r_card,
         |  CAST(c_card AS BIGINT) AS c_card,
         |  CAST(chi2_ppm_d AS BIGINT) AS chi2_ppm,
         |  CAST(chi2_ppm_d * 1000 // (n * least(r_card - 1, c_card - 1)) AS BIGINT) AS v2_ppb
         |FROM (
         |  SELECT '$t' AS tbl, '$a' AS col_a, '$b' AS col_b,
         |    any_value(n) AS n, any_value(r_card) AS r_card, any_value(c_card) AS c_card,
         |    sum((n * o - r * c) * (n * o - r * c) * 1000000 // (n * r * c)) AS chi2_ppm_d
         |  FROM (
         |    SELECT o, n, r_card, c_card,
         |      sum(o) OVER (PARTITION BY va) AS r,
         |      sum(o) OVER (PARTITION BY vb) AS c
         |    FROM (
         |      SELECT va, vb, CAST(count(*) AS HUGEINT) AS o FROM
         |        (SELECT $a AS va, $b AS vb FROM $t) GROUP BY 1, 2
         |    ) cells
         |    CROSS JOIN (
         |      SELECT CAST(count(*) AS HUGEINT) AS n,
         |        CAST(count(DISTINCT $a) AS HUGEINT) AS r_card,
         |        CAST(count(DISTINCT $b) AS HUGEINT) AS c_card
         |      FROM $t)
         |  )
         |)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_a")

  /** PRIMARY-KEY DISCOVERY — the missing third of the key-mining trio
    * (FD discovery finds column implications, FK discovery finds
    * cross-table containment; this finds the unique identifiers): every
    * column of every table, numeric AND string, flagged `is_pk` when it is
    * null-free and its exact NDV equals the row count. A pure derivation
    * over the two whole-catalog profiles — the expensive scans are the
    * SAME one-DAG-per-table fused profiles the catalog queries already
    * run, so the discovery costs a 45-row flag projection on top. */
  def pkDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val num = sharedCatalogProfile(spark, dir)
      .select(col("tbl"), col("col_name").as("column_name"),
        col("n_rows"), col("n_nulls"), col("ndv"))
    val str = sharedCatalogStringProfile(spark, dir)
      .select(col("table_name").as("tbl"), col("column_name"),
        col("n_rows"), col("n_nulls"), col("ndv"))
    num.unionAll(str)
      .withColumn("is_pk", col("n_nulls") === 0 && col("ndv") === col("n_rows"))
      .orderBy("tbl", "column_name")
  }

  def pkDiscoveryOracle: String =
    s"""SELECT tbl, column_name, n_rows, n_nulls, ndv,
       |  n_nulls = 0 AND ndv = n_rows AS is_pk
       |FROM (
       |  SELECT tbl, col_name AS column_name, n_rows, n_nulls, ndv
       |  FROM (${catalogProfileOracle.linesIterator.mkString("\n|    ")}) num
       |  UNION ALL
       |  SELECT table_name AS tbl, column_name, n_rows, n_nulls, ndv
       |  FROM (${catalogStringProfileOracle.linesIterator.mkString("\n|    ")}) str
       |)
       |ORDER BY tbl, column_name""".stripMargin

  /** GOODMAN–KRUSKAL LAMBDA — the proportional-reduction-in-error partner
    * of [[cramersV]]: λ_{b|a} = (Σ_i max_j o_ij − max_j c_j)/(n − max_j c_j)
    * answers "knowing column a, how much better do I guess column b?" —
    * directional, where V is symmetric, and PURE integer (counts, maxima,
    * one non-negative floor division to ppm): no decimal routing at all.
    * Both directions per pair; same shared pair list, so V and λ can never
    * profile different columns. 100 TB shape: identical to V — one scan to
    * the r×c grid, margins on the grid, scalars out. */
  def gkLambda(spark: SparkSession, dir: String): DataFrame =
    cramersPairs.map { case (t, a, b) =>
      val cells = Fixtures.table(spark, dir, t)
        .groupBy(col(a).as("va"), col(b).as("vb")).agg(count(lit(1)).as("o"))
      val s1 = cells.groupBy("va").agg(max("o").as("rmax"), sum("o").as("r"))
        .agg(sum("rmax").as("sum_rowmax"), max("r").as("max_r"), sum("r").as("n"))
      val s2 = cells.groupBy("vb").agg(max("o").as("cmax"), sum("o").as("c"))
        .agg(sum("cmax").as("sum_colmax"), max("c").as("max_c"))
      s1.crossJoin(broadcast(s2)).select(
        lit(t).as("tbl"), lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        expr("CAST((sum_rowmax - max_c) * 1000000 div (n - max_c) AS BIGINT)")
          .as("lambda_ab_ppm"),
        expr("CAST((sum_colmax - max_r) * 1000000 div (n - max_r) AS BIGINT)")
          .as("lambda_ba_ppm"))
    }.reduce(_ unionAll _).orderBy("tbl")

  def gkLambdaOracle(): String =
    cramersPairs.map { case (t, a, b) =>
      def cellsSql =
        s"(SELECT $a AS va, $b AS vb, CAST(count(*) AS HUGEINT) AS o FROM $t GROUP BY 1, 2)"
      s"""SELECT '$t' AS tbl, '$a' AS col_a, '$b' AS col_b,
         |  CAST(n AS BIGINT) AS n,
         |  CAST((sum_rowmax - max_c) * 1000000 // (n - max_c) AS BIGINT) AS lambda_ab_ppm,
         |  CAST((sum_colmax - max_r) * 1000000 // (n - max_r) AS BIGINT) AS lambda_ba_ppm
         |FROM (
         |  SELECT sum(rmax) AS sum_rowmax, max(r) AS max_r, sum(r) AS n
         |  FROM (SELECT va, max(o) AS rmax, sum(o) AS r FROM $cellsSql GROUP BY va)
         |) CROSS JOIN (
         |  SELECT sum(cmax) AS sum_colmax, max(c) AS max_c
         |  FROM (SELECT vb, max(o) AS cmax, sum(o) AS c FROM $cellsSql GROUP BY vb)
         |)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
}

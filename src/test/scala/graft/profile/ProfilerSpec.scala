package graft.profile

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.render.TableRenderer

class ProfilerSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("orders sf0.001: fused single-pass profile has correct count, ranges, classes") {
    val df = spark.read.parquet(s"${SparkSuite.Sf0001}/orders.parquet")
    val p = Profiler.profileDataFrame(df, "public", "orders")
    assert(p.rows == ExactRows(1500L))
    assert(p.columnCount == 6)
    val byName = p.columns.map(c => c.name -> c).toMap
    assert(byName("o_orderkey").clazz == ColumnClass.Numeric)
    assert(byName("o_orderkey").min.contains(0L))
    assert(byName("o_orderkey").max.contains(1499L))
    assert(byName("o_orderdate").clazz == ColumnClass.Temporal)
    assert(byName("o_orderstatus").clazz == ColumnClass.Other)
    assert(byName("o_orderstatus").min.isEmpty)
  }

  test("estimated rows come from parquet footers and match exact count") {
    val path = s"${SparkSuite.Sf0001}/lineitem.parquet"
    val footer = graft.catalog.TableEnumerator.footerRowCount(spark, path)
    assert(footer == 6000L)
  }

  test("boolean tri-state: NULLs excluded from both buckets and the denominator") {
    val schema = StructType(Seq(StructField("flag", BooleanType, nullable = true)))
    val rows = Seq(Some(true), Some(true), Some(false), None, None).map(v =>
      Row(v.map(java.lang.Boolean.valueOf).orNull))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val p = Profiler.profileDataFrame(df, "t", "bools")
    val c = p.columns.head
    assert(c.clazz == ColumnClass.Bool)
    assert(c.trueCount.contains(2L))
    assert(c.falseCount.contains(1L))
    // denominator is t+f=3, not rowcount 5
    val (tp, fp) = graft.render.PercentFormat.booleanPercents(2, 1)
    assert(tp == "66.7%" && fp == "33.3%")
  }

  test("a bigint nanos column profiles as temporal via the nanos override") {
    // the override targets genuinely nanos-encoded LongType columns (parquet
    // TIMESTAMP(NANOS) read under nanosAsLong); the fixture's events.ts is
    // TIMESTAMP(MICROS) ntz since round 8, so the capability is pinned on a
    // synthetic column instead
    import spark.implicits._
    val df = Seq(1704067200000000000L, 1706745600000000000L).toDF("ts")
    val p = Profiler.profileDataFrame(df, "public", "nanos_t", nanosCols = Set("ts"))
    val ts = p.columns.find(_.name == "ts").get
    assert(ts.clazz == ColumnClass.TemporalNanos)
    assert(ts.min.nonEmpty && ts.max.nonEmpty)
    val (_, _, range, _) = TableRenderer.columnCells(ts)
    assert(range.matches("[A-Z][a-z]{2} \\d{4}-[A-Z][a-z]{2} \\d{4}"), s"got '$range'")
  }

  test("fixture events.ts (timestamp_ntz) profiles as temporal natively") {
    val df = spark.read.parquet(s"${SparkSuite.Sf0001}/events.parquet")
    val p = Profiler.profileDataFrame(df, "public", "events", nanosCols = Set("ts")) // override is inert on non-Long
    val ts = p.columns.find(_.name == "ts").get
    assert(ts.clazz == ColumnClass.Temporal)
    val (_, _, range, _) = TableRenderer.columnCells(ts)
    assert(range.matches("[A-Z][a-z]{2} \\d{4}-[A-Z][a-z]{2} \\d{4}"), s"got '$range'")
  }

  test("profileRoot renders the full sf0.001 catalog deterministically") {
    val profiles = Profiler.profileRoot(spark, SparkSuite.Sf0001, exact = true)
    assert(profiles.map(_.table) ==
      Seq("customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier"))
    val text = TableRenderer.render(profiles, TableRenderer.Exact)
    assert(text.contains("public.orders — 1500 rows, 6 cols"))
    assert(text.contains("public.lineitem — 6000 rows, 11 cols"))
    assert(text.startsWith("Tables (schema.table) — rows (exact), columns:"))
    // numeric range cell for o_orderkey
    assert(text.contains("o_orderkey"))
  }

  test("empty catalog renders the no-tables message") {
    assert(TableRenderer.render(Seq.empty, TableRenderer.Estimated) == "No tables found.\n")
  }

  test("renderer grid: header, padding, min range width 5") {
    val p = TableProfile("public", "t", 2, EstimatedRows(10),
      Seq(
        ColumnProfile("id", LongType, ColumnClass.Numeric, Some(1L), Some(9L), None, None),
        ColumnProfile("ok", BooleanType, ColumnClass.Bool, None, None, Some(7L), Some(3L))))
    val text = TableRenderer.renderTable(p)
    val lines = text.split("\n")
    assert(lines(0) == "public.t — ~10 rows, 2 cols")
    // nameW is the max DATA width (2) — the header may overflow it, exactly
    // like the reference's `"name".padEnd(nameW)` (listTables.tsx:427-434).
    assert(lines(2) == "name  type    range  values")
    assert(lines(3) == "id  bigint  1-9")
    assert(lines(4) == "ok  bool           Yes 7 (70.0%) | No 3 (30.0%)")
  }
}

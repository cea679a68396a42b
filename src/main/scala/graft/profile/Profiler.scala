package graft.profile

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{CatalogEntry, TableEnumerator}

/** Profile of one column: optional MIN/MAX (numeric/temporal) and optional
  * tri-state TRUE/FALSE counts (boolean). Mirrors the reference `ColumnInfo`
  * (`/root/reference/src/listTables.tsx:13-20`) but keeps values typed instead
  * of `::text`-stringified.
  */
case class ColumnProfile(
    name: String,
    dataType: DataType,
    clazz: ColumnClass,
    min: Option[Any],
    max: Option[Any],
    trueCount: Option[Long],
    falseCount: Option[Long])

/** Row-count result: estimated (metadata-only), exact (full count), or a
  * per-table failure (rendered `"error"`, listTables.tsx:367-369,485-487). */
sealed trait RowCountResult
case class EstimatedRows(n: Long) extends RowCountResult
case class ExactRows(n: Long) extends RowCountResult
case object CountError extends RowCountResult

/** Mirrors the reference `TableView` (listTables.tsx:22-29). */
case class TableProfile(
    schema: String,
    table: String,
    columnCount: Int,
    rows: RowCountResult,
    columns: Seq[ColumnProfile])

/** The profiling engine.
  *
  * Where the reference issues one SQL round-trip (= one full table scan) PER
  * profiled column (`/root/reference/src/listTables.tsx:236-251,310-325` — the
  * N+1 anti-pattern called out in SURVEY §4.1), this engine computes every
  * column's MIN/MAX and every boolean histogram in ONE fused `agg()` — a
  * single column-pruned scan per table, partial-aggregated map-side, with one
  * tiny shuffle to the final aggregate. At 100 TB that's the difference
  * between k scans and 1. That scan is exact mode; estimated mode reads
  * parquet footers first and scans only the columns they cannot serve.
  */
object Profiler {

  /** Columns (by table name) that are bigint nanos-since-epoch and should be
    * profiled as temporal (FIXTURES.md gotcha #1). */
  val DefaultNanosColumns: Map[String, Set[String]] = Map("events" -> Set("ts"))

  private def q(name: String): Column = col(s"`$name`")

  /** Build the fused aggregation list for a schema: MIN/MAX per
    * numeric/temporal column, tri-state TRUE/FALSE counts per boolean column,
    * plus `COUNT(*)`. Returns (aggs, perColumnClass).
    */
  def fusedAggs(schema: StructType, nanosCols: Set[String]): (Seq[Column], Seq[(StructField, ColumnClass)]) = {
    val classed = schema.fields.toSeq.map { f =>
      f -> ColumnClassifier.classify(f.dataType, nanosCols.contains(f.name),
        ColumnClassifier.isTimeOfDay(f))
    }
    val aggs = classed.flatMap {
      case (f, cls) if ranged(cls) =>
        Seq(min(q(f.name)).as(s"min__${f.name}"), max(q(f.name)).as(s"max__${f.name}"))
      case (f, ColumnClass.Bool) =>
        // `col IS TRUE` / `col IS FALSE` tri-state semantics (listTables.tsx:314-315):
        // NULLs fall in neither bucket.
        Seq(
          sum(when(q(f.name) <=> lit(true), 1L).otherwise(0L)).as(s"true__${f.name}"),
          sum(when(q(f.name) <=> lit(false), 1L).otherwise(0L)).as(s"false__${f.name}"))
      case _ => Seq.empty
    }
    (aggs :+ count(lit(1)).as("rows__"), classed)
  }

  /** Profile one DataFrame in a single pass, with its exact row count. */
  def profileDataFrame(
      df: DataFrame,
      schemaName: String,
      tableName: String,
      nanosCols: Set[String] = Set.empty): TableProfile = {
    val (aggs, classed) = fusedAggs(df.schema, nanosCols)
    val row: Row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    TableProfile(schemaName, tableName, df.schema.length,
      ExactRows(row.getLong(row.fieldIndex("rows__"))), columnProfiles(classed, cell(row)))
  }

  /** Column classes that get a MIN–MAX range. */
  private def ranged(cls: ColumnClass): Boolean = cls match {
    case ColumnClass.Numeric | ColumnClass.Temporal | ColumnClass.TemporalNanos |
         ColumnClass.TemporalTime => true
    case _ => false
  }

  /** Profiles of classified columns, each statistic looked up by its
    * [[fusedAggs]] alias (`min__c`, `max__c`, `true__c`, `false__c`). */
  private def columnProfiles(classed: Seq[(StructField, ColumnClass)],
      value: String => Option[Any]): Seq[ColumnProfile] = classed.map {
    case (f, cls) if ranged(cls) =>
      ColumnProfile(f.name, f.dataType, cls, value(s"min__${f.name}"), value(s"max__${f.name}"), None, None)
    case (f, ColumnClass.Bool) =>
      ColumnProfile(f.name, f.dataType, ColumnClass.Bool, None, None,
        value(s"true__${f.name}").map(_.asInstanceOf[Long]),
        value(s"false__${f.name}").map(_.asInstanceOf[Long]))
    case (f, cls) => ColumnProfile(f.name, f.dataType, cls, None, None, None, None)
  }

  private def cell(row: Row)(fieldName: String): Option[Any] = {
    val idx = row.fieldIndex(fieldName)
    if (row.isNullAt(idx)) None else Some(row.get(idx))
  }

  /** Profile every table under a data root.
    *
    * Tables are profiled concurrently from driver threads (the Spark scheduler
    * interleaves the per-table jobs across executor slots) — unlike the
    * reference's strictly sequential per-column loop. Per-table errors are
    * isolated, mirroring listTables.tsx:248-250,485-487: a broken table yields
    * `CountError`/empty stats instead of killing the run. Estimated mode:
    * [[profileEntryFooter]]; exact mode: [[profileEntryExact]].
    */
  def profileRoot(
      spark: SparkSession,
      root: String,
      exact: Boolean,
      nanosColumns: Map[String, Set[String]] = DefaultNanosColumns,
      parallelism: Int = 8): Seq[TableProfile] = {
    val entries = TableEnumerator.list(spark, root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = entries.map { e =>
        val nanosCols = nanosColumns.getOrElse(e.name, Set.empty[String])
        Future(if (exact) profileEntryExact(spark, e, nanosCols) else profileEntryFooter(spark, e, nanosCols))
      }
      futures.map(f => Await.result(f, Duration.Inf))
    } finally pool.shutdown()
  }

  /** EXACT-MODE profile of one table: COUNT(*) and the fused MIN/MAX and
    * boolean aggregate over every row — the reference the footer path is
    * tested against. The schema comes from the table's footers
    * ([[FooterAgg.read]]), so Spark runs no schema-inference job. */
  private def profileEntryExact(
      spark: SparkSession,
      e: CatalogEntry,
      nanosCols: Set[String]): TableProfile =
    isolated(e) {
      val df = spark.read.schema(FooterAgg.read(spark, e.path).schema).parquet(e.path)
      profileDataFrame(df, e.schema, e.name, nanosCols)
    }

  /** ESTIMATED-MODE profile of one table: one read of each data file's
    * parquet footer ([[FooterAgg.read]]) serves the schema, the row count
    * and the MIN/MAX of every column whose footer statistics are exact —
    * zero rows scanned and, below the distribution threshold, zero Spark
    * jobs. A residual fused scan remains only for boolean tri-state counts
    * (no footer form) and the range columns the footers cannot serve
    * (strings, decimals, unsigned ints, missing or dropped stats, dates
    * before the calendar cutover). Same TableProfile out, so the renderer
    * and goldens are unaffected. This is the engine's literal analog of the
    * reference's "single, fast catalog query" estimated mode
    * (`/root/reference/README.md:8`) — except the footer numbers are exact,
    * not planner estimates. */
  def profileEntryFooter(
      spark: SparkSession,
      e: CatalogEntry,
      nanosCols: Set[String]): TableProfile =
    isolated(e) {
      val footers = FooterAgg.read(spark, e.path)
      val (_, classed) = fusedAggs(footers.schema, nanosCols)
      val residual = classed.collect {
        case (f, cls) if cls == ColumnClass.Bool || (ranged(cls) && !footers.ranges.contains(f.name)) => f
      }
      val scanned: String => Option[Any] =
        if (residual.isEmpty) _ => None
        else {
          val (aggs, _) = fusedAggs(StructType(residual), nanosCols)
          cell(spark.read.schema(footers.schema).parquet(e.path).agg(aggs.head, aggs.tail: _*).collect()(0))
        }
      val served: Map[String, Option[Any]] = footers.ranges.toSeq.flatMap { case (c, range) =>
        Seq(s"min__$c" -> range.map(_._1), s"max__$c" -> range.map(_._2))
      }.toMap
      TableProfile(e.schema, e.name, footers.schema.length, EstimatedRows(footers.rows),
        columnProfiles(classed, alias => served.getOrElse(alias, scanned(alias))))
    }

  /** Error isolation: a table that fails to profile is still emitted, with
    * an error-marked count. */
  private def isolated(e: CatalogEntry)(profile: => TableProfile): TableProfile =
    Try(profile).getOrElse(TableProfile(e.schema, e.name, 0, CountError, Seq.empty))

  /** The estimated-mode profile of every table: an alias of
    * `profileRoot(exact = false)`, kept for the benchmark's `catalog_footer`
    * op. */
  def profileRootFooter(
      spark: SparkSession,
      root: String,
      nanosColumns: Map[String, Set[String]] = DefaultNanosColumns): Seq[TableProfile] =
    profileRoot(spark, root, exact = false, nanosColumns)
}

package graft.profile

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.render.TableRenderer

/** Footer mode against the scan-mode estimated profile, type by type, on
  * Spark-written tables: every column renders the same cells, and each
  * column is pinned to the path that served it (footer statistics or the
  * residual scan). */
class FooterTypeParitySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def table(root: String, name: String, sql: String, micros: Boolean = false): String = {
    // a child session, so the timestamp encoding stays local to this write
    val writer = spark.newSession()
    if (micros) writer.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val path = s"$root/$name.parquet"
    writer.sql(sql).coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  /** Every column's rendered cells, footer mode vs scan mode, plus the
    * whole render. */
  private def assertParity(root: String): Unit = {
    val footer = Profiler.profileRootFooter(spark, root)
    val scan = Profiler.profileRoot(spark, root, exact = false)
    assert(footer.map(_.rows) == scan.map(_.rows))
    footer.zip(scan).foreach { case (f, s) =>
      assert(f.columns.map(_.name) == s.columns.map(_.name))
      f.columns.zip(s.columns).foreach { case (fc, sc) =>
        assert(TableRenderer.columnCells(fc) == TableRenderer.columnCells(sc),
          s"${f.table}.${fc.name}: footer ${fc.min}..${fc.max} vs scan ${sc.min}..${sc.max}")
      }
    }
    assert(TableRenderer.render(footer, TableRenderer.Estimated) ==
      TableRenderer.render(scan, TableRenderer.Estimated))
  }

  test("every footer-served type renders like the scan; the rest take the residual scan") {
    val root = java.nio.file.Files.createTempDirectory("footer_types").toString
    val typed = table(root, "typed", """
      SELECT CAST(id - 3 AS TINYINT) AS tiny, CAST(id * 300 - 900 AS SMALLINT) AS small,
             CAST(id * 70000 AS INT) AS i, id * 5000000000 - 7 AS big,
             CAST(id / 4.0 AS FLOAT) AS f, CAST(id * 1.5 - 2.25 AS DOUBLE) AS d,
             DATE_ADD(DATE'2019-11-30', CAST(id * 40 AS INT)) AS dt,
             CAST(id * 12.34 AS DECIMAL(10,2)) AS dec,
             TIMESTAMP'2020-01-31 23:00:00' + make_interval(0, CAST(id AS INT)) AS ts,
             TIMESTAMP_NTZ'2021-06-01 00:00:00' + make_interval(0, 0, 0, CAST(id * 20 AS INT)) AS ntz,
             CAST(NULL AS BIGINT) AS nulls,
             DATE_ADD(DATE'1500-03-01', CAST(id AS INT)) AS ancient
      FROM range(0, 7)""", micros = true)
    // Spark's default INT96 timestamps carry no exact statistics
    val int96 = table(root, "int96",
      "SELECT TIMESTAMP'2022-02-02 02:02:02' + make_interval(0, CAST(id AS INT)) AS ts FROM range(0, 3)")

    val served = FooterAgg.read(spark, typed).ranges
    assert(served.keySet ==
      Set("tiny", "small", "i", "big", "f", "d", "dt", "ts", "ntz", "nulls"),
      "decimal and pre-cutover date must take the residual scan, every other column the footer")
    assert(served("nulls").isEmpty, "all-null column is served as an empty range")
    assert(!FooterAgg.read(spark, int96).ranges.contains("ts"))
    assertParity(root)
  }

  test("a double column holding NaN takes the residual scan, not an empty range") {
    val root = java.nio.file.Files.createTempDirectory("footer_nan").toString
    val path = table(root, "nan", """
      SELECT CAST(v AS DOUBLE) AS d, k FROM VALUES (1.5D, 1L), (DOUBLE('NaN'), 2L), (-2.5D, 3L) AS t(v, k)""")
    val served = FooterAgg.read(spark, path).ranges
    assert(!served.contains("d"), s"NaN column served from footers as ${served.get("d")}")
    assert(served.contains("k"))
    assertParity(root)
    val d = Profiler.profileRootFooter(spark, root).head.columns.find(_.name == "d").get
    assert(TableRenderer.columnCells(d)._3 == "-2.5-NaN")
  }

  test("a partitioned table keeps its partition column") {
    val root = java.nio.file.Files.createTempDirectory("footer_part").toString
    spark.range(0, 12).selectExpr("id AS k", "CAST(id % 3 AS INT) AS part")
      .write.partitionBy("part").mode("overwrite").parquet(s"$root/parted.parquet")
    val footer = Profiler.profileRootFooter(spark, root)
    assert(footer.head.columns.map(_.name) == Seq("k", "part"))
    assertParity(root)
  }
}

package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.profile.{ColumnClass, Profiler}
import graft.render.TableRenderer

/** Closes the round-1→6 time-of-day waiver (F7/F9): the reference profiles
  * Postgres TIME columns as `HH:MM-HH:MM` ranges
  * (`/root/reference/src/listTables.tsx:169-175`), but Spark has no time
  * type and no fixture column could drive the path end-to-end. A JDBC TIME
  * column CAN: the source surfaces it as a timestamp on 1970-01-01 with
  * `logical_time_type` field metadata (probed against embedded Derby), the
  * classifier keys off that metadata, and the renderer emits the
  * reference's time-ntz label + HH:MM range — a REAL scanned column through
  * the whole profile pipeline, not a formatter unit test.
  */
class JdbcTimeColumnSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("a scanned JDBC TIME column profiles to an HH:MM-HH:MM range end-to-end") {
    val home = Files.createTempDirectory("derby_time")
    System.setProperty("derby.system.home", home.toString)
    val url = s"jdbc:derby:${home.resolve("tdb")};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE shifts (id INT, start_t TIME, end_t TIME)")
      st.execute(
        "INSERT INTO shifts VALUES (1, '08:00:00', '17:30:00'), (2, '09:15:00', '16:45:00')")
      st.close()
    } finally conn.close()

    val df = TableSources.readJdbc(spark, url, "shifts", "app", "app")
    val profile = Profiler.profileDataFrame(df, "public", "shifts")

    val byName = profile.columns.map(c => c.name -> c).toMap
    assert(byName("START_T").clazz == ColumnClass.TemporalTime)
    assert(byName("ID").clazz == ColumnClass.Numeric)

    val cells = profile.columns.map(TableRenderer.columnCells)
    val start = cells.find(_._1 == "START_T").get
    val end = cells.find(_._1 == "END_T").get
    assert(start._2 == "time-ntz", s"type label ${start._2}")
    // min over both rows is 08:00, max 09:15 (per-column, not per-row)
    assert(start._3 == "08:00-09:15", s"start range ${start._3}")
    assert(end._3 == "16:45-17:30", s"end range ${end._3}")

    // the rendered table block carries the reference's layout with the
    // HH:MM ranges in place
    val text = TableRenderer.renderTable(profile)
    assert(text.contains("time-ntz"), text)
    assert(text.contains("08:00-09:15"), text)
  }
}

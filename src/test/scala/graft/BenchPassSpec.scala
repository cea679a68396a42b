package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Drives one [[Bench.pass]] over a small query map: every failure is
  * recorded (warmup and timed), and every query still gets its record. */
class BenchPassSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("a failing query lands in warmup_errors and errors; the others still get records") {
    val queries = Seq[(String, SparkEntry.Q)](
      "bench_spec_rowcounts" -> SparkEntry.queries("profile_rowcounts"),
      "bench_spec_fails" -> ((s, _) => s.range(3).selectExpr("raise_error('bench spec boom') AS x")),
      "bench_spec_grouped" -> ((s, d) =>
        Fixtures.table(s, d, "orders").groupBy(col("o_orderstatus")).count()))
    val p = Bench.pass(spark, queries, SparkSuite.Sf0001, SparkSuite.Sf0001)
    assert(p.timed.map(_._1) == queries.map(_._1).sorted, "not one timed run per query, in name order")
    assert(p.errors == Seq("bench_spec_fails"))
    assert(p.warmupErrors.keySet == Set("bench_spec_fails"))
    assert(p.warmupErrors("bench_spec_fails").contains("bench spec boom"))
    Seq("bench_spec_rowcounts", "bench_spec_grouped").foreach { n =>
      assert(p.record(n).jobs > 0 && p.record(n).tasks > 0, s"$n: ${p.record.get(n)}")
    }
    assert(p.record("bench_spec_grouped").shuffleBytes > 0)

    val full = new ObjectMapper().readTree(Bench.fullJson(p, SparkSuite.Sf0001, """"jvm":{}"""))
    assert(full.fieldNames().next() == "metric")
    assert(full.get("queries").size() == 3 && full.get("n_queries").asInt() == 3)
    assert(full.get("errors").size() == 1 && full.get("errors").get(0).asText() == "bench_spec_fails")
    assert(full.get("warmup_errors").get("bench_spec_fails").asText().contains("bench spec boom"))
    val rec = full.get("record")
    assert(rec.size() == 3)
    Seq("wall_s", "cpu_s", "driver_cpu_s", "jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")
      .foreach(k => assert(rec.get("bench_spec_grouped").has(k), s"record lacks $k"))
  }
}

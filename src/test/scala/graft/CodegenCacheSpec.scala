package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-code cache holds the engine's working set: a query
  * re-run after 150 other generated classes (more than Spark's default
  * cache of 100) compiles nothing, so no class is compiled twice per JVM. */
class CodegenCacheSpec extends AnyFunSuite {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a query's classes survive 150 other compiles") {
    val spark = SparkSuite.spark
    def q(): Array[Row] = spark.range(0, 1000, 1, 2)
      .selectExpr("id % 7 AS k", "id * 3 AS v")
      .groupBy("k").agg(sum("v").as("s"))
      .orderBy("k").collect()
    val expected = q()
    val before = compiles
    // the literal is inlined into the generated source: 150 distinct classes
    (2 to 151).foreach(i => spark.range(1).selectExpr(s"id * $i").collect())
    assert(compiles - before >= 150, "the projections did not compile distinct classes")
    val afterFill = compiles
    assert(q().toSeq == expected.toSeq)
    assert(compiles == afterFill,
      s"re-running the query compiled ${compiles - afterFill} classes: its cached ones were evicted")
  }
}

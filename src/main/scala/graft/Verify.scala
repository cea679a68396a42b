package graft

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. All plumbing
  * shared with the subset dev tool via [[VerifySupport]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    VerifySupport.dumpQueries(spark, sfDir, outDir, SparkEntry.queries.keys)
    VerifySupport.writeOracleJson(outDir, SparkEntry.oracleSql.keys)
    spark.stop()
  }
}

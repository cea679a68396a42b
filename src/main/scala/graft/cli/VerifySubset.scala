package graft.cli

import graft.{GraftSession, VerifySupport}

/** Dev tool: run a comma-separated subset of [[graft.SparkEntry.queries]]
  * through the same dump-and-compare path as [[graft.Verify]], so a new
  * query can be oracle-gated in isolation without re-dumping all ~200.
  *
  * Usage: runMain graft.cli.VerifySubset <sfDir> <outDir> <name1,name2,...>
  * Then:  python3 tools/oracle_check.py <sfDir> <outDir>
  *
  * Names absent from [[graft.SparkEntry.oracleSql]] are dumped but omitted
  * from oracle_sql.json (the driver's weaker rows-only path). Session
  * ([[GraftSession.local]]), dump loop, and JSON escaping are the SAME
  * code as Verify ([[VerifySupport]]) — the tool cannot drift from the
  * path it mirrors.
  */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, list) = args.take(3)
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.local()
    VerifySupport.dumpQueries(spark, sfDir, outDir, names)
    VerifySupport.writeOracleJson(outDir, names)
    spark.stop()
  }
}

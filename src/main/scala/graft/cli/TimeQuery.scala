package graft.cli

import graft.{GraftSession, QueryRecorder}

/** Dev tool: time one named [[graft.SparkEntry.queries]] entry in isolation.
  *
  * Usage: runMain graft.cli.TimeQuery <queryName>[,<queryName>…] [sfDir] [reps]
  *
  * Same session config and noop-sink action as [[graft.Bench]], but the
  * query repeated `reps` times. Each rep prints its wall seconds beside its
  * executor CPU and driver-thread CPU (from [[QueryRecorder]]): a slow plan
  * moves all three, a contended box moves the wall time alone.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    println(s"timequery $name @ $sfDir")
    val spark = GraftSession.local()
    val sc = spark.sparkContext
    val recorder = QueryRecorder.install(sc)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def rep(label: String, n: String): Unit = {
      val group = s"$label $n"
      val t = QueryRecorder.time(sc, group)(
        graft.SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save())
      t.error.foreach(e => sys.error(s"$n failed: $e"))
      val c = recorder.drain(sc).getOrElse(group, graft.QueryCost())
      println(f"$group: ${t.wallS}%.3f s  cpu ${c.cpuNs / 1e9}%.3f s  driver ${t.driverCpuS}%.3f s" +
        s"  jobs ${c.jobs} stages ${c.stages} tasks ${c.tasks}")
    }
    // single query: memo cleared per rep (each rep pays the full build).
    // comma-separated list: memo cleared ONCE up front, then the queries
    // run in order — the bench-like context (a build-owning line first,
    // memo-reading lines after) for separating build cost from query cost.
    val names = name.split(",").map(_.trim).filter(_.nonEmpty)
    if (names.length == 1) {
      (1 to reps).foreach { i =>
        graft.operators.StageMemo.releaseAll()
        rep(s"rep $i", names.head)
      }
    } else {
      // memo cleared once up front, so ONLY rep 1 pays the shared-stage
      // build; reps ≥ 2 time fully-memoized reads even for the
      // build-owning query. Tag the lines so the two aren't misread as
      // measuring the same thing.
      graft.operators.StageMemo.releaseAll()
      (1 to reps).foreach { i =>
        val tag = if (i == 1) " (build)" else " (memoized)"
        names.foreach(n => rep(s"rep $i$tag", n))
      }
    }
    spark.stop()
  }
}

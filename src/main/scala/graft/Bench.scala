package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.StageMemo

/** Benchmark entry point: runs every [[SparkEntry.queries]] entry once at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and records what each one cost.
  *
  * Each query's headline is its single timed run. Beside it, the artifact
  * carries the query's [[QueryRecorder]] record (executor CPU, driver-thread
  * CPU, jobs, stages, tasks, shuffle-write and spill bytes): counts that do
  * not move with the load on the box, so a slow line explains itself from
  * the artifact alone, without a rerun.
  *
  * Output: the full artifact is written to `bench_full.json` and printed,
  * then [[compactTotalLine]] is printed last.
  */
object Bench {
  /** The LAST stdout line: a ~2 KB tail capture of stdout (with sbt's own
    * trailer lines after it) must always end in complete JSON. The queries
    * map is BYTE-BUDGETED, not count-fixed: the slowest queries are included
    * greedily until the line would pass ~1750 B — ≥ 25 entries at realistic
    * name lengths, still inside the window at 40-char names.
    * `BenchContractSpec` gates the size.
    */
  private[graft] def compactTotalLine(
      total: Double, results: Seq[(String, Double)], errors: Seq[String],
      loadJson: String, jvmJson: String, sfDir: String): String = {
    val errHead = errors.take(3).map("\"" + _ + "\"").mkString("[", ",", "]")
    def line(qjson: String, omitted: Int): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qjson,"queries_omitted":$omitted,"sf":"$sfDir","n_queries":${results.size},"n_errors":${errors.size},"errors":$errHead,$loadJson,$jvmJson,"full":"bench_full.json"}"""
    val sorted = results.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val budget = 1750 - line("{}", results.size).getBytes(StandardCharsets.UTF_8).length
    var used = 0
    val taken = sorted.takeWhile { e =>
      val cost = e.getBytes(StandardCharsets.UTF_8).length + 1 // comma
      if (used + cost <= budget) { used += cost; true } else false
    }
    line(taken.mkString("{", ",", "}"), math.max(0, results.size - taken.size))
  }

  private def fmt(v: Double): String = f"$v%.3f"

  /** One bench pass: per query (in run order) its timed run and record,
    * the queries that failed in the warmup (with the error), the 1-min
    * loadavg around the timed block, and the stages rebuilt inside it. */
  final case class Pass(timed: Seq[(String, QueryRecorder.Timed)],
      record: Map[String, QueryCost], warmupErrors: Map[String, String],
      loadStart: Double, loadEnd: Double, memoRebuilds: Map[String, Set[String]]) {
    def results: Seq[(String, Double)] = timed.map { case (n, t) => n -> t.wallS }
    def errors: Seq[String] = timed.collect { case (n, t) if t.error.isDefined => n }
    def total: Double = results.map(_._2).sum
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Runs `queries` as one bench pass: every query once untimed at
    * `warmSf`, every table of `sfDir` scanned once, then every query once,
    * timed, at `sfDir`. A query's failure is recorded, never rethrown. */
  private[graft] def pass(spark: SparkSession, queries: Seq[(String, SparkEntry.Q)],
      warmSf: String, sfDir: String): Pass = {
    // the noop sink materializes every output row and column; count()
    // would let the optimizer prune output columns and sorts away
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val sc = spark.sparkContext
    val order = queries.sortBy(_._1)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // Untimed warmup of EVERY query at sf0.001 (JIT, codegen), in the timed
    // run's order: StageMemo learns each stage's last reader from it, so
    // the timed loop releases a stage as soon as its last reader finishes.
    val warmupErrors = order.flatMap { case (name, fn) =>
      StageMemo.beginQuery(name)
      try { run(fn(spark, warmSf)); None }
      catch { case NonFatal(e) => Some(name -> e.toString) }
    }.toMap
    spark.sharedState.cacheManager.clearCache()
    // the warmup memoized the shared stages of the warm dir: release them
    // now, so the timed run builds (and bills) its own
    StageMemo.releaseAll()
    // only a stage released by the timed loop and then rebuilt counts
    StageMemo.resetRebuildTracking()
    val lastReader = StageMemo.lastReaders(order.map(_._1))
    // one untimed scan of every table at the measured SF: the timed run
    // starts with a warm file cache and every query still does its compute
    new java.io.File(sfDir).listFiles(f => f.getName.endsWith(".parquet"))
      .foreach(f => run(spark.read.parquet(f.getPath)))
    val recorder = QueryRecorder.install(sc)
    try {
      val loadStart = loadAvg
      val timed = order.map { case (name, fn) =>
        StageMemo.beginQuery(name)
        val t = QueryRecorder.time(sc, name)(run(fn(spark, sfDir)))
        t.error.foreach(e => System.err.println(s"bench: $name failed: $e"))
        // drop the stages this query read last, outside its timed window
        StageMemo.releaseAfter(name, lastReader)
        name -> t
      }
      val loadEnd = loadAvg
      Pass(timed, recorder.drain(sc), warmupErrors, loadStart, loadEnd, StageMemo.rebuildLog)
    } finally sc.removeSparkListener(recorder)
  }

  /** The artifact: `queries` (the flat name → seconds map) first, then the
    * per-query `record` and the run's context. */
  private[graft] def fullJson(p: Pass, sfDir: String, jvmJson: String): String = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => json.writeValueAsString(k) + ":" + v }.mkString("{", ",", "}")
    val record = obj(p.timed.map { case (n, t) =>
      val c = p.record.getOrElse(n, QueryCost())
      n -> s"""{"wall_s":${fmt(t.wallS)},"cpu_s":${fmt(c.cpuNs / 1e9)},"driver_cpu_s":${fmt(t.driverCpuS)},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes}}"""
    })
    val rebuilds = obj(p.memoRebuilds.toSeq.sortBy(_._1).map { case (st, qs) =>
      st -> json.writeValueAsString(qs.toSeq.sorted.asJava) })
    s"""{"metric":"total","value":${fmt(p.total)},"unit":"sec","queries":${obj(p.results.map { case (n, s) => n -> fmt(s) })},"sf":"$sfDir","n_queries":${p.timed.size},"errors":${json.writeValueAsString(p.errors.asJava)},"warmup_errors":${obj(p.warmupErrors.toSeq.sorted.map { case (n, e) => n -> json.writeValueAsString(e) })},${loadJson(p)},"memo_rebuilds":$rebuilds,$jvmJson,"record":$record}"""
  }

  private def loadJson(p: Pass): String =
    s""""load":{"start":${fmt(p.loadStart)},"end":${fmt(p.loadEnd)},"cpus":${Runtime.getRuntime.availableProcessors()}}"""

  /** Code-cache occupancy and cumulative GC time when the artifact is written. */
  private def jvmJson: String = {
    val mx = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.toLowerCase.contains("code"))
    val usedMb = mx.map(_.getUsage.getUsed).sum >> 20
    val maxMb = mx.map(p => math.max(p.getUsage.getMax, 0L)).sum >> 20
    val gcSec = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1000.0
    s""""jvm":{"code_cache_used_mb":$usedMb,"code_cache_max_mb":$maxMb,"gc_sec":${fmt(gcSec)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val p = pass(spark, SparkEntry.queries.toSeq, "/root/testdata/sf0.001", sfDir)
    val jvm = jvmJson
    val full = fullJson(p, sfDir, jvm)
    Files.write(Paths.get("bench_full.json"), (full + "\n").getBytes(StandardCharsets.UTF_8))
    println(full)
    println(compactTotalLine(p.total, p.results, p.errors, loadJson(p), jvm, sfDir))
    spark.stop()
  }
}

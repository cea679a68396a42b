package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.catalog.TableEnumerator
import graft.operators.StageMemo
import graft.profile.Profiler
import graft.render.TableRenderer

/** The benchmark's JVM side: runs one workload as one closed-loop client
  * and writes every sample, digest and (when tracing) span as JSON lines.
  * `run.py` launches it, turns the records into metrics and checks them.
  *
  *   --workload <name> --seed <n> --passes <n> --trace <0|1>
  *   --data <dir> --warm-data <dir> --ops <comma-separated ops> --out <file>
  *   [--dump <dir>]   write each op's rows as parquet plus the engine's
  *                    oracle SQL, for the one-time DuckDB cross-check
  *
  * An op is one call, timed from its start to its completion. Query ops
  * are `SparkEntry.queries(name)(spark, dir)` plus a `noop`-sink write;
  * catalog ops (`catalog_<mode>`) list the catalog, read its footers,
  * profile it in one mode and render the result. A pass runs every op once
  * in an order drawn from the seed; an untraced run makes `--passes` timed
  * passes, a traced run three. One untimed warmup pass over the smaller `--warm-data` corpus
  * comes first, and every shared stage the engine memoises is released,
  * untimed, before each pass.
  *
  * Every op's output is digested as it is produced: a query's rows through
  * an `Observation` on the written frame (so the check costs no second
  * execution), a catalog op's rendered text as is.
  */
object Main {

  private val out = ArrayBuffer.empty[String]
  private def emit(fields: (String, Any)*): Unit = out += Json.obj(fields: _*)

  /** Epoch milliseconds with sub-millisecond resolution, on the same clock
    * as Spark's listener events. */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def vmHwmKb(): Long =
    try new String(Files.readAllBytes(Paths.get("/proc/self/status"))).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** One op's spans (name -> seconds) and its output: the rendered text of
    * a catalog op, the row digest of a query op. */
  private final case class Result(spans: Seq[(String, Double)], output: String)

  private def timed[T](spans: ArrayBuffer[(String, Double)], name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans += name -> (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val passes = args("passes").toInt
    val trace = args("trace") == "1"
    val data = args("data")
    val warmData = args.getOrElse("warm-data", data)
    val ops = args("ops").split(",").toSeq.filter(_.nonEmpty)
    val outFile = args("out")

    val t0 = nowMs()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val tSession = nowMs()

    def runOp(name: String, dir: String): Result = {
      val spans = ArrayBuffer.empty[(String, Double)]
      if (name.startsWith("catalog_")) {
        val mode = name.stripPrefix("catalog_")
        val entries = timed(spans, "catalog.list")(TableEnumerator.list(spark, dir))
        timed(spans, "catalog.footer_rows")(
          entries.map(e => TableEnumerator.footerRowCount(spark, e.path)).sum)
        val views = timed(spans, s"profile.$mode")(mode match {
          case "estimated" => Profiler.profileRoot(spark, dir, exact = false)
          case "exact" => Profiler.profileRoot(spark, dir, exact = true)
          case "footer" => Profiler.profileRootFooter(spark, dir)
        })
        val text = timed(spans, "render")(TableRenderer.render(views,
          if (mode == "exact") TableRenderer.Exact else TableRenderer.Estimated))
        Result(spans.toSeq, text)
      } else {
        val df = timed(spans, "operators.build")(queries(name)(spark, dir))
        val obs = new Observation()
        timed(spans, "execute")(
          digested(df, obs).write.format("noop").mode("overwrite").save())
        Result(spans.toSeq, digestOf(obs))
      }
    }

    args.get("dump").foreach { dir =>
      dump(spark, queries, data, ops, dir)
      spark.stop()
      return
    }

    // Untimed warmup: one pass in name order over the warmup corpus.
    // Failures are recorded, never swallowed.
    ops.foreach { op =>
      val start = nowMs()
      val err = try { runOp(op, warmData); None } catch { case e: Throwable => Some(msg(e)) }
      emit("kind" -> "warmup", "op" -> op, "s" -> (nowMs() - start) / 1e3, "ok" -> err.isEmpty,
        "error" -> err.getOrElse(""))
    }
    StageMemo.releaseAll()
    StageMemo.resetRebuildTracking()
    val tReady = nowMs()
    println("PERFBENCH READY")

    val trc = new Trace
    var traced = false
    var pass = 0
    val load0 = loadAvg()
    // A traced run makes exactly three passes and traces only the middle
    // one; the untraced passes around it are the reference for the tracing
    // overhead, which also cancels a steady warming trend.
    while (pass < (if (trace) 3 else passes)) {
      traced = trace && pass == 1
      if (traced) {
        sc.addSparkListener(trc)
        spark.listenerManager.register(trc)
      }
      val r0 = System.nanoTime()
      StageMemo.releaseAll()
      val releaseS = (System.nanoTime() - r0) / 1e9
      val rebuilds0 = StageMemo.rebuildCount
      val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var residentPeak = 0L
      val order = new Random(seed * 1000003L + pass).shuffle(ops)
      val passStart = nowMs()
      val cpu0 = os.getProcessCpuTime
      order.zipWithIndex.foreach { case (op, i) =>
        val id = s"p$pass-$i"
        sc.setJobGroup(id, op, interruptOnCancel = false)
        val start = nowMs()
        val res = try Right(runOp(op, data)) catch { case e: Throwable => Left(msg(e)) }
        val end = nowMs()
        sc.clearJobGroup()
        if (traced)
          residentPeak = math.max(residentPeak,
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
        res match {
          case Right(r) =>
            emit(Seq[(String, Any)]("kind" -> "op", "op" -> op, "id" -> id, "pass" -> pass,
              "traced" -> traced, "start" -> start, "end" -> end, "ok" -> true) ++
              r.spans.map { case (k, v) => s"span.$k" -> v } :+ ("output" -> r.output): _*)
          case Left(err) =>
            emit("kind" -> "op", "op" -> op, "id" -> id, "pass" -> pass, "traced" -> traced,
              "start" -> start, "end" -> end, "ok" -> false, "error" -> err)
        }
      }
      val passEnd = nowMs()
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      if (traced) {
        trc.awaitQuiet()
        sc.removeSparkListener(trc)
        spark.listenerManager.unregister(trc)
      }
      emit("kind" -> "pass", "pass" -> pass, "traced" -> traced, "start" -> passStart,
        "end" -> passEnd, "cpu_s" -> cpuS, "release_s" -> releaseS,
        "rebuilds" -> (StageMemo.rebuildCount - rebuilds0),
        "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0),
        "resident_bytes" -> residentPeak)
      pass += 1
    }
    val load1 = loadAvg()
    val hwm = vmHwmKb()
    spark.stop()
    emit("kind" -> "meta", "workload" -> workload, "seed" -> seed, "cpus" -> cpus.toInt,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "session_s" -> (tSession - t0) / 1e3,
      "warmup_s" -> (tReady - tSession) / 1e3, "loadavg_start" -> load0, "loadavg_end" -> load1,
      "vm_hwm_kb" -> hwm)
    val lines = out ++ trc.drain()
    Files.write(Paths.get(outFile), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** `df` observed by an order-independent digest of its rows: the row
    * count and the sum of a per-row hash. Floating-point cells are hashed
    * as six significant digits, so partition-order noise in float
    * aggregates cannot flip it. */
  def digested(df: DataFrame, obs: Observation): DataFrame = {
    val cells: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.5e", c.cast(DoubleType) + lit(0.0))
        case _ => c
      }
    }
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    df.observe(obs, count(lit(1)).as("rows"), sum(h.cast(DecimalType(38, 0))).as("hash"))
  }

  def digestOf(obs: Observation): String = {
    val m = obs.get
    val hash = m("hash") match {
      case null => "0"
      case d: java.math.BigDecimal => d.toPlainString
      case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
      case other => other.toString
    }
    s"${m("rows")}:$hash"
  }

  /** Writes each op's rows and the oracle SQL of those that have one. */
  private def dump(spark: SparkSession, queries: Map[String, SparkEntry.Q], data: String,
      ops: Seq[String], dir: String): Unit = {
    ops.foreach { op =>
      queries(op)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$op")
    }
    val oracle = SparkEntry.oracleSql.filter(kv => ops.contains(kv._1))
    Files.write(Paths.get(s"$dir/oracle_sql.json"),
      oracle.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
        .getBytes(StandardCharsets.UTF_8))
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder fed by Spark's public listener APIs.
  *
  * Every record is one JSON object kept in memory; the caller writes the
  * whole buffer once, when the run ends. Times are epoch milliseconds, the
  * clock Spark stamps its events with.
  *
  * A job carries the op id the benchmark put in its job group; stages and
  * tasks are joined to their job by stage id.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  val records = new ConcurrentLinkedQueue[String]()
  private val openJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private def add(fields: (String, Any)*): Unit = records.add(Json.obj(fields: _*))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    openJobs.add(e.jobId)
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    add("kind" -> "job", "job" -> e.jobId, "start" -> e.time, "group" -> group.getOrElse(""),
      "stages" -> e.stageIds.mkString(","))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    add("kind" -> "job_end", "job" -> e.jobId, "end" -> e.time)
    openJobs.remove(e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val ok = e.reason == Success
    if (m == null)
      add("kind" -> "task", "stage" -> e.stageId, "launch" -> i.launchTime,
        "finish" -> i.finishTime, "ok" -> ok)
    else {
      // scheduler delay as Spark's own UI derives it: wall time of the task
      // that is neither deserialisation, run, result serialisation nor
      // result fetch
      val delay = math.max(0L, (i.finishTime - i.launchTime) - m.executorDeserializeTime -
        m.executorRunTime - m.resultSerializationTime - i.gettingResultTime)
      add("kind" -> "task", "stage" -> e.stageId, "launch" -> i.launchTime,
        "finish" -> i.finishTime, "ok" -> ok,
        "cpu_ns" -> m.executorCpuTime, "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
        "delay_ms" -> delay, "scan_bytes" -> m.inputMetrics.bytesRead,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(name: String): (Long, Long) =
      phases.get(name).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
    val (os, oe) = phase("optimization")
    val (ps, pe) = phase("planning")
    add("kind" -> "query", "func" -> funcName, "opt_start" -> os, "opt_end" -> oe,
      "plan_start" -> ps, "plan_end" -> pe)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(): Seq[String] = records.asScala.toSeq

  /** Waits (at most five seconds) until every job seen has ended and no
    * event has arrived for 200 ms: the listener bus delivers events
    * asynchronously, and a listener removed too early loses the tail. */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1
    while (System.nanoTime() < deadline && (!openJobs.isEmpty || records.size != last)) {
      last = records.size
      Thread.sleep(200)
    }
  }
}

/** Minimal JSON writer for flat records (numbers, booleans, strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

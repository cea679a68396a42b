package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What one named query cost on the executors, summed over every job run
  * under its job group. */
final case class QueryCost(cpuNs: Long = 0L, jobs: Int = 0, stages: Int = 0,
    tasks: Int = 0, shuffleBytes: Long = 0L, spillBytes: Long = 0L)

/** Per-query cost record built from Spark's listener events. A caller runs
  * each named query under its own job group ([[QueryRecorder.time]]); stages
  * join their job's group through the job properties, and tasks join their
  * stage by id. Per group the recorder sums executor CPU, jobs, stages (each
  * submitted attempt), tasks, shuffle-write bytes and spill bytes. Jobs
  * outside any group are not recorded. Unlike wall time these counts do not
  * move with the load on the box, so they tell a slow plan from a busy one.
  *
  * Events reach a listener asynchronously: [[drain]] runs a sentinel job and
  * reads the record only once the listener has seen that job end. */
final class QueryRecorder extends SparkListener {
  private val costs = new ConcurrentHashMap[String, QueryCost]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val ended = ConcurrentHashMap.newKeySet[String]()

  private def add(group: String)(f: QueryCost => QueryCost): Unit =
    costs.compute(group, (_, c) => f(if (c == null) QueryCost() else c))

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      jobGroup.put(e.jobId, g)
      add(g)(c => c.copy(jobs = c.jobs + 1))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach(ended.add)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach { g =>
      stageGroup.put(e.stageInfo.stageId, g)
      add(g)(c => c.copy(stages = c.stages + 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      add(g)(c => if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
        cpuNs = c.cpuNs + m.executorCpuTime, tasks = c.tasks + 1,
        shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled))
    }

  /** The record of every group seen so far. Runs one sentinel job and waits
    * until the listener has seen it end, so every earlier event is in; fails
    * if that takes longer than `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Map[String, QueryCost] = {
    val sentinel = s"query-recorder-drain-${java.util.UUID.randomUUID()}"
    QueryRecorder.time(sc, sentinel)(sc.parallelize(Seq(0), 1).count()).error
      .foreach(e => throw new IllegalStateException(s"QueryRecorder sentinel job failed: $e"))
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!ended.contains(sentinel)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"QueryRecorder saw no end of its sentinel job in $timeoutMs ms")
      Thread.sleep(5)
    }
    costs.asScala.toMap - sentinel
  }
}

object QueryRecorder {
  /** Wall and driver-thread CPU seconds of one query run, and its failure
    * (the exception's class and message). */
  final case class Timed(wallS: Double, driverCpuS: Double, error: Option[String])

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** A recorder listening on `sc`. */
  def install(sc: SparkContext): QueryRecorder = {
    val r = new QueryRecorder
    sc.addSparkListener(r)
    r
  }

  /** Runs `body` as query `name`: under job group `name`, timing its wall
    * and calling-thread CPU. A non-fatal failure is returned, not thrown. */
  def time(sc: SparkContext, name: String)(body: => Any): Timed = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val c0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val error = try { body; None } catch { case NonFatal(e) => Some(e.toString) }
      finally sc.clearJobGroup()
    Timed((System.nanoTime() - t0) / 1e9, (threads.getCurrentThreadCpuTime - c0) / 1e9, error)
  }
}

package graft.profile

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** [[ProfileQueries.pooledUnion]]'s failure path: the first failing branch
  * surfaces at once, whatever its position, and leaves no job behind. */
class PooledUnionSpec extends AnyFunSuite {

  test("pooledUnion: a failing branch surfaces before a slow one finishes, no orphan jobs") {
    val spark = SparkSuite.spark
    import spark.implicits._
    val slowMs = 60000L
    // first in branch order, so an in-order wait would block on it
    val slow = spark.range(0, 2, 1, 2).map { i =>
      val end = System.currentTimeMillis() + slowMs
      // a cancelled task stops at once instead of holding its core
      while (System.currentTimeMillis() < end && !TaskContext.get().isInterrupted())
        Thread.sleep(20)
      i
    }.toDF("id")
    val failing = spark.range(0, 1, 1, 1).map { i =>
      Thread.sleep(500)
      if (i >= 0) throw new IllegalStateException("pooled branch failed")
      i
    }.toDF("id")
    val t0 = System.nanoTime()
    val e = intercept[Exception](ProfileQueries.pooledUnion(Seq(slow, failing)))
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("pooled branch failed"), s"unexpected error: $e")
    assert(waitedS < slowMs / 2000.0, f"the error took $waitedS%.1f s to surface")
    // the status tracker is fed by the async listener bus: let it catch up
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10000000000L
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(tracker.getActiveJobIds.isEmpty,
      s"jobs left running: ${tracker.getActiveJobIds.mkString(",")}")
  }
}

package graft.cli

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.streaming.{StreamingDedup, StreamingSessionizer, TwsDedup}

/** State-scale probe for the streaming twins (VERDICT r9 #6): the batch
  * operators have measured scaling exponents (ScaleProbe → SCALE.md §7);
  * this gives the STREAMING side the same treatment — measured state-store
  * rows and bytes/key as the key population grows 10⁴ → 10⁵ → 10⁶, plus an
  * eviction check on the watermark-bounded dedup.
  *
  * Three probes, each driven by a MemoryStream and read back from
  * `query.lastProgress.stateOperators` (numRowsTotal / memoryUsedBytes —
  * the store's own accounting, not a model):
  *  1. `tws_dedup` — [[TwsDedup.dedupStream]] (transformWithState,
  *     RocksDB): state = one Long per distinct hash, TTL-less by design
  *     (keep-first-forever semantics). The probe measures bytes/key at
  *     each decade — the number that says what 10⁹ hashes cost a cluster.
  *  2. `sessionizer` — [[StreamingSessionizer.sessionStream]]'s update
  *     function (fMGWS, HDFS-backed store): state = one 6-field summary
  *     per user.
  *  3. `bounded_dedup` — [[StreamingDedup.dedupStreamBounded]]: push K keys
  *     at t₀, advance event time past watermark+horizon with a second
  *     batch of K new keys, and REQUIRE the store's row count to drop to
  *     ≈K (the first generation evicted by EventTimeTimeout) — the
  *     eviction claim, confirmed by the store's own row accounting.
  *
  * Usage: runMain graft.cli.StreamStateProbe [maxKeys] — decades up to
  * maxKeys (default 1e6). Prints a markdown table + one JSON line for
  * SCALE.md §6.
  */
object StreamStateProbe {

  private def stateRows(q: StreamingQuery): (Long, Long) = {
    val ops = q.lastProgress.stateOperators
    (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
  }

  def main(args: Array[String]): Unit = {
    val maxKeys = if (args.length > 0) args(0).toLong else 1000000L
    val decades = Iterator.iterate(10000L)(_ * 10).takeWhile(_ <= maxKeys).toSeq
    // AQE stays on here: each stream runs in its own session clone, which
    // StreamExecution plans with AQE off
    val spark = GraftSession.local()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val results = scala.collection.mutable.ArrayBuffer.empty[String]

    // ---- probe 1: TwsDedup (RocksDB, one Long per distinct hash) --------
    {
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val mem = MemoryStream[(Long, String)]
      val q = TwsDedup.dedupStream(
        mem.toDS().map { case (id, h) => TwsDedup.DocHash(id, h) })
        .writeStream.outputMode("append").format("noop").start()
      try {
        var prev = 0L
        val rows = decades.map { n =>
          // add only the delta: cumulative distinct keys reach n
          (prev until n).grouped(200000).foreach(g =>
            mem.addData(g.map(i => (i, s"h$i")): _*))
          prev = n
          q.processAllAvailable()
          val (r, b) = stateRows(q)
          (n, r, b)
        }
        println(s"\n| tws_dedup keys | state rows | store bytes | bytes/key |")
        println(s"|---|---|---|---|")
        rows.foreach { case (n, r, b) =>
          println(f"| $n | $r | $b | ${b.toDouble / n}%.1f |")
        }
        results += s""""tws_dedup":[${rows.map { case (n, r, b) => s"[$n,$r,$b]" }.mkString(",")}]"""
        require(rows.forall { case (n, r, _) => r == n },
          "tws_dedup: store rows must equal distinct keys")
      } finally { q.stop(); spark.conf.unset(providerKey) }
    }

    // ---- probe 2: sessionizer (HDFS-backed, one summary per user) -------
    {
      val mem = MemoryStream[StreamingSessionizer.Ev]
      val q = mem.toDS()
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Update,
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          StreamingSessionizer.updateState)
        .writeStream.outputMode("update").format("noop").start()
      try {
        var prev = 0L
        val rows = decades.map { n =>
          (prev until n).grouped(200000).foreach(g =>
            mem.addData(g.map(u => StreamingSessionizer.Ev(u, u * 1000L)): _*))
          prev = n
          q.processAllAvailable()
          val (r, b) = stateRows(q)
          (n, r, b)
        }
        println(s"\n| sessionizer keys | state rows | store bytes | bytes/key |")
        println(s"|---|---|---|---|")
        rows.foreach { case (n, r, b) =>
          println(f"| $n | $r | $b | ${b.toDouble / n}%.1f |")
        }
        results += s""""sessionizer":[${rows.map { case (n, r, b) => s"[$n,$r,$b]" }.mkString(",")}]"""
        require(rows.forall { case (n, r, _) => r == n },
          "sessionizer: store rows must equal distinct users")
      } finally q.stop()
    }

    // ---- probe 3: bounded dedup eviction (EventTimeTimeout) -------------
    {
      val k = decades.head // 10⁴ keys per generation is plenty to confirm
      val hourUs = 3600000000L
      def gen(offset: Long, t0ms: Long) =
        (0L until k).map(i => StreamingDedup.TimedDoc(
          offset + i, s"h${offset + i}", new java.sql.Timestamp(t0ms)))
      val mem = MemoryStream[StreamingDedup.TimedDoc]
      val q = StreamingDedup.dedupStreamBounded(mem.toDS(),
          delayThreshold = "10 seconds", horizonMs = 60000L)
        .writeStream.outputMode("append").format("noop").start()
      try {
        mem.addData(gen(0L, 1000000L): _*)
        q.processAllAvailable()
        val (r1, _) = stateRows(q)
        // second generation 1h later: watermark sweeps past gen-1 leases
        mem.addData(gen(10000000L, 1000000L + hourUs / 1000): _*)
        q.processAllAvailable()
        // timers fire on the batch AFTER the watermark advances; one empty
        // nudge batch lets eviction complete
        mem.addData(StreamingDedup.TimedDoc(99999999L, "nudge",
          new java.sql.Timestamp(1000000L + hourUs / 1000 + 1)))
        q.processAllAvailable()
        val (r2, _) = stateRows(q)
        println(s"\n| bounded_dedup | gen1 rows | after horizon+watermark |")
        println(s"|---|---|---|")
        println(s"| k=$k | $r1 | $r2 |")
        results += s""""bounded_dedup":{"k":$k,"gen1_rows":$r1,"after_eviction":$r2}"""
        require(r1 == k, s"gen1 must hold $k keys, saw $r1")
        require(r2 <= k + 1,
          s"gen1 keys must be evicted once the watermark passes lease end: rows=$r2")
      } finally q.stop()
    }

    println(s"""{"probe":"stream_state","decades":[${decades.mkString(",")}],${results.mkString(",")}}""")
    spark.stop()
  }
}

package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.operators.TextAnalysis

/** Streaming CCNet-tercile gate (round 14): the frozen-model row-local score
  * equals the gated batch score doc-for-doc, and the streamed bucket
  * totals equal the batch deployed-classify aggregation — the certified
  * window-free form actually running as a stream. */
class StreamingLmGateSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val dir = SparkSuite.Sf0001

  test("frozen-model row-local scores equal the gated batch scores, doc for doc") {
    val model = TextAnalysis.lmModelRow(spark, dir)
    val boundaries = TextAnalysis.lmBoundaries(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val rowLocal = StreamingLmGate.scoreProjection(docs, model, boundaries)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    val batch = TextAnalysis.unigramSurprisal(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rowLocal.keySet == batch.keySet)
    rowLocal.foreach { case (id, (n, s, _)) =>
      assert((n, s) == batch(id), s"doc $id: row-local ($n,$s) != batch ${batch(id)}")
    }
    // the stream's threshold bucket must match the batch deployed classify
    val deployed = TextAnalysis.ccnetDeployedClassify(spark, dir)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getString(r.fieldIndex("bucket_thr"))).toMap
    rowLocal.foreach { case (id, (_, _, b)) =>
      assert(b == deployed(id), s"doc $id: stream bucket $b != deployed ${deployed(id)}")
    }
  }

  test("streamed tercile totals equal the batch gate; unknown strata fall to tail") {
    val model = TextAnalysis.lmModelRow(spark, dir).localCheckpoint(true)
    val boundaries = TextAnalysis.lmBoundaries(spark, dir).localCheckpoint(true)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val staged = StreamFixtures.stageSplit(docs, col("doc_id") % 2 === 0,
      "docs_lm_gate_stream")
    val q = StreamingLmGate.lmGate(spark, staged, model, boundaries)
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_lm_gate").start()
    try {
      q.processAllAvailable()
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      val streamed = rowsOf(spark.table("stream_lm_gate"))
      val batch = rowsOf(StreamingLmGate.gateSelect(docs, model, boundaries))
      assert(streamed == batch,
        s"stream/batch divergence: ${streamed.toSeq.diff(batch.toSeq).take(3)}")
      // the gate must reproduce the batch rank terciles exactly when the
      // deployed consistency row certifies full agreement (the fixture does)
      val rank = TextAnalysis.unigramSurprisal(spark, dir).collect()
        .groupBy(r => (r.getString(1), r.getString(4)))
        .map { case (k, rs) => k -> rs.length.toLong }
      val gateCounts = streamed.map { case (k, (n, _)) => k -> n }
      assert(gateCounts == rank,
        s"gate buckets != rank buckets: ${gateCounts.toSeq.diff(rank.toSeq).take(3)}")
    } finally q.stop()

    // unknown language: NULL boundaries, hapax fallback unavailable -> tail
    val alien = spark.createDataFrame(Seq((99L, "totally unseen words", "xx")))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val out = StreamingLmGate.scoreProjection(alien,
      TextAnalysis.lmModelRow(spark, dir), TextAnalysis.lmBoundaries(spark, dir))
      .collect()
    assert(out.length == 1 && out.head.getString(4) == "tail",
      s"unknown stratum must classify tail: ${out.toSeq}")
  }
}

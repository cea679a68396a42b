package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-time benchmark DECONTAMINATION — the streaming twin of
  * [[graft.operators.TextAnalysis.decontaminate]] (word 5-gram overlap with
  * an evaluation set), run as a guard on arriving documents rather than a
  * batch sweep after the fact: a benchmark question entering the training
  * corpus is cheapest to stop at the door.
  *
  * Statelessness is the design constraint (the [[StreamingAdmission]]
  * precedent): a per-doc explode→join→count would make the re-grouping a
  * STATEFUL streaming aggregation (watermark, state store, late-data
  * semantics) for what is logically a row-local property. Instead the
  * eval set's distinct grams ride as ONE array in a broadcast 1-row static
  * frame, and the shared-gram count is `size(array_intersect(...))` —
  * entirely row-local, zero state operators, and bit-equal to the batch
  * op's `countDistinct` (array_intersect de-duplicates by definition).
  *
  * At 100 TB the posture matches the batch op's: eval sets are
  * benchmark-sized (thousands of docs → ~10⁵-10⁶ distinct grams), so the
  * gram array broadcasts; each row pays one hash-set probe per own-gram.
  * If an eval set ever outgrew that, the fallback is the batch op's
  * explode + broadcast equi-join shape with a processing-time watermark —
  * documented, not shipped, because no benchmark is corpus-sized.
  */
object StreamingDecontaminate {

  /** Row-local word 5-gram array (the batch op's kernel; the stream==batch
    * spec keeps them locked). Empty under 5 words. */
  private def gramsArr(text: Column): Column =
    graft.functions.VectorExpressions.word_ngrams(split(text, " "), 5)

  /** The eval set's distinct grams as a single-row, single-array frame —
    * the broadcast side. Eval docs are the batch op's: every 97th
    * perturbed near-dup copy of the reference corpus. */
  private def evalGramRow(spark: SparkSession, referenceDir: String): DataFrame =
    graft.operators.Dedup.corpusWithNearDups(spark, referenceDir)
      .filter(col("doc_id") >= graft.operators.Dedup.IdOffset && col("doc_id") % 97 === 0)
      .select(explode(gramsArr(col("text"))).as("gram"))
      .agg(collect_set(col("gram")).as("eval_grams"))

  /** Flagged (contaminated) documents with their distinct shared-gram
    * count — the rows an ingest pipeline diverts for review. Stateless:
    * stream-static cross join against the broadcast 1-row gram array. */
  def flagged(spark: SparkSession, stagingDir: String, referenceDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(StreamingDedup.documentsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(stagingDir)
      .crossJoin(broadcast(evalGramRow(spark, referenceDir)))
      .select(col("doc_id"),
        size(array_intersect(gramsArr(col("text")), col("eval_grams")))
          .cast("bigint").as("n_shared_grams"))
      .filter(col("n_shared_grams") > 0L)
}

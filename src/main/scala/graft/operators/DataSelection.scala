package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Fixtures.table

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * arXiv:2302.03169): fit two hashed-n-gram bag-of-words models — one over a
  * TARGET domain slice (the "looks like what we want to train on" proxy),
  * one over the RAW pool — and weight every raw document by how much more
  * likely its features are under the target model, then keep the top slice.
  * This is the standard public recipe for steering a 100 TB crawl toward a
  * curated distribution without training a neural scorer first.
  *
  * Engine semantics (exact-integer surrogate, the [[TextAnalysis.unigramSurprisal]]
  * precedent): features are whitespace unigrams + adjacent-word bigrams
  * hashed into [[NumBuckets]] buckets (`md5` hex prefix → int, portable to
  * the DuckDB oracle bit-for-bit); each model is add-1-smoothed over the
  * bucket space; the per-bucket target/raw likelihood ratio is kept in
  * exact integer micro-units, and a document's importance weight is its
  * feature-frequency-weighted MEAN ratio (integral `div`). The published
  * estimator sums per-feature LOG ratios — the mean-ratio form keeps the
  * same per-bucket evidence and the same direction per feature in exact
  * integer arithmetic, so the whole policy (model fit, weighting, and the
  * top-decile cut) sits under the cross-engine oracle instead of diverging
  * in `ln` ulps. Selection is stratified per source: top ceil(n/10) by
  * (weight, doc_id) within each source.
  *
  * 100 TB shape: ONE corpus-sized shuffle — the (doc, bucket) feature-count
  * aggregate (map-side combined; the "featurize once" artifact, shared by
  * the model fit and the scoring side as the `dsir_feats` StageMemo
  * stage). The two
  * models reduce to [[NumBuckets]] rows (constant, broadcast back for
  * scoring — never a second corpus shuffle), and selection windows are
  * per-SOURCE (never a global rank), so each stratum ranks independently
  * exactly like [[TextAnalysis.unigramSurprisal]]'s per-language terciles.
  * At cluster scale the top-decile cut would be driven by a threshold
  * calibrated per stratum; the rank rule here is the exact form of the same
  * policy.
  */
object DataSelection {

  /** Hashed feature space size. Constant at any corpus scale — the model
    * stays broadcastable (B rows) no matter how many documents flow in. */
  private[graft] val NumBuckets = 512

  /** Target-domain proxy: the curated sources the selection should steer
    * toward (the fixture's stand-in for "wiki-quality" domains). */
  private[graft] val TargetSources: Seq[String] = Seq("src1", "src2", "src3", "src4")

  private def sqlTargetList: String = TargetSources.map(s => s"'$s'").mkString(", ")

  /** Per-document hashed-feature counts: (doc_id, source, tgt, bucket, c).
    * Unigrams + adjacent bigrams over the whitespace split, empty tokens
    * dropped on both sides of a bigram (the [[TextAnalysis.collocations]]
    * convention), md5-prefix-hashed into [[NumBuckets]] buckets. */
  private def featureCounts(spark: SparkSession, dir: String): DataFrame = {
    // NO spread here (r16 continuation): probed — repartitioning the scan
    // before the two explodes measured WORSE (6.1-6.4 → 6.9-7.7 s on the
    // feats build line, two same-hour A/B passes): the union's two map
    // legs already overlap and the added corpus exchange costs more than
    // the parallelism buys (the batch-5 ndvFrame/fullProfile shape).
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ts"),
        col("source").isin(TargetSources: _*).as("tgt"))
    val uni = d
      .select(col("doc_id"), col("source"), col("tgt"), explode(col("ts")).as("f"))
      .filter(col("f") =!= "")
    val big = d
      .filter(size(col("ts")) >= 2)
      // row-local pair structs (r16): the posexplode form carried the
      // whole token array per output row — see TextAnalysis.collocations
      .select(col("doc_id"), col("source"), col("tgt"), explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> struct(ts[i] AS w1, ts[i + 1] AS w2))")).as("p"))
      .select(col("doc_id"), col("source"), col("tgt"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .select(col("doc_id"), col("source"), col("tgt"),
        concat(col("w1"), lit(" "), col("w2")).as("f"))
    uni.unionByName(big)
      .withColumn("bucket",
        expr(s"CAST(conv(substring(md5(f), 1, 6), 16, 10) AS BIGINT) % $NumBuckets"))
      .groupBy(col("doc_id"), col("source"), col("tgt"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Bucket-level smoothed likelihood ratio table ([[NumBuckets]] rows):
    * ratio_micro(b) = 10⁶·(tc+1)·(R+B) div ((rc+1)·(T+B)) where tc/rc are
    * the bucket's target/raw feature counts and T/R the class totals.
    * DECIMAL(38,0) intermediates: 10⁶·(tc+1)·(R+B) ≤ ~10³³ even at a
    * 10¹³-feature raw pool — exact with 5 digits of headroom. */
  private def bucketRatios(feats: DataFrame): DataFrame = {
    val bstats = feats.groupBy("bucket").agg(
      sum(when(col("tgt"), col("c")).otherwise(0L)).as("tc"),
      sum(when(!col("tgt"), col("c")).otherwise(0L)).as("rc"))
    val tot = bstats.agg(sum("tc").as("t_tot"), sum("rc").as("r_tot"))
    bstats.crossJoin(broadcast(tot))
      .select(col("bucket"), expr(
        s"""CAST((CAST(1000000 AS DECIMAL(38,0)) * (tc + 1) * (r_tot + $NumBuckets))
           | div ((CAST(rc AS DECIMAL(38,0)) + 1) * (t_tot + $NumBuckets)) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("ratio_micro"))
  }

  /** Per raw document: n_feats and the feature-weighted mean ratio in
    * micro-units. No presentation order — callers add their own. */
  private def dsirPerDoc(feats: DataFrame): DataFrame =
    feats.filter(!col("tgt"))
      .join(broadcast(bucketRatios(feats)), Seq("bucket"))
      .groupBy("doc_id", "source")
      .agg(sum("c").as("n_feats"),
        expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * ratio_micro) div sum(c) AS BIGINT)")
          .as("weight_micro"))

  /** Feature counts MATERIALIZED once per (session, dir) via [[StageMemo]]
    * (the classifier-family discipline): they feed the model fit and the
    * scoring join inside each query, AND four sibling queries (importance,
    * select, deployed, thresholds) — at 100 TB this is the persisted
    * featurize-once artifact a selection pass reads. */
  private def feats(spark: SparkSession, dir: String): DataFrame =
    StageMemo(spark, dir, "dsir_feats")(featureCounts(spark, dir))

  /** Per-raw-doc weights, memoized one level up from [[feats]]: every
    * consumer (ranking, thresholds, deployment gate) reads the same
    * materialized weight table. */
  private def perDocMemo(spark: SparkSession, dir: String): DataFrame =
    StageMemo(spark, dir, "dsir_perdoc")(dsirPerDoc(feats(spark, dir)))

  def dsirImportance(spark: SparkSession, dir: String): DataFrame =
    perDocMemo(spark, dir).orderBy("doc_id")

  /** Stratified selection summary per source: top ceil(n/10) docs by
    * (weight_micro desc, doc_id) within each source, with the selected
    * slice's mean weight and feature-mass share. All integer-exact. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = perDocMemo(spark, dir)
    val rankW = Window.partitionBy("source")
      .orderBy(col("weight_micro").desc, col("doc_id"))
    perDoc
      .withColumn("rnk", row_number().over(rankW).cast("bigint"))
      .withColumn("n_raw", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("sel", expr("rnk <= (n_raw + 9) div 10"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_raw_docs"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
        expr("CAST(sum(CAST(weight_micro AS DECIMAL(38,0))) div count(1) AS BIGINT)")
          .as("mean_w_micro"),
        expr("""CAST(sum(CASE WHEN sel THEN CAST(weight_micro AS DECIMAL(38,0)) ELSE 0 END)
               | div sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("mean_sel_w_micro"),
        expr("""CAST((1000 * sum(CASE WHEN sel THEN CAST(n_feats AS DECIMAL(38,0)) ELSE 0 END))
               | div sum(CAST(n_feats AS DECIMAL(38,0))) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("sel_feat_permille"))
      .orderBy("source")
  }

  /** The fitted DSIR model FROZEN as one broadcastable row: the
    * bucket→ratio map ([[NumBuckets]] entries at most) plus the
    * all-unseen-bucket default ratio (tc=rc=0 under the same smoothing) —
    * the side input the streaming admission twin scores against. Unlike
    * the NB vocab map this is CONSTANT-bounded: 512 entries at any corpus
    * size, the whole point of hashed features. */
  def modelRow(spark: SparkSession, dir: String): DataFrame = {
    val fs = feats(spark, dir)
    val default = fs.agg(
      sum(when(col("tgt"), col("c")).otherwise(0L)).as("t_tot"),
      sum(when(!col("tgt"), col("c")).otherwise(0L)).as("r_tot"))
      .select(expr(
        s"""CAST((CAST(1000000 AS DECIMAL(38,0)) * (r_tot + $NumBuckets))
           | div (CAST(t_tot AS DECIMAL(38,0)) + $NumBuckets) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("default_micro"))
    bucketRatios(fs)
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("ratio_micro"))))
        .as("model"))
      .crossJoin(broadcast(default))
  }

  /** Per-source DEPLOYED thresholds — the weight of the last doc the batch
    * selection kept in each stratum. Freezing these alongside the bucket
    * model turns the rank-based batch policy into the threshold-based form
    * a streaming gate (or a 1000-executor scan) actually deploys. */
  def selectionThresholds(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = perDocMemo(spark, dir)
    val rankW = Window.partitionBy("source")
      .orderBy(col("weight_micro").desc, col("doc_id"))
    perDoc
      .withColumn("rnk", row_number().over(rankW).cast("bigint"))
      .withColumn("n_raw", count(lit(1)).over(Window.partitionBy("source")))
      .filter(expr("rnk <= (n_raw + 9) div 10"))
      .groupBy("source")
      .agg(min("weight_micro").as("threshold_micro"))
  }

  /** DEPLOYMENT-CONSISTENCY table ([[graft.operators.Dedup]]'s
    * `dedup_banding_deployed` precedent): per source, the calibrated
    * threshold side by side with the rank-based selection it was frozen
    * from — selected count, threshold-admitted count, boundary-tie mass,
    * and the `consistent` gate (admitted ⊇ selected, excess bounded by
    * ties−1). A drift between the rank policy and its deployed threshold
    * form — the form the streaming gate and any 100 TB scan actually run —
    * fails this row cross-engine. */
  def dsirDeployed(spark: SparkSession, dir: String): DataFrame = {
    // perDocMemo is already an eagerly-materialized StageMemo artifact —
    // both consumers (the threshold agg and the admit count) re-read that
    // RDD scan, so no further checkpoint is needed here
    val perDoc = perDocMemo(spark, dir)
    val rankW = Window.partitionBy("source")
      .orderBy(col("weight_micro").desc, col("doc_id"))
    val ranked = perDoc
      .withColumn("rnk", row_number().over(rankW).cast("bigint"))
      .withColumn("n_raw", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("sel", expr("rnk <= (n_raw + 9) div 10"))
    val thr = ranked.groupBy("source").agg(
      sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
      min(when(col("sel"), col("weight_micro"))).as("threshold_micro"))
    perDoc.join(broadcast(thr), Seq("source"))
      .groupBy("source")
      .agg(first("n_selected").as("n_selected"),
        first("threshold_micro").as("threshold_micro"),
        sum(when(col("weight_micro") >= col("threshold_micro"), 1L).otherwise(0L))
          .as("n_admitted"),
        sum(when(col("weight_micro") === col("threshold_micro"), 1L).otherwise(0L))
          .as("boundary_ties"))
      .withColumn("consistent", expr(
        "n_admitted >= n_selected AND n_admitted - n_selected <= greatest(boundary_ties - 1, 0)"))
      .select("source", "threshold_micro", "n_selected", "n_admitted",
        "boundary_ties", "consistent")
      .orderBy("source")
  }

  /** Shared oracle CTE chain: documents → hashed feature counts → smoothed
    * bucket ratio table → per-raw-doc weights. Mirrors the Spark side
    * operation-for-operation (same hash, same smoothing, same `div`). */
  private def oracleChain: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ts,
       |    source IN ($sqlTargetList) AS tgt
       |  FROM documents
       |), uni AS (
       |  SELECT doc_id, source, tgt, w AS f FROM d, unnest(ts) AS u(w) WHERE w <> ''
       |), big AS (
       |  SELECT doc_id, source, tgt, w1 || ' ' || w2 AS f FROM (
       |    SELECT doc_id, source, tgt, ts[i] AS w1, ts[i + 1] AS w2
       |    FROM (SELECT doc_id, source, tgt, ts, unnest(range(1, len(ts))) AS i FROM d))
       |  WHERE w1 <> '' AND w2 <> ''
       |), feats AS (
       |  SELECT doc_id, source, tgt,
       |    CAST(('0x' || substr(md5(f), 1, 6)) AS BIGINT) % $NumBuckets AS bucket,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
       |  GROUP BY doc_id, source, tgt, bucket
       |), bstats AS (
       |  SELECT bucket,
       |    CAST(sum(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS tc,
       |    CAST(sum(CASE WHEN NOT tgt THEN c ELSE 0 END) AS BIGINT) AS rc
       |  FROM feats GROUP BY bucket
       |), tot AS (
       |  SELECT CAST(sum(tc) AS BIGINT) AS t_tot, CAST(sum(rc) AS BIGINT) AS r_tot
       |  FROM bstats
       |), ratio AS (
       |  SELECT bucket,
       |    CAST((CAST(1000000 AS HUGEINT) * (tc + 1) * (r_tot + $NumBuckets))
       |      // ((CAST(rc AS HUGEINT) + 1) * (t_tot + $NumBuckets)) AS BIGINT) AS ratio_micro
       |  FROM bstats, tot
       |), perdoc AS (
       |  SELECT f.doc_id, f.source,
       |    CAST(sum(f.c) AS BIGINT) AS n_feats,
       |    CAST(sum(CAST(f.c AS HUGEINT) * r.ratio_micro) // sum(f.c) AS BIGINT) AS weight_micro
       |  FROM feats f JOIN ratio r USING (bucket)
       |  WHERE NOT f.tgt
       |  GROUP BY f.doc_id, f.source
       |)""".stripMargin

  val dsirImportanceOracle: String =
    s"""$oracleChain
       |SELECT doc_id, source, n_feats, weight_micro FROM perdoc ORDER BY doc_id""".stripMargin

  val dsirDeployedOracle: String =
    s"""$oracleChain, ranked AS (
       |  SELECT *,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY weight_micro DESC, doc_id) AS BIGINT) AS rnk,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_raw
       |  FROM perdoc
       |), thr AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN rnk <= (n_raw + 9) // 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |    CAST(min(CASE WHEN rnk <= (n_raw + 9) // 10 THEN weight_micro END) AS BIGINT) AS threshold_micro
       |  FROM ranked GROUP BY source
       |)
       |SELECT p.source, t.threshold_micro, t.n_selected,
       |  CAST(sum(CASE WHEN p.weight_micro >= t.threshold_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       |  CAST(sum(CASE WHEN p.weight_micro = t.threshold_micro THEN 1 ELSE 0 END) AS BIGINT) AS boundary_ties,
       |  (CAST(sum(CASE WHEN p.weight_micro >= t.threshold_micro THEN 1 ELSE 0 END) AS BIGINT) >= t.n_selected
       |   AND CAST(sum(CASE WHEN p.weight_micro >= t.threshold_micro THEN 1 ELSE 0 END) AS BIGINT) - t.n_selected
       |     <= greatest(CAST(sum(CASE WHEN p.weight_micro = t.threshold_micro THEN 1 ELSE 0 END) AS BIGINT) - 1, 0)) AS consistent
       |FROM perdoc p JOIN thr t USING (source)
       |GROUP BY p.source, t.threshold_micro, t.n_selected
       |ORDER BY p.source""".stripMargin

  val dsirSelectOracle: String =
    s"""$oracleChain, ranked AS (
       |  SELECT *,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY weight_micro DESC, doc_id) AS BIGINT) AS rnk,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_raw
       |  FROM perdoc
       |), flag AS (
       |  SELECT *, rnk <= (n_raw + 9) // 10 AS sel FROM ranked
       |)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_raw_docs,
       |  CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |  CAST(sum(CAST(weight_micro AS HUGEINT)) // count(*) AS BIGINT) AS mean_w_micro,
       |  CAST(sum(CASE WHEN sel THEN CAST(weight_micro AS HUGEINT) ELSE 0 END)
       |    // sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS mean_sel_w_micro,
       |  CAST((1000 * sum(CASE WHEN sel THEN CAST(n_feats AS HUGEINT) ELSE 0 END))
       |    // sum(CAST(n_feats AS HUGEINT)) AS BIGINT) AS sel_feat_permille
       |FROM flag GROUP BY source ORDER BY source""".stripMargin
}

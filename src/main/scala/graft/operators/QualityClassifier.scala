package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained quality classifier, fastText-style (Joulin et al. 2016,
  * arXiv:1607.01759; the CommonCrawl-pipeline usage is the GPT-3/CCNet
  * "train a linear classifier on a high-quality proxy, score the crawl"
  * recipe): proxy labels come from the engine's own CCNet terciles
  * ([[TextAnalysis.unigramSurprisal]] — head = positive, tail = negative,
  * middle held out), a Naive-Bayes bag-of-words model is fit distributed in
  * ONE closed-form pass (no SGD — the count ratios ARE the model), and the
  * whole corpus is re-scored under the trained model, including the held-out
  * middle band the labels never saw. This composes two rounds of machinery:
  * the tokenize-once artifact feeds the LM bucketing, the classifier fit,
  * and the scoring side of the SAME DAG.
  *
  * Engine semantics (exact-integer surrogate, the [[DataSelection]] /
  * [[TextAnalysis.unigramSurprisal]] precedent): per-word class evidence is
  * the add-1-smoothed likelihood ratio in integer micro-units,
  * `ratio_micro(w) = 10⁶·(c_pos+1)·(tot_neg+V) div ((c_neg+1)·(tot_pos+V))`,
  * a document's score is its tf-weighted MEAN ratio (integral `div`, words
  * unseen in training fall back to the smoothed unseen ratio), and the
  * decision rule is `score_micro > 10⁶` (mean evidence favors the positive
  * class). The published NB sums per-word LOG ratios — the mean-ratio form
  * keeps the same per-word evidence and direction in exact integer
  * arithmetic so fit, scoring, and the decision boundary all sit under the
  * DuckDB oracle instead of diverging in `ln` ulps.
  *
  * 100 TB shape: the corpus shuffles ONCE into the (doc, word) tf frame
  * (shared as the `nb_docterm` StageMemo stage across the bucket fit, the class-count
  * fit, and scoring); class counts reduce to a VOCAB-sized table (Zipf-
  * bounded) that scoring joins back on `word` — a vocab-keyed shuffle join,
  * never a broadcast of something corpus-sized and never a second corpus
  * tokenization. The model digest's top-k is TakeOrdered before any rank
  * window (the labelOutliers discipline). Integer headroom: score_micro can
  * reach ~10⁶·tot_neg only for a word carrying the entire positive mass
  * while absent from negatives — the analogous pure-hapax boundary to
  * [[TextAnalysis.unigramSurprisalFrom]]'s documented one.
  */
object QualityClassifier {

  /** The engine's classifier ADMISSION RULE, `score_micro > DecisionMicro`
    * (mean per-word evidence favors the positive class — 10⁶ is the
    * neutral-evidence point of the micro-unit ratio scale). ONE named
    * constant (ADVICE r14): the rule gates the training manifest, the
    * confusion/agreement tables, the streaming twin, and their oracles —
    * a threshold change must move all of them together or the gated form
    * drifts away from its oracle. */
  val DecisionMicro = 1000000L

  /** Score-bin geometry shared by [[classifierCalibration]] and
    * [[classifierAucBinned]] — declared HERE, before every oracle `val`
    * that interpolates them (object vals initialize in declaration order;
    * an oracle built above these would silently bake in 0). See the
    * calibration section for the geometry rationale. */
  private[operators] val CalibrationBinMicro = 25000L
  private[operators] val CalibrationMinBin = 36L // 900 000 micro
  private[operators] val CalibrationMaxBin = 45L // 1 125 000 micro

  private val DigestK = 25

  /** (doc_id, word) tf frame + CCNet buckets — MATERIALIZED once per
    * (session, dir) via [[StageMemo]]: five consumers share them (train,
    * confusion, drift, the per-doc referee/filter-matrix scores, and the
    * frozen model row), and at 100 TB this IS the persisted tokenize-once
    * artifact every classifier refresh reads. */
  private def pieces(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docTerm = StageMemo(spark, dir, "nb_docterm")(TextAnalysis.docTermTf(spark, dir))
    // same key as TextAnalysis.sharedUnigramBuckets — the whole LM/classifier
    // stack shares ONE tokenize-once + bucket artifact per (session, dir)
    val buckets = TextAnalysis.sharedUnigramBuckets(spark, dir)
    (docTerm, buckets)
  }

  /** Vocab-sized class-count table (word, c_pos, c_neg) — memoized: the
    * fit's one aggregate, shared by every model consumer and the drift
    * row's v1 side. */
  private def classCounts(spark: SparkSession, dir: String,
      docTerm: DataFrame, buckets: DataFrame): DataFrame =
    StageMemo(spark, dir, "nb_cls")(classCountsPlan(docTerm, buckets))

  /** Un-memoized class counts. */
  private def classCountsPlan(docTerm: DataFrame, buckets: DataFrame): DataFrame = {
    val labeled = buckets
      .filter(col("bucket").isin("head", "tail"))
      .select(col("doc_id"), (col("bucket") === "head").as("pos"))
    docTerm.join(labeled, "doc_id")
      .groupBy("word")
      .agg(sum(when(col("pos"), col("tf")).otherwise(0L)).as("c_pos"),
        sum(when(!col("pos"), col("tf")).otherwise(0L)).as("c_neg"))
  }

  /** Vocab-sized model: word, c_pos, c_neg plus the 1-row scalar frame
    * (tot_pos, tot_neg, v, unseen_micro). */
  private def fit(spark: SparkSession, dir: String,
      docTerm: DataFrame, buckets: DataFrame): (DataFrame, DataFrame) =
    fitFrom(classCounts(spark, dir, docTerm, buckets))

  private def fitFrom(cls: DataFrame): (DataFrame, DataFrame) = {
    val scal = cls.agg(
      sum("c_pos").as("tot_pos"), sum("c_neg").as("tot_neg"),
      count(lit(1)).as("v"))
      .withColumn("unseen_micro", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (tot_neg + v)) div (tot_pos + v) AS BIGINT)"))
    val ratios = cls.crossJoin(broadcast(scal))
      .select(col("word"), col("c_pos"), col("c_neg"), expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * (c_pos + 1) * (tot_neg + v))
          | div ((CAST(c_neg AS DECIMAL(38,0)) + 1) * (tot_pos + v)) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("ratio_micro"))
    (ratios, scal)
  }

  /** Model digest: the [[DigestK]] strongest positive-evidence words and the
    * [[DigestK]] strongest negative-evidence words, with their class counts
    * and ratios. TakeOrdered (orderBy+limit) before the 25-row rank window. */
  def classifierTrain(spark: SparkSession, dir: String): DataFrame = {
    val (docTerm, buckets) = pieces(spark, dir)
    val (ratios, _) = fit(spark, dir, docTerm, buckets)
    def side(name: String, ordered: DataFrame): DataFrame = {
      val w = Window.partitionBy("side").orderBy(
        if (name == "pos") col("ratio_micro").desc else col("ratio_micro").asc,
        col("word"))
      ordered.limit(DigestK)
        .withColumn("side", lit(name))
        .withColumn("rank", row_number().over(w).cast("bigint"))
    }
    val pos = side("pos", ratios.orderBy(col("ratio_micro").desc, col("word")))
    val neg = side("neg", ratios.orderBy(col("ratio_micro").asc, col("word")))
    pos.unionByName(neg)
      .select("side", "rank", "word", "c_pos", "c_neg", "ratio_micro")
      .orderBy("side", "rank")
  }

  /** Corpus-wide calibration: every doc re-scored under the trained model
    * and cross-tabbed against its proxy tercile — head should read mostly
    * positive, tail mostly negative, and the held-out middle band splits.
    * Rows: (bucket, predicted) with doc count and exact mean score. */
  def classifierConfusion(spark: SparkSession, dir: String): DataFrame = {
    val (docTerm, buckets) = pieces(spark, dir)
    val (ratios, scal) = fit(spark, dir, docTerm, buckets)
    val scored = scoreByJoin(docTerm, ratios, scal)
    scored.join(buckets.select("doc_id", "bucket"), "doc_id")
      .withColumn("predicted", when(col("score_micro") > DecisionMicro, "pos").otherwise("neg"))
      .groupBy("bucket", "predicted")
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(CAST(score_micro AS DECIMAL(38,0))) div count(1) AS BIGINT)")
          .as("mean_score_micro"))
      .orderBy("bucket", "predicted")
  }

  /** Per-doc scoring via the vocab-keyed JOIN shape (the scale path: the
    * ratio table shuffles by word, never broadcasts with the corpus). */
  private def scoreByJoin(docTerm: DataFrame, ratios: DataFrame,
      scal: DataFrame): DataFrame =
    docTerm
      .join(ratios.select("word", "ratio_micro"), Seq("word"), "left")
      .crossJoin(broadcast(scal.select("unseen_micro")))
      .withColumn("r", coalesce(col("ratio_micro"), col("unseen_micro")))
      .groupBy("doc_id")
      .agg(expr("CAST(sum(CAST(tf AS DECIMAL(38,0)) * r) div sum(tf) AS BIGINT)")
        .as("score_micro"))

  /** Per-doc trained scores through the join shape — the referee frame the
    * streaming twin's row-local map scoring is spec-compared against. */
  private[graft] def perDocScores(spark: SparkSession, dir: String): DataFrame = {
    val (docTerm, buckets) = pieces(spark, dir)
    val (ratios, scal) = fit(spark, dir, docTerm, buckets)
    scoreByJoin(docTerm, ratios, scal)
  }

  /** The trained model FROZEN as one broadcastable row: a word→ratio map
    * plus the smoothed unseen fallback — the side input the streaming twin
    * scores against (the StreamingIvfMaintenance frozen-centroid
    * precedent). Vocab-bounded (Zipf), never corpus-sized. */
  def modelRow(spark: SparkSession, dir: String): DataFrame = {
    val (docTerm, buckets) = pieces(spark, dir)
    val (ratios, scal) = fit(spark, dir, docTerm, buckets)
    ratios
      .agg(map_from_entries(collect_list(struct(col("word"), col("ratio_micro"))))
        .as("model"))
      .crossJoin(broadcast(scal.select("unseen_micro")))
  }

  /** MODEL-REFRESH DRIFT (the `version_drift` / `pipeline_release_diff`
    * discipline applied to the TRAINED MODEL): retrain the classifier on
    * the corpus a curation pass would actually ship ([[TextAnalysis.qualityPrune]]'s
    * keep set) under FROZEN labels, and emit the words whose evidence moved
    * most — per word, both versions' class counts, both smoothed ratios,
    * and the signed micro delta, top-k by |delta|. This is the governance
    * read before a model refresh deploys: did removing 30% of the training
    * docs change what "quality" looks like, and through which words?
    * Labels are deliberately frozen (the tercile policy is v1's): the row
    * isolates the effect of DATA removal on the model, not of a label
    * policy change — refreshing both at once would confound the diff.
    *
    * 100 TB shape: the labeled (doc, word) tf frame is built ONCE and feeds
    * both fits (lazy checkpoint); the keep filter joins doc-keyed BEFORE
    * the word aggregate, so v2's fit costs one more vocab-sized aggregate,
    * not a second tokenization; the diff join is vocab⨝vocab on the word
    * key and the top-k is TakeOrdered. */
  def classifierDrift(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val (docTerm, buckets) = pieces(spark, dir)
    val labeled = buckets.filter(col("bucket").isin("head", "tail"))
      .select(col("doc_id"), (col("bucket") === "head").as("pos"))
    val keep = TextAnalysis.qualityPrune(spark, dir)
      .filter(col("keep")).select("doc_id")
    // v1 side IS the memoized fit's class-count table
    val cls1 = classCounts(spark, dir, docTerm, buckets)
      .select(col("word"), col("c_pos").as("c_pos1"), col("c_neg").as("c_neg1"))
    val cls2 = docTerm.join(labeled, "doc_id").join(keep, "doc_id").groupBy("word").agg(
      sum(when(col("pos"), col("tf")).otherwise(0L)).as("c_pos2"),
      sum(when(!col("pos"), col("tf")).otherwise(0L)).as("c_neg2"))
    val s1 = cls1.agg(sum("c_pos1").as("tp1"), sum("c_neg1").as("tn1"),
      count(lit(1)).as("v1"))
    val s2 = cls2.agg(sum("c_pos2").as("tp2"), sum("c_neg2").as("tn2"),
      count(lit(1)).as("v2"))
    cls1.join(cls2, Seq("word"), "left")
      .na.fill(0L, Seq("c_pos2", "c_neg2"))
      .crossJoin(broadcast(s1)).crossJoin(broadcast(s2))
      .withColumn("ratio_v1_micro", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * (c_pos1 + 1) * (tn1 + v1))
          | div ((CAST(c_neg1 AS DECIMAL(38,0)) + 1) * (tp1 + v1)) AS BIGINT)"""
          .stripMargin.replace("\n", "")))
      .withColumn("ratio_v2_micro", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * (c_pos2 + 1) * (tn2 + v2))
          | div ((CAST(c_neg2 AS DECIMAL(38,0)) + 1) * (tp2 + v2)) AS BIGINT)"""
          .stripMargin.replace("\n", "")))
      .withColumn("delta_micro", col("ratio_v2_micro") - col("ratio_v1_micro"))
      .orderBy(abs(col("delta_micro")).desc, col("word"))
      .limit(k)
      .select("word", "c_pos1", "c_neg1", "c_pos2", "c_neg2",
        "ratio_v1_micro", "ratio_v2_micro", "delta_micro")
  }

  def classifierDriftOracle(k: Int = 20): String =
    s"""$oracleChain, keep2 AS (
       |  SELECT doc_id FROM (${TextAnalysis.qualityPruneOracle()}) t WHERE keep
       |), labdt AS (
       |  SELECT dt.doc_id, dt.word, dt.tf, lab.pos FROM dt JOIN lab USING (doc_id)
       |), cls2 AS (
       |  SELECT word,
       |    CAST(sum(CASE WHEN pos THEN tf ELSE 0 END) AS BIGINT) AS c_pos2,
       |    CAST(sum(CASE WHEN NOT pos THEN tf ELSE 0 END) AS BIGINT) AS c_neg2
       |  FROM labdt JOIN keep2 USING (doc_id) GROUP BY word
       |), s2 AS (
       |  SELECT CAST(sum(c_pos2) AS BIGINT) AS tp2,
       |    CAST(sum(c_neg2) AS BIGINT) AS tn2,
       |    CAST(count(*) AS BIGINT) AS v2
       |  FROM cls2
       |), diff AS (
       |  SELECT c1.word, c1.c_pos AS c_pos1, c1.c_neg AS c_neg1,
       |    coalesce(c2.c_pos2, 0) AS c_pos2, coalesce(c2.c_neg2, 0) AS c_neg2,
       |    r.ratio_micro AS ratio_v1_micro,
       |    CAST((CAST(1000000 AS HUGEINT) * (coalesce(c2.c_pos2, 0) + 1) * (s2.tn2 + s2.v2))
       |      // ((CAST(coalesce(c2.c_neg2, 0) AS HUGEINT) + 1) * (s2.tp2 + s2.v2)) AS BIGINT)
       |      AS ratio_v2_micro
       |  FROM cls c1
       |  LEFT JOIN cls2 c2 USING (word)
       |  JOIN ratio r USING (word)
       |  CROSS JOIN s2
       |)
       |SELECT word, c_pos1, c_neg1, c_pos2, c_neg2, ratio_v1_micro, ratio_v2_micro,
       |  ratio_v2_micro - ratio_v1_micro AS delta_micro
       |FROM diff
       |ORDER BY abs(ratio_v2_micro - ratio_v1_micro) DESC, word LIMIT $k""".stripMargin

  /** Shared oracle chain: the full CCNet-tercile replay embedded as a
    * derived table (ONE copy of that policy —
    * [[TextAnalysis.unigramSurprisalOracle]] verbatim, so the label side can
    * never drift from the gated `docs_ccnet_buckets` row), then the
    * closed-form NB fit. */
  private def oracleChain: String =
    s"""WITH buckets AS (
       |  SELECT * FROM (${TextAnalysis.unigramSurprisalOracle})
       |), dt AS (
       |  SELECT doc_id, w.word, count(*) AS tf
       |  FROM documents, unnest(string_split(text, ' ')) AS w(word)
       |  WHERE w.word != ''
       |  GROUP BY doc_id, w.word
       |), lab AS (
       |  SELECT doc_id, bucket = 'head' AS pos FROM buckets
       |  WHERE bucket IN ('head', 'tail')
       |), cls AS (
       |  SELECT dt.word,
       |    CAST(sum(CASE WHEN pos THEN tf ELSE 0 END) AS BIGINT) AS c_pos,
       |    CAST(sum(CASE WHEN NOT pos THEN tf ELSE 0 END) AS BIGINT) AS c_neg
       |  FROM dt JOIN lab USING (doc_id) GROUP BY dt.word
       |), scal AS (
       |  SELECT CAST(sum(c_pos) AS BIGINT) AS tot_pos,
       |    CAST(sum(c_neg) AS BIGINT) AS tot_neg,
       |    CAST(count(*) AS BIGINT) AS v,
       |    CAST((CAST(1000000 AS HUGEINT) * (sum(c_neg) + count(*)))
       |      // (sum(c_pos) + count(*)) AS BIGINT) AS unseen_micro
       |  FROM cls
       |), ratio AS (
       |  SELECT word, c_pos, c_neg,
       |    CAST((CAST(1000000 AS HUGEINT) * (c_pos + 1) * (tot_neg + v))
       |      // ((CAST(c_neg AS HUGEINT) + 1) * (tot_pos + v)) AS BIGINT) AS ratio_micro
       |  FROM cls, scal
       |)""".stripMargin

  val classifierTrainOracle: String =
    s"""$oracleChain, ranked AS (
       |  SELECT 'pos' AS side,
       |    CAST(row_number() OVER (ORDER BY ratio_micro DESC, word) AS BIGINT) AS rank,
       |    word, c_pos, c_neg, ratio_micro
       |  FROM ratio
       |  UNION ALL
       |  SELECT 'neg' AS side,
       |    CAST(row_number() OVER (ORDER BY ratio_micro ASC, word) AS BIGINT) AS rank,
       |    word, c_pos, c_neg, ratio_micro
       |  FROM ratio
       |)
       |SELECT side, rank, word, c_pos, c_neg, ratio_micro
       |FROM ranked WHERE rank <= $DigestK
       |ORDER BY side, rank""".stripMargin

  /** Per-doc trained scores as a standalone oracle query — the label CTE
    * other oracles (the filter-agreement matrix) embed to re-derive the
    * classifier's admit flag without drifting from the gated chain. */
  val perDocScoresOracle: String =
    s"""$oracleChain
       |SELECT dt.doc_id,
       |  CAST(sum(CAST(dt.tf AS HUGEINT) * coalesce(r.ratio_micro, scal.unseen_micro))
       |    // sum(dt.tf) AS BIGINT) AS score_micro
       |FROM dt LEFT JOIN ratio r ON r.word = dt.word CROSS JOIN scal
       |GROUP BY dt.doc_id""".stripMargin

  val classifierConfusionOracle: String =
    s"""$oracleChain, scored AS (
       |  SELECT dt.doc_id,
       |    CAST(sum(CAST(dt.tf AS HUGEINT) * coalesce(r.ratio_micro, scal.unseen_micro))
       |      // sum(dt.tf) AS BIGINT) AS score_micro
       |  FROM dt LEFT JOIN ratio r ON r.word = dt.word CROSS JOIN scal
       |  GROUP BY dt.doc_id
       |)
       |SELECT b.bucket,
       |  CASE WHEN s.score_micro > $DecisionMicro THEN 'pos' ELSE 'neg' END AS predicted,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CAST(s.score_micro AS HUGEINT)) // count(*) AS BIGINT) AS mean_score_micro
       |FROM scored s JOIN buckets b USING (doc_id)
       |GROUP BY b.bucket, predicted
       |ORDER BY b.bucket, predicted""".stripMargin

  // --------------------------------------------------- ROC-AUC (exact)
  /** EXACT ROC-AUC of the trained scores against their own proxy tercile
    * labels, PER LANGUAGE (VERDICT r14 #5) — the measured quality number
    * for the model [[TextAnalysis.trainingManifest]] now gates admission
    * on: the probability that a random head-labeled doc outscores a random
    * tail-labeled doc under the trained model, ties counting half, as an
    * exact integer micro-fraction. Uses the engine's Mann–Whitney
    * machinery ([[graft.operators.EventOps.weekendRankTest]]'s
    * grouped-midrank trick): over DISTINCT (lang, score) rows,
    * `midrank₂ = 2·below + cnt + 1`, `2U = Σ_pos midrank₂ − n_pos·(n_pos+1)`,
    * and `auc_micro = 10⁶·U / (n_pos·n_neg)` by floor division — no libm,
    * both engines bit-identical. A language whose labels are one-sided
    * (no head or no tail docs) is excluded: AUC is undefined there.
    *
    * This is IN-SAMPLE AUC by design: it measures the distillation
    * residual — how separably the closed-form fit ranks its own proxy
    * labels (1.0 would mean the bag-of-words model can linearly shatter
    * the tercile cut; the gap from 1.0 is what the manifest's gate #4
    * actually costs/filters). Held-out behavior is the drift and
    * agreement rows' job.
    *
    * 100 TB shape: scoring reuses the memoized tokenize-once artifact and
    * the vocab-keyed ratio join; the rank window runs per LANGUAGE over
    * the grouped score-VALUE frame (score domain ≪ docs), never a global
    * sort. u2 is computed in DECIMAL(38,0) (2U ≤ 2·n_pos·n_neg wraps
    * int64 past ~3·10⁹ labeled docs per language) and floored back to
    * BIGINT only at output. */
  def classifierAuc(spark: SparkSession, dir: String): DataFrame = {
    val (docTerm, buckets) = pieces(spark, dir)
    val (ratios, scal) = fit(spark, dir, docTerm, buckets)
    aucFrom(scoreByJoin(docTerm, ratios, scal), buckets)
  }

  private def aucFrom(scored: DataFrame, buckets: DataFrame): DataFrame = {
    val labeled = scored
      .join(buckets.filter(col("bucket").isin("head", "tail"))
        .select("doc_id", "lang", "bucket"), "doc_id")
    val grp = labeled.groupBy(col("lang"), col("score_micro").as("s"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("pos_cnt"))
    val w = Window.partitionBy("lang").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    grp
      .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("midrank2", lit(2L) * col("below") + col("cnt") + 1)
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n"),
        sum(col("pos_cnt")).as("n_pos"),
        sum(col("pos_cnt").cast("decimal(38,0)") * col("midrank2")).as("sum_mr2"))
      .filter(col("n_pos") > 0 && col("n") > col("n_pos"))
      .select(col("lang"), col("n_pos"), (col("n") - col("n_pos")).as("n_neg"),
        expr("CAST(sum_mr2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) AS BIGINT)").as("u2"),
        expr("""CAST(((sum_mr2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000)
               | div (CAST(2 AS DECIMAL(38,0)) * n_pos * (n - n_pos)) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("auc_micro"))
      .orderBy("lang")
  }

  /** Shared Mann–Whitney tail: grouped midranks → per-language U → AUC
    * micro-fraction. Expects a `labeled(lang, s, pos)` CTE upstream; every
    * AUC oracle (in-sample, held-out, binned) appends this, so the rank
    * algebra exists in exactly one copy. */
  private val aucTailSql: String =
    s""", grp AS (
       |  SELECT lang, s, count(*) AS cnt,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_cnt
       |  FROM labeled GROUP BY lang, s
       |), mr AS (
       |  SELECT lang, cnt, pos_cnt,
       |    2 * COALESCE(sum(cnt) OVER (PARTITION BY lang ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1 AS midrank2
       |  FROM grp
       |), agg AS (
       |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n,
       |    CAST(sum(pos_cnt) AS BIGINT) AS n_pos,
       |    sum(CAST(pos_cnt AS HUGEINT) * midrank2) AS sum_mr2
       |  FROM mr GROUP BY lang
       |)
       |SELECT lang, n_pos, n - n_pos AS n_neg,
       |  CAST(sum_mr2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT) AS u2,
       |  CAST(((sum_mr2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000)
       |    // (2 * CAST(n_pos AS HUGEINT) * (n - n_pos)) AS BIGINT) AS auc_micro
       |FROM agg WHERE n_pos > 0 AND n > n_pos
       |ORDER BY lang""".stripMargin

  val classifierAucOracle: String =
    s"""$oracleChain, scored AS (
       |  SELECT dt.doc_id,
       |    CAST(sum(CAST(dt.tf AS HUGEINT) * coalesce(r.ratio_micro, scal.unseen_micro))
       |      // sum(dt.tf) AS BIGINT) AS score_micro
       |  FROM dt LEFT JOIN ratio r ON r.word = dt.word CROSS JOIN scal
       |  GROUP BY dt.doc_id
       |), labeled AS (
       |  SELECT b.lang, s.score_micro AS s, b.bucket = 'head' AS pos
       |  FROM scored s JOIN buckets b USING (doc_id)
       |  WHERE b.bucket IN ('head', 'tail')
       |)$aucTailSql""".stripMargin

  // --------------------------------------------- held-out ROC-AUC (r16)
  /** TRAIN-split class counts: the fit's aggregate restricted to the
    * deterministic hash-split 80 % bucket — a pure hash projection folded
    * into the label join (no second tokenization, one extra vocab-sized
    * aggregate), memoized beside the full-corpus fit. */
  private def classCountsTrain(spark: SparkSession, dir: String,
      docTerm: DataFrame, buckets: DataFrame): DataFrame =
    StageMemo(spark, dir, "nb_cls_tr") {
      val labeledTrain = buckets
        .filter(col("bucket").isin("head", "tail"))
        .filter(TextAnalysis.mixedHash("split|") % 100 < 80)
        .select(col("doc_id"), (col("bucket") === "head").as("pos"))
      docTerm.join(labeledTrain, "doc_id")
        .groupBy("word")
        .agg(sum(when(col("pos"), col("tf")).otherwise(0L)).as("c_pos"),
          sum(when(!col("pos"), col("tf")).otherwise(0L)).as("c_neg"))
    }

  /** HELD-OUT ROC-AUC (VERDICT r15 #2): the classifier re-fit on ONLY the
    * deterministic hash-split TRAIN docs ([[TextAnalysis.trainSplit]]'s
    * 80 % bucket — the trigram-backoff fit-on-train cadence) and scored on
    * ONLY the TEST docs (the 10 % bucket the fit never saw), Mann–Whitney
    * AUC'd per language against the frozen proxy terciles. The
    * generalization number beside [[classifierAuc]]'s in-sample
    * distillation residual: the training manifest admits documents on this
    * model family's verdict, so its held-out ranking power is a gated
    * artifact, not an assumption. Labels stay the full-corpus terciles ON
    * PURPOSE (the [[classifierDrift]] frozen-label discipline) — the row
    * isolates fit-set reduction, not label-policy change.
    *
    * 100 TB shape: same memoized tokenize-once artifact feeds both fits;
    * the train filter is a hash projection inside the class-count
    * aggregate; scoring's vocab-keyed join runs over the 10 % test slice
    * only; the rank window keeps the grouped-score-value bound (and
    * [[classifierAucBinned]] is the fixed-bin twin of that window). */
  def classifierAucHeldout(spark: SparkSession, dir: String): DataFrame = {
    val (docTerm, buckets) = pieces(spark, dir)
    val (ratios, scal) = fitFrom(classCountsTrain(spark, dir, docTerm, buckets))
    val testIds = buckets
      .filter(TextAnalysis.mixedHash("split|") % 100 >= 90)
      .select("doc_id")
    aucFrom(scoreByJoin(docTerm.join(testIds, "doc_id"), ratios, scal), buckets)
  }

  val classifierAucHeldoutOracle: String =
    s"""$oracleChain, sb100 AS (
       |  SELECT doc_id,
       |    ${TextAnalysis.mixedHashSql("split|", "doc_id").linesIterator.mkString("\n|    ")} % 100 AS sb
       |  FROM documents
       |), lab_tr AS (
       |  SELECT l.doc_id, l.pos FROM lab l JOIN sb100 USING (doc_id) WHERE sb100.sb < 80
       |), cls_tr AS (
       |  SELECT dt.word,
       |    CAST(sum(CASE WHEN pos THEN tf ELSE 0 END) AS BIGINT) AS c_pos,
       |    CAST(sum(CASE WHEN NOT pos THEN tf ELSE 0 END) AS BIGINT) AS c_neg
       |  FROM dt JOIN lab_tr USING (doc_id) GROUP BY dt.word
       |), scal_tr AS (
       |  SELECT CAST(sum(c_pos) AS BIGINT) AS tot_pos,
       |    CAST(sum(c_neg) AS BIGINT) AS tot_neg,
       |    CAST(count(*) AS BIGINT) AS v,
       |    CAST((CAST(1000000 AS HUGEINT) * (sum(c_neg) + count(*)))
       |      // (sum(c_pos) + count(*)) AS BIGINT) AS unseen_micro
       |  FROM cls_tr
       |), ratio_tr AS (
       |  SELECT word,
       |    CAST((CAST(1000000 AS HUGEINT) * (c_pos + 1) * (tot_neg + v))
       |      // ((CAST(c_neg AS HUGEINT) + 1) * (tot_pos + v)) AS BIGINT) AS ratio_micro
       |  FROM cls_tr, scal_tr
       |), scored AS (
       |  SELECT dt.doc_id,
       |    CAST(sum(CAST(dt.tf AS HUGEINT) * coalesce(r.ratio_micro, s.unseen_micro))
       |      // sum(dt.tf) AS BIGINT) AS score_micro
       |  FROM dt JOIN sb100 USING (doc_id)
       |  LEFT JOIN ratio_tr r ON r.word = dt.word CROSS JOIN scal_tr s
       |  WHERE sb100.sb >= 90
       |  GROUP BY dt.doc_id
       |), labeled AS (
       |  SELECT b.lang, s.score_micro AS s, b.bucket = 'head' AS pos
       |  FROM scored s JOIN buckets b USING (doc_id)
       |  WHERE b.bucket IN ('head', 'tail')
       |)$aucTailSql""".stripMargin

  /** BINNED deployed twin of [[classifierAuc]] (VERDICT r15 #5): the same
    * Mann–Whitney midrank algebra, but ranks run over the FIXED
    * [[CalibrationBinMicro]] calibration bins instead of distinct score
    * values — the per-language window then touches ≤ 10 rows at ANY
    * corpus size (on a genuinely diverse corpus the distinct-score domain
    * grows with the corpus, making [[aucFrom]]'s window a wide-sort seam;
    * this is the bounded production form, the `classifyByThreshold`
    * cadence). Ties inside a bin count half, so the binned AUC is the
    * exact AUC of the coarsened score — a documented lower-resolution
    * statistic, not an approximation with hidden error. */
  def classifierAucBinned(spark: SparkSession, dir: String): DataFrame = {
    val (docTerm, buckets) = pieces(spark, dir)
    val (ratios, scal) = fit(spark, dir, docTerm, buckets)
    val binned = scoreByJoin(docTerm, ratios, scal)
      .withColumn("score_micro",
        least(greatest(expr(s"score_micro div $CalibrationBinMicro"),
          lit(CalibrationMinBin)), lit(CalibrationMaxBin)))
    aucFrom(binned, buckets)
  }

  val classifierAucBinnedOracle: String =
    s"""$oracleChain, scored AS (
       |  SELECT dt.doc_id,
       |    CAST(sum(CAST(dt.tf AS HUGEINT) * coalesce(r.ratio_micro, scal.unseen_micro))
       |      // sum(dt.tf) AS BIGINT) AS score_micro
       |  FROM dt LEFT JOIN ratio r ON r.word = dt.word CROSS JOIN scal
       |  GROUP BY dt.doc_id
       |), labeled AS (
       |  SELECT b.lang,
       |    least(greatest(s.score_micro // $CalibrationBinMicro, $CalibrationMinBin), $CalibrationMaxBin) AS s,
       |    b.bucket = 'head' AS pos
       |  FROM scored s JOIN buckets b USING (doc_id)
       |  WHERE b.bucket IN ('head', 'tail')
       |)$aucTailSql""".stripMargin

  // ------------------------------------------------- calibration bins
  /** Score-bin geometry for [[classifierCalibration]]: the tf-weighted
    * MEAN likelihood ratio concentrates near the neutral point 10⁶ (a
    * doc's words mostly carry mild evidence), so wide bins collapse the
    * table — fixed 25 000-micro bins across the ±~10% band around
    * neutral, both ends clamped open (≤ 10 rows at any corpus size).
    * [[DecisionMicro]] sits exactly on a bin edge, so the table reads
    * directly against the admission rule. (The three bin constants are
    * declared at the top of the object — initialization order.) */

  /** CALIBRATION TABLE (VERDICT r14 #5's second half) — the trained
    * score's reliability read: labeled docs bucketed into fixed
    * [[CalibrationBinMicro]]-wide score bins, each bin reporting how many
    * docs landed there, how many were actually head-labeled, and the
    * exact micro-fraction — a well-calibrated monotone model shows
    * pos_micro rising with the bin. Bounded output (≤ 10 rows: clamped
    * bins 36..45 inclusive) from one
    * conditional aggregate over the labeled-score frame; everything
    * integer-exact. */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val (docTerm, buckets) = pieces(spark, dir)
    val (ratios, scal) = fit(spark, dir, docTerm, buckets)
    scoreByJoin(docTerm, ratios, scal)
      .join(buckets.filter(col("bucket").isin("head", "tail"))
        .select("doc_id", "bucket"), "doc_id")
      .withColumn("bin",
        least(greatest(expr(s"score_micro div $CalibrationBinMicro"),
          lit(CalibrationMinBin)), lit(CalibrationMaxBin)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("n_pos"),
        expr("CAST(sum(CAST(score_micro AS DECIMAL(38,0))) div count(1) AS BIGINT)")
          .as("mean_score_micro"))
      .withColumn("pos_micro", expr("(n_pos * 1000000) div n_docs"))
      .select((col("bin") * CalibrationBinMicro).as("bin_lo_micro"),
        col("n_docs"), col("n_pos"), col("pos_micro"), col("mean_score_micro"))
      .orderBy("bin_lo_micro")
  }

  val classifierCalibrationOracle: String =
    s"""$oracleChain, scored AS (
       |  SELECT dt.doc_id,
       |    CAST(sum(CAST(dt.tf AS HUGEINT) * coalesce(r.ratio_micro, scal.unseen_micro))
       |      // sum(dt.tf) AS BIGINT) AS score_micro
       |  FROM dt LEFT JOIN ratio r ON r.word = dt.word CROSS JOIN scal
       |  GROUP BY dt.doc_id
       |), binned AS (
       |  SELECT least(greatest(s.score_micro // $CalibrationBinMicro, $CalibrationMinBin), $CalibrationMaxBin) AS bin,
       |    s.score_micro, b.bucket = 'head' AS pos
       |  FROM scored s JOIN buckets b USING (doc_id)
       |  WHERE b.bucket IN ('head', 'tail')
       |)
       |SELECT CAST(bin * $CalibrationBinMicro AS BIGINT) AS bin_lo_micro,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST((sum(CASE WHEN pos THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS pos_micro,
       |  CAST(sum(CAST(score_micro AS HUGEINT)) // count(*) AS BIGINT) AS mean_score_micro
       |FROM binned GROUP BY bin
       |ORDER BY bin_lo_micro""".stripMargin
}

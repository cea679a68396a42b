package graft.cli

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Linearity probe for the 100 TB claims (SCALE.md): times the three heavy
  * corpus builds — the near-dup pipeline ([[graft.operators.Dedup.buildPipeline]]),
  * the span-family gram stage ([[graft.operators.TextAnalysis.buildSpanStage]]),
  * and the training manifest ([[graft.operators.TextAnalysis.trainingManifest]]) —
  * at 1× and `factor`× a seeded synthetic corpus, and reports the measured
  * scaling exponent per build (`ln(T_f / T_1) / ln(factor)`; 1.0 = linear).
  *
  * Corpus construction keeps the DATA CHARACTERISTICS fixed while n grows:
  * replica k of the base documents table shifts `doc_id` by k·10⁷ (clear of
  * the +10⁶ near-dup planting offset) and applies a per-replica letter
  * rotation to `text` (`translate`, k = rotation). Rotation preserves
  * length, token boundaries, and within-replica near-dup structure exactly,
  * while making cross-replica shingle overlap ~zero — so LSH bucket sizes,
  * verified-pair density, and per-doc work are IDENTICAL per replica and
  * total volume scales exactly ×k. A naive "replicate the rows" corpus
  * would instead inflate near-dup clusters quadratically and measure a
  * data-shape change, not engine scaling.
  *
  * The EMBEDDING family (VERDICT r8 #5) probes [[graft.operators.Similarity.semDedup]]
  * (auto-k cell policy included — the thing whose linearity is claimed) and
  * [[graft.operators.Similarity.ivfPqTopK]] the same way: replica k of the
  * embeddings table shifts `vec_id` by k·10⁷, offsets `label` by k, and
  * CYCLICALLY ROTATES the embedding DIMENSIONS by k — the vector analog of
  * the letter rotation: intra-replica geometry (norms, dots, near-dup
  * structure) is preserved exactly, while cross-replica vectors decorrelate,
  * so cells/buckets grow in COUNT with n rather than in size (naive row
  * replication would stack every copy of a vector into the same SemDeDup
  * cell and measure a quadratic data-shape change, not engine scaling).
  *
  * The SNIPS family scales a different axis: the corpus stays FIXED (base
  * fixture, written once per factor dir for parity) while the automaton's
  * PATTERN COUNT grows 1000×factor — the claim under test is that
  * [[graft.functions.MultiLiteral.MultiLiteralCount]]'s per-row cost is
  * O(chars + matches), independent of K, so the expected exponent is ~0
  * (the old `filter(snips, contains)` loop would read ~1.0: K scans/row).
  *
  * Usage: runMain graft.cli.ScaleProbe [baseSfDir] [outRoot] [factors] [reps] [family] [onlyBuilds]
  * `factors` is comma-separated (e.g. `1,10,20`; all ≤26 so letter rotations
  * stay distinct); `family` is `docs`, `emb`, `prof`, `ppj`, `stats`,
  * `snips`, or `all` (default; `snips` runs only when named). Writes
  * corpora under outRoot (NOT /root/testdata) and prints a markdown table +
  * one JSON line for SCALE.md. The consecutive-pair exponent between the two
  * LARGEST factors is the asymptotic slope — the 1× point is fixed-overhead
  * dominated on 32 idle cores and measures overhead amortization, not
  * marginal cost.
  */
object ScaleProbe {

  private[cli] val ReplicaSpacing = 10000000L // > Dedup.IdOffset + any fixture id
  private[cli] val Lower = "abcdefghijklmnopqrstuvwxyz"
  private[cli] val Upper = Lower.toUpperCase

  private[cli] def rotated(s: String, k: Int): String = {
    val n = s.length
    val r = ((k % n) + n) % n
    s.substring(r) + s.substring(0, r)
  }

  /** `factor` deterministic replicas of the base documents table. */
  private[cli] def replicate(base: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      base.select(
        (col("doc_id") + lit(k * ReplicaSpacing)).as("doc_id"),
        (if (k == 0) col("text")
         else translate(col("text"), Lower + Upper,
           rotated(Lower, k) + rotated(Upper, k))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)

  /** `factor` deterministic replicas of the embeddings table: ids shifted,
    * labels offset, dimensions cyclically rotated by k (see Scaladoc). */
  private[cli] def replicateEmb(base: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      base.select(
        (col("vec_id") + lit(k * ReplicaSpacing)).as("vec_id"),
        (if (k == 0) col("embedding")
         else concat(
           slice(col("embedding"), lit(k + 1), size(col("embedding")) - k),
           slice(col("embedding"), lit(1), lit(k)))).as("embedding"),
        (col("label") + lit(k)).as("label"))
    }.reduce(_ unionAll _)

  /** Id-shift-only document replication (NO letter rotation): the
    * vocabulary stays FIXED while corpus rows grow ×factor — the
    * production BPE-training regime (corpus ≫ vocab), the axis on which
    * the trainer's merge rounds must be corpus-independent. (The rotated
    * [[replicate]] grows the vocab ×factor with the corpus, which is the
    * wrong fixture for a vocab-boundedness claim.) */
  private[cli] def replicateUnrotated(base: DataFrame, factor: Int): DataFrame =
    (0 until factor).map(k =>
      base.withColumn("doc_id", col("doc_id") + lit(k * ReplicaSpacing)))
      .reduce(_ unionAll _)

  /** `factor` deterministic replicas of lineitem: fact keys (l_orderkey)
    * shift per replica so key cardinality grows ×k, while dimension keys
    * and measure distributions stay fixed — the realistic lake-growth shape
    * (facts accumulate, dimension domains saturate). Row replication is the
    * RIGHT corpus here, unlike the dedup families: profile cost is per-row
    * scan + sketch update with no pairwise term to distort. */
  private[cli] def replicateLineitem(base: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      base.withColumn("l_orderkey", col("l_orderkey") + lit(k * ReplicaSpacing))
    }.reduce(_ unionAll _)

  /** `factor` deterministic replicas of events: event/user ids shift per
    * replica, ts and event_type stay — facts accumulate while the HOUR and
    * TYPE domains saturate, which is exactly the regime the rank-test /
    * Kendall / Gini scale claims rest on (their joins and windows run over
    * the grouped-VALUE frame, bounded by the domain, never by rows). */
  private[cli] def replicateEvents(base: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      base.withColumn("event_id", col("event_id") + lit(k * ReplicaSpacing))
        .withColumn("user_id", col("user_id") + lit(k * ReplicaSpacing))
    }.reduce(_ unionAll _)

  private def timeIt(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val factors = (if (args.length > 2) args(2) else "1,10").split(",").map(_.trim.toInt).toSeq
    val reps    = if (args.length > 3) args(3).toInt else 2
    val family  = if (args.length > 4) args(4) else "all"
    // optional comma-separated build-name filter (args(5)): probe only the
    // named builds within the family — lets a new build be measured without
    // re-timing the whole family's already-recorded rows
    val only: Set[String] =
      if (args.length > 5) args(5).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    require(factors.forall(f => f >= 1 && f <= 26) && factors == factors.sorted,
      "factors must be ascending and ≤26 (letter rotations must stay distinct)")
    require(Set("docs", "emb", "prof", "ppj", "stats", "snips", "bpe", "bpek",
      "dsir", "nbq", "lm", "all")(family),
      s"unknown family: $family")
    val spark = GraftSession.local()

    val sizes = factors
    val doSnips = family == "snips"
    val doDocs = family == "docs" || family == "ppj" || family == "all"
    val doEmb = family == "emb" || family == "all"
    val doProf = family == "prof" || family == "all"
    val doStats = family == "stats" || family == "all"
    // all corpora are written by the SAME writer at the same parallelism,
    // so the 1× run is not advantaged by the fixture's single-file layout
    if (doDocs) {
      val base = spark.read.parquet(s"$baseDir/documents.parquet")
      sizes.foreach { s =>
        replicate(base, s).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/documents.parquet")
      }
    }
    if (doEmb) {
      val baseEmb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      sizes.foreach { s =>
        replicateEmb(baseEmb, s).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/embeddings.parquet")
      }
    }
    if (doProf || doStats) {
      val baseLi = spark.read.parquet(s"$baseDir/lineitem.parquet")
      sizes.foreach { s =>
        replicateLineitem(baseLi, s).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/lineitem.parquet")
      }
    }
    if (doStats) {
      val baseEv = spark.read.parquet(s"$baseDir/events.parquet")
      sizes.foreach { s =>
        replicateEvents(baseEv, s).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/events.parquet")
      }
      // cramers_v also reads orders + documents: replicate with shifted keys
      // (facts accumulate, categorical domains saturate — the r×c grid is
      // FIXED while n grows, which is the claim the exponent verifies)
      val baseOrd = spark.read.parquet(s"$baseDir/orders.parquet")
      val baseDoc = spark.read.parquet(s"$baseDir/documents.parquet")
      // deletion_cascade walks customer → orders → lineitem: lineitem
      // replicates with the SAME orderkey shift as orders (the FK chain
      // stays intact per replica); customer copies UNREPLICATED — the
      // purge-list dimension saturates while facts accumulate, exactly
      // the regime the cascade's broadcast claim rests on
      val baseLi2 = spark.read.parquet(s"$baseDir/lineitem.parquet")
      val baseCust = spark.read.parquet(s"$baseDir/customer.parquet")
      sizes.foreach { s =>
        (0 until s).map(k => baseOrd.withColumn("o_orderkey",
            col("o_orderkey") + lit(k * ReplicaSpacing)))
          .reduce(_ unionAll _).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/orders.parquet")
        replicate(baseDoc, s).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/documents.parquet")
        replicateLineitem(baseLi2, s).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/lineitem.parquet")
        baseCust.write.mode("overwrite").parquet(s"$outRoot/x$s/customer.parquet")
      }
    }
    if (doSnips) {
      // corpus FIXED across factors — the probe axis is pattern count
      val base = spark.read.parquet(s"$baseDir/documents.parquet")
      sizes.foreach { s =>
        base.repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/documents.parquet")
      }
    }
    if (family == "bpe") {
      // corpus axis under a FIXED vocabulary (unrotated replicas): the
      // trainer's scan must be ~linear and its k rounds corpus-independent
      val base = spark.read.parquet(s"$baseDir/documents.parquet")
      sizes.foreach { s =>
        replicateUnrotated(base, s).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/documents.parquet")
      }
    }
    if (Set("dsir", "lm")(family)) {
      // ROTATED replicas: the (pair-)vocabulary grows ×factor with the
      // corpus — the STRESS fixture for both families' boundedness claims:
      // DSIR's hashed model must stay NumBuckets rows no matter how many
      // distinct n-grams exist, and the LM's (pair-)vocab-keyed joins must
      // track the scan (Zipf-bounded per replica), never the vocab
      val base = spark.read.parquet(s"$baseDir/documents.parquet")
      sizes.foreach { s =>
        replicate(base, s).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/documents.parquet")
      }
    }
    if (family == "nbq") {
      // UNROTATED replicas: vocab FIXED while rows grow — the production
      // classifier regime (corpus ≫ vocab); the vocab-sized model table and
      // its scoring join must be corpus-independent, cost = the scan
      val base = spark.read.parquet(s"$baseDir/documents.parquet")
      sizes.foreach { s =>
        replicateUnrotated(base, s).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/documents.parquet")
      }
    }
    if (family == "bpek") {
      // corpus FIXED across factors — the probe axis is the merge count k
      val base = spark.read.parquet(s"$baseDir/documents.parquet")
      sizes.foreach { s =>
        base.repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$outRoot/x$s/documents.parquet")
      }
    }
    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM warm-up

    val docBuilds = Seq[(String, String => DataFrame)](
      ("dedup_build", d => graft.operators.Dedup.buildPipeline(spark, d)),
      ("span_build",  d => graft.operators.TextAnalysis.buildSpanStage(spark, d)),
      ("manifest",    d => graft.operators.TextAnalysis.trainingManifest(spark, d)))
    // prefix-filter EXACT join: candidate volume is the scaling risk (the
    // inverted index has no LSH cap) — measured, not argued. Rotated
    // replicas keep per-replica candidate structure identical, so a
    // super-linear slope here would mean cross-replica index pollution
    val ppjBuilds = Seq[(String, String => DataFrame)](
      ("prefix_join", d => graft.operators.Dedup.prefixFilterJoinPairs(spark, d)),
      // the asymmetric twin shares the token stage but joins A-prefixes
      // against the FULL index (no upper length filter exists for
      // containment) — its candidate growth is the thing to measure
      ("containment_join", d => graft.operators.Dedup.containmentJoinPairs(spark, d)))
    // maxId past every replica id: the probe corpus IS the whole table
    // (the fixture default 1000 exists for oracle-comparable gating only)
    val embBuilds = Seq[(String, String => DataFrame)](
      ("semdedup_build", d => graft.operators.Similarity.semDedup(spark, d, maxId = 1L << 60)),
      ("ann_ivfpq", d => graft.operators.Similarity.ivfPqTopK(spark, d)),
      // round-10 batch 4: corr matrix is row-local pair products into a
      // d^2-bounded shuffle; incremental IVF is one broadcast-centroid scan
      // + a per-vector window — both must stay ~linear in corpus size
      ("dim_corr", d => graft.operators.Similarity.dimCorrMatrix(spark, d)),
      ("ivf_incremental", d => graft.operators.Similarity.ivfIncremental(spark, d)),
      // round 11: one scan into a labels×dims-bounded frame — must stay flat
      ("version_drift", d => graft.operators.Similarity.versionDrift(spark, d)),
      // round 11: four already-bucketed index probes + numQueries·k joins;
      // cost must track the legs (index probes), never all-pairs
      ("compression_sweep", d => graft.operators.Similarity.compressionSweep(spark, d)),
      // round 11: one scan, 16 B hash shuffle keys — text exact-dedup's band
      ("exact_vector_dups", d => graft.operators.Similarity.exactVectorDups(spark, d)),
      // round 11: filtered search — the pre-filter leg must track the
      // label-filtered scan (selectivity fixed ⇒ linear in corpus); the
      // post-filter leg rides the IVF probe + the bounded exact twin
      ("filtered_topk", d => graft.operators.Similarity.filteredTopK(spark, d)),
      ("filtered_ivf", d => graft.operators.Similarity.filteredIvfTopK(spark, d)),
      // 4 probe legs + 5 bounded exact twins — must track the legs
      ("filtered_sweep", d => graft.operators.Similarity.filteredNprobeSweep(spark, d)),
      // candidate stage + a k2-per-query unrolled post-pass — must track
      // the candidate scan
      ("mmr_diversify", d => graft.operators.Similarity.mmrDiversify(spark, d)))
    val profBuilds = Seq[(String, String => DataFrame)](
      ("sketch_profile", d => graft.profile.ProfileQueries.sketchProfile(spark, d, "lineitem")),
      ("full_profile",   d => graft.profile.ProfileQueries.fullProfile(spark, d, "lineitem")))
    // exact-statistics family (VERDICT r9 #5): each is one row-linear scan
    // into a DOMAIN-bounded frame (2-D grid, grouped values, distinct
    // values) — the grid join / midrank window / prefix sum that follows
    // must stay flat as rows grow; the exponent verifies it
    val statsBuilds = Seq[(String, String => DataFrame)](
      ("kendall_tau", d => graft.profile.ProfileQueries.kendallTau(spark, d)),
      ("gini_lineitem", d => graft.profile.ProfileQueries.giniProfile(spark, d)),
      ("weekend_ranktest", d => graft.operators.EventOps.weekendRankTest(spark, d)),
      // round-10 exact statistics: the ACF runs on the dense hour spine
      // (domain-bounded) after one row-linear partial agg; V/λ run on the
      // fixed r×c grid after one row-linear cell count
      ("autocorrelation", d => graft.operators.EventOps.autocorrelation(spark, d)),
      ("cramers_v", d => graft.profile.ProfileQueries.cramersV(spark, d)),
      ("gk_lambda", d => graft.profile.ProfileQueries.gkLambda(spark, d)),
      // round-10 batch 2: explode → word-keyed partial agg (vocab grows ×k
      // under replica letter-rotation, so the combine stays per-replica);
      // the bot screen is a per-user partitioned window (users grow ×k,
      // per-user series fixed) — all three must stay ~linear
      ("zipf_profile", d => graft.operators.TextAnalysis.zipfProfile(spark, d)),
      ("lexical_diversity", d => graft.operators.TextAnalysis.lexicalDiversity(spark, d)),
      ("bot_regularity", d => graft.operators.EventOps.botRegularity(spark, d)),
      // batch 3: CDC is explode → per-doc prefix window → two hash
      // rollups (16-byte keys, no pair joins); attribution is a user-keyed
      // equi-join + per-conversion windows — both must stay ~linear
      ("cdc_chunks", d => graft.operators.Dedup.cdcChunks(spark, d)),
      ("attribution", d => graft.operators.EventOps.attribution(spark, d)),
      // round 16: FD mining over orders — the exact form is k(k−1) grouped
      // branches (each ~linear, so the family exponent is ~1 with a k²
      // constant); the SCREENED form is one fused HLL sketch scan plus
      // exact branches for survivors only — same ~1 exponent, and the
      // constant-factor gap between the two rows IS the screen's value
      ("fd_exact", d => graft.profile.ProfileQueries.fdDiscovery(spark, d)),
      ("fd_screened", d => graft.profile.ProfileQueries.fdDiscoveryScreened(spark, d)),
      // batch 5: the distributed part is one lead window + a (cur,nxt)
      // count; the k^2 eigensolve is domain-bounded driver work
      ("markov_stationary", d => graft.operators.EventOps.markovStationary(spark, d)),
      // batch 6 (VERDICT r10 #3): the remaining round-10 depth families.
      // rag_chunks is a per-doc window + chunk explode (row-linear, chunk
      // count ∝ corpus chars); bootstrap_ci is R Poisson-weight passes over
      // one grouped frame (R fixed ⇒ linear); diff-in-diff and the EWMA
      // backtest aggregate to the day/hour spine (domain-bounded) after one
      // row-linear pass; readability is a pure per-row projection + rollup
      ("rag_chunks", d => graft.operators.TextAnalysis.ragChunks(spark, d)),
      ("bootstrap_ci", d => graft.operators.TextAnalysis.bootstrapCi(spark, d)),
      ("diff_in_diff", d => graft.operators.EventOps.diffInDiff(spark, d)),
      ("forecast_ewma", d => graft.operators.EventOps.ewmaBacktest(spark, d)),
      ("readability", d => graft.operators.TextAnalysis.readability(spark, d)),
      // batch 7 (round 11): the curation/release tables. threshold_sweep
      // explodes the (≪ corpus) pair graph ×6; keep_ablation reads
      // manifest flags only; release_report composes materialized stages
      // + broadcast audits; substring_contam is one scan with |snips|
      // row-local probes; shard_manifest writes + re-reads the artifact
      ("threshold_sweep", d => graft.operators.Dedup.thresholdSweep(spark, d)),
      ("keep_ablation", d => graft.operators.TextAnalysis.keepAblation(spark, d)),
      ("release_report", d => graft.operators.TextAnalysis.releaseReport(spark, d)),
      ("substring_contam", d => graft.operators.TextAnalysis.substringContamination(spark, d)),
      ("shard_manifest", d => graft.operators.TextAnalysis.shardManifest(spark, d)),
      // batch 8 (round 11): governance + packing tables. packing_sweep is
      // one narrow projection ×5 lengths into |L| groups (row-linear);
      // deletion_impact is one multi-distinct pass over 4 narrow columns;
      // release_diff re-reads the materialized manifest + broadcast purge;
      // shard_balance reads the n_shards-row sidecar (write owns the cost)
      ("packing_sweep", d => graft.operators.TextAnalysis.packingSweep(spark, d)),
      ("deletion_impact", d => graft.operators.EventOps.deletionImpact(spark, d)),
      ("release_diff", d => graft.operators.TextAnalysis.releaseDiff(spark, d)),
      ("shard_balance", d => graft.operators.TextAnalysis.shardBalance(spark, d)),
      // round 11: eval grams broadcast against one corpus-gram explode —
      // must track the decontaminate scan, never eval×corpus
      ("eval_burn", d => graft.operators.TextAnalysis.evalBurn(spark, d)),
      // round 11: broadcast purge flag + the one orderkey shuffle join;
      // pii_rates is a pure projection + |sources|-row rollup
      ("deletion_cascade", d => graft.operators.RelationalExt.deletionCascade(spark, d)),
      ("pii_rates", d => graft.operators.TextAnalysis.piiRates(spark, d)),
      // round 11: rebalance reads the n_shards-row sidecar; the audit
      // sample is TakeOrdered over the (≪ corpus) pair graph + 2
      // broadcast md5 joins — it runs FIRST here and owns the LSH build
      ("audit_sample", d => graft.operators.Dedup.auditSample(spark, d)),
      ("shard_rebalance", d => graft.operators.TextAnalysis.shardRebalance(spark, d)),
      // round 11: the x6 delay explode rides the lateness frame's 8 B
      // projection — must track the two-level prefix, never re-sort
      ("watermark_sweep", d => graft.operators.EventOps.watermarkSweep(spark, d)),
      // batch 9 (round 11, session 3): filter_agreement folds the four
      // keep pipelines once into ONE row (the gopher/surprisal explodes
      // dominate — their band); code_detect and audio_vad are pure
      // per-row projections/seams into source- and doc-bounded frames
      ("filter_agreement", d => graft.operators.TextAnalysis.filterAgreement(spark, d)),
      ("code_detect", d => graft.operators.TextAnalysis.codeDetect(spark, d)),
      ("audio_vad", d => graft.operators.Multimodal.audioVad(spark, d)),
      // bounded funnel = three user-keyed aggs + two user joins (the
      // unbounded funnel's band); SRM is one distinct fold + 2 groups;
      // fertility is a scan into |lang|×|source| groups
      ("funnel_bounded", d => graft.operators.EventOps.signupFunnelBounded(spark, d)),
      ("ab_srm", d => graft.operators.EventOps.abSrm(spark, d)),
      ("fertility", d => graft.operators.TextAnalysis.fertility(spark, d)),
      // power/MDE rides ab_srm's user-keyed fold; boilerplate is one
      // prefix projection into a distinct-prefix-sized rollup + window
      ("power_mde", d => graft.operators.EventOps.powerMde(spark, d)),
      ("boilerplate_prefix", d => graft.operators.TextAnalysis.boilerplatePrefix(spark, d)),
      // CUPED rides the same user-keyed conditional fold into a 1-row
      // exact moment aggregate
      ("cuped", d => graft.operators.EventOps.cuped(spark, d)),
      // lift = the ab_srm/power_mde fold + two 1-row broadcasts
      ("experiment_lift", d => graft.operators.EventOps.experimentLift(spark, d)),
      // per-doc decode seam, fixed-width exit — the audio_vad band
      ("image_histogram", d => graft.operators.Multimodal.imageHistogramProfile(spark, d)),
      // 8 decodes per doc, 3-int exit — 8x the histogram's decode volume
      ("shot_cuts", d => graft.operators.Multimodal.shotCutProfile(spark, d)))
    // K = 1000 × factor patterns: half real 60-char snippets from the
    // corpus, the rest deterministic absent literals — per-row automaton
    // cost is O(chars) either way, and absent patterns are the adversarial
    // case for the fail-link walk
    val snipsBuilds = Seq[(String, String => DataFrame)](
      ("substring_screen_snips", d => {
        val k = d.substring(d.lastIndexOf('x') + 1).toInt * 1000
        val corpus = spark.read.parquet(s"$d/documents.parquet")
        val real = corpus.filter(length(col("text")) >= 81)
          .select(substring(col("text"), 21, 60).as("s")).distinct()
          .orderBy("s").limit(k / 2).collect().map(_.getString(0))
        val synth = (real.length until k).map(i => f"absent-snippet-$i%07d-" + "q" * 40)
        val snips = (real ++ synth).toSeq
        corpus.select(col("doc_id"),
          graft.functions.MultiLiteral.multi_literal_count(col("text"), snips)
            .cast("bigint").as("n_matched_snippets"))
      }))
    // trainer probes (round 13, VERDICT r12 #5): vocab scan vs whole train
    // on the corpus axis — their DIFFERENCE is the k rounds, which must be
    // flat when the vocab is fixed; the bpek family sweeps k at fixed corpus
    val bpeBuilds = Seq[(String, String => DataFrame)](
      ("bpe_vocab_scan", d => graft.operators.TextAnalysis.bpeVocab(spark, d)),
      ("bpe_train", d => graft.operators.TextAnalysis.bpeTrain(spark, d)))
    val bpekBuilds = Seq[(String, String => DataFrame)](
      ("bpe_train_kaxis", d =>
        graft.operators.TextAnalysis.bpeTrain(spark, d,
          d.substring(d.lastIndexOf('x') + 1).toInt)))
    // data-selection probes (round 13): DSIR under rotated replicas (vocab
    // grows ×k, the hashed model must stay bucket-bounded) and the NB
    // classifier under unrotated replicas (vocab fixed, model join must be
    // corpus-independent) — see the family corpus writers above
    val dsirBuilds = Seq[(String, String => DataFrame)](
      ("dsir_importance", d => graft.operators.DataSelection.dsirImportance(spark, d)),
      ("dsir_select", d => graft.operators.DataSelection.dsirSelect(spark, d)))
    val nbqBuilds = Seq[(String, String => DataFrame)](
      ("nb_train", d => graft.operators.QualityClassifier.classifierTrain(spark, d)),
      ("nb_confusion", d => graft.operators.QualityClassifier.classifierConfusion(spark, d)),
      ("nb_drift", d => graft.operators.QualityClassifier.classifierDrift(spark, d)),
      // round 15: the evaluation battery rides the same unrotated-replica
      // axis — the AUC rank window runs over the grouped score-VALUE
      // domain per language, so its cost must track the scan, not n²
      ("nb_auc", d => graft.operators.QualityClassifier.classifierAuc(spark, d)),
      ("nb_calibration", d => graft.operators.QualityClassifier.classifierCalibration(spark, d)),
      // round 16: held-out AUC adds one vocab-sized train-fit aggregate and
      // scores only the 10% test slice; the binned twin replaces the
      // distinct-score rank window with the fixed ≤10-bin one — both must
      // track nb_auc's slope (the corpus scan), never exceed it
      ("nb_auc_heldout", d => graft.operators.QualityClassifier.classifierAucHeldout(spark, d)),
      ("nb_auc_binned", d => graft.operators.QualityClassifier.classifierAucBinned(spark, d)))
    val lmBuilds = Seq[(String, String => DataFrame)](
      ("bigram_buckets", d => graft.operators.TextAnalysis.bigramSurprisal(spark, d)),
      ("lm_order_agreement", d => graft.operators.TextAnalysis.lmOrderAgreement(spark, d)),
      ("trigram_buckets", d => graft.operators.TextAnalysis.trigramSurprisal(spark, d)),
      ("trigram_backoff", d => graft.operators.TextAnalysis.trigramBackoff(spark, d)))
    val allBuilds = (if (family == "snips") snipsBuilds
      else if (family == "bpe") bpeBuilds
      else if (family == "bpek") bpekBuilds
      else if (family == "dsir") dsirBuilds
      else if (family == "nbq") nbqBuilds
      else if (family == "lm") lmBuilds
      else if (family == "ppj") ppjBuilds
      else if (doDocs) docBuilds else Seq.empty) ++
      (if (doEmb) embBuilds else Seq.empty) ++
      (if (doProf) profBuilds else Seq.empty) ++
      (if (doStats) statsBuilds else Seq.empty)
    val builds =
      if (only.isEmpty) allBuilds else allBuilds.filter(b => only(b._1))
    require(builds.nonEmpty, s"build filter matched nothing: ${only.mkString(",")}")

    // per (size, build): best-of-`reps`, memo cleared per rep so each rep
    // pays the full materialization (manifest deliberately runs AFTER the
    // dedup build within a rep — its keep-list reuses the verified-pair
    // stage, the same attribution order the bench uses)
    val best = sizes.map { s =>
      val dir = s"$outRoot/x$s"
      s -> (1 to reps).map { _ =>
        graft.operators.StageMemo.releaseAll()
        builds.map { case (name, mk) => name -> timeIt(noop(mk(dir))) }.toMap
      }.reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    }.toMap

    // per-build: times at every factor + consecutive-pair exponents
    // (ln(T_b/T_a)/ln(b/a)); the LAST pair is the asymptotic slope
    println(f"%n| build | ${sizes.map(s => s"T(${s}x) s").mkString(" | ")} | exponents |")
    println(s"|---${"|---" * (sizes.size + 1)}|")
    val rows = builds.map { case (name, _) =>
      val ts = sizes.map(s => best(s)(name))
      val exps = sizes.zip(ts).sliding(2).collect { case Seq((a, ta), (b, tb)) =>
        math.log(tb / ta) / math.log(b.toDouble / a)
      }.toSeq
      println(s"| $name | ${ts.map(t => f"$t%.2f").mkString(" | ")} | " +
        s"${exps.map(e => f"$e%.2f").mkString(", ")} |")
      s""""$name":{"t":[${ts.map(t => f"$t%.3f").mkString(",")}],""" +
        s""""exponents":[${exps.map(e => f"$e%.3f").mkString(",")}]}"""
    }
    println(s"""{"factors":[${sizes.mkString(",")}],"reps":$reps,"base":"$baseDir",${rows.mkString(",")}}""")
    spark.stop()
  }
}

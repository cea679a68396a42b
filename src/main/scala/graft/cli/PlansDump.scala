package graft.cli

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}
import graft.operators.StageMemo

/** Dumps the formatted physical plans of the engine's flagship queries to a
  * reviewable markdown artifact (`PLANS.md` by default) — the "is this the
  * plan you'd want at 100 TB" audit trail: broadcast placements, exchange
  * counts, pushed filters, WholeStageCodegen spans, all in one place.
  * Queries that read memoized stages are dumped with their full lineage
  * (see [[planFor]]).
  *
  * `PlansDump [sfDir] [outFile]`
  */
object PlansDump {

  /** Plans are dumped at local[32] on every machine: whether
    * [[graft.Fixtures.spread]] adds a repartition, and so the plan text,
    * depends on the local thread count. */
  private[cli] val Threads = 32

  /** One representative per plan family, not all 124 — the point is a
    * readable audit, not an exhaustive dump. */
  val Flagship: Seq[String] = Seq(
    "q_revenue_by_region",     // star join: every dim broadcast
    "q1_pricing_summary",      // partial+final agg, codegen
    "q_window_top_orders",     // WindowGroupLimit pushdown
    "q_correlated_subquery",   // decorrelation: agg+join, no BNLJ
    "events_range_join_auto",  // tier-c optimizer rule output
    "dedup_minhash_pairs",     // band self-join on 16-byte keys
    "dedup_simhash64_pairs",   // shuffle-free signatures + block keys
    "ann_cosine_topk",         // broadcast queries, native dot codegen
    "ann_ivf_refined_topk",    // M-step shuffle + integer E-step
    "profile_histogram_depth", // boundary broadcast, no window
    "text_clean_pipeline",     // one scan + one shuffle composition
    "dedup_clusters_star",     // star-contraction CC (final-round plan)
    "dedup_reach_recursive",   // native recursive CTE over checkpointed edges
    "quality_checks",          // fused per-table rule scans
    "text_decontaminate",      // eval-set grams broadcast, corpus scans once
    "profile_summary_lineitem", // Expand-free exact profile (stacked one-job NDV)
    "profile_sketch_lineitem",  // sketch-only path: one scan, mergeable partials
    "profile_sketch_gate_lineitem", // gate form: sketch + exact-reference scaffolding
    "ann_pq_topk",             // PQ/ADC: codebook broadcast, (sub,code) lookup join
    "ann_ivfpq_topk",          // IVF contraction + ADC + exact re-rank composition
    "semdedup",                // broadcast quantizer + within-cell pair equi-join
    "text_dup_spans",          // md5-keyed span shuffles, partial+final group-bys
    "docs_shuffle_shards",     // hash shard key + per-shard partitioned rank
    "docs_split_leakage",      // pair graph x hash split, 8-16B-key equi-joins
    "dedup_pagerank_hubs",     // 3 unrolled Pregel rounds over materialized edges
    "docs_ccnet_buckets",      // (lang,word) freq join + per-language rank window
    "docs_target_affinity",    // bounded feature table broadcast, two linear scans
    "embedding_label_outliers", // (label,dim) sums broadcast + TakeOrdered top-k
    "docs_gopher_rules",       // row-local repetition maxima: one scan, no pre-sort shuffle (r16)
    "docs_cluster_safe_split", // cluster-label join + pure hash projection
    "profile_key_overlap_sketch", // HLL union algebra: one scan/side, no key join
    "ann_hybrid_rrf",          // two TakeOrdered legs + legK-sized fusion join
    "profile_heavy_values_gate", // Misra-Gries partial+final, O(k) state
    "profile_catalog_long",    // whole lake, one DAG: fused scan + NDV per table
    "profile_catalog_strings", // string-column twin: len/NDV/minmax per column
    "profile_corr_matrix",     // all pairwise correlations from one fused scan
    "q21_waiting_suppliers",   // EXISTS/NOT-EXISTS as semi+anti hash joins
    "dedup_prefix_join",       // prefix-filter exact join: rare-token index
    "profile_gini_lineitem",   // two-level distributed prefix sum
    "dedup_containment_join",  // asymmetric containment prefix join
    "events_max_concurrency",  // sweep line via two-level prefix
    "events_busy_window_sessions", // interval-interval bucketed equi-join
    "events_rolling_wau",      // bounded interval decomposition distinct
    "q_pareto_frontier",       // domain-sized suffix-min + broadcast semi-join
    "text_collocations",       // vocab-keyed count joins + TakeOrdered
    "profile_fd_discovery_exact", // 30 grouped-agg branches in one DAG
    "profile_fd_discovery_screened", // HLL screen -> survivor branches only (r16)
    "events_cusum_alarms",     // closed-form CUSUM: two per-type windows
    "events_lateness_profile", // two-level running max over arrival order
    "docs_quantile_normalize", // rank match + linear rank->value lookup
    "text_vocab_growth",       // first-occurrence collapse + two-level prefix
    "q_market_basket",         // basket pair join + brand-keyed stats
    "dedup_url_groups",        // canonicalize projection + one key shuffle
    "docs_html_strip",         // projection-only boilerplate strip
    "q_bucketed_join",         // co-located SMJ: zero exchange/sort at the join
    "q_partition_pruned",      // static date predicate -> 7/30 dirs scanned
    "q_dynamic_partition_pruning", // dim filter prunes fact scan at runtime
    "events_autocorrelation",  // row-linear agg -> domain-bounded spine joins
    "ann_recall_eval",         // gt + two index legs, numQueries·k-row joins
    "dedup_banding_curve",     // 4 capped band joins, one shared verify pass
    "profile_cramers_v",       // r×c grid margins, scalars out
    "text_lexical_diversity",  // two-level partial+final rollup, join-free
    "embedding_knn_mutual",    // checkpointed kNN edges, 3 linear consumers
    "dedup_cdc_chunks",        // CDC: explode -> per-doc prefix -> hash rollups
    "events_attribution",      // user-keyed interval join + conversion windows
    "ann_sq8_topk",            // int8 ADC screen, float rerank on survivors
    "embedding_corr_dims",     // row-local pair products, d^2-group shuffle
    "docs_release_report",     // audit joins on broadcast sets, 1-row branches
    "ann_filtered_topk",       // pre-filter search: label equi-key broadcast join
    "ann_filtered_ivf",        // post-filter probe + exact-twin hit join
    "docs_filter_agreement",   // four keep pipelines folded once to 1 row
    "events_ab_srm",           // distinct fold + 2-group rollup + 1-row recombine
    "events_power_mde",        // DECIMAL micro sums, one-division variance
    "profile_erd_classes",     // distinct-set folds + two 1-row count broadcasts
    "events_experiment_lift",  // lift/MDE as broadcast 1-row recombines
    "text_tokenize_bpe",       // codegen'd native BPE merge loop in the scan
    "text_bpe_train",          // vocab-bounded iterated pair argmax
    "text_pack_sequences_bpe", // per-lang cumsum over real token counts
    "dedup_banding_pick",      // memoized curve + 1-row argmax projection
    "pipeline_release_e2e",    // shard WRITE + read-back sign-off composition
    "pipeline_release_diff_e2e", // two releases written, id-keyed artifact diff
    "text_tokenize_trained",   // train-then-apply: vocab join on the word key
    "docs_dsir_importance",    // hashed models: B-bucket broadcast scoring join
    "quality_classifier_confusion", // NB distill: vocab-keyed rescore join
    // round-14 completeness sweep: every query whose clean steady-state
    // exceeded 2 s in the committed clean bench artifact is audited here
    // (OperatorsIndexSpec gates the list against the artifact), plus the
    // round's new plan families
    "docs_bigram_buckets",     // (lang,w1,w2) pair-vocab joins + per-lang window
    "docs_lm_order_agreement", // two LM bucketings joined on doc_id, 9-cell agg
    "docs_trigram_buckets",    // train-split fit, 5 gram-keyed joins, backoff CASE
    "docs_lm_order_agreement3", // order-2 x order-3 buckets joined on doc_id
    "docs_ccnet_deployed",     // rank calibration vs deployed threshold classify, per-lang gate
    "text_paragraph_dedup",    // ONE segmentation: per-(phash,doc) counts + phash window
    "docs_training_manifest",  // 5-gate conjunction: flag joins on 8 B keys
    "docs_classifier_auc",     // grouped-midrank U over distinct (lang, score) rows
    "docs_classifier_auc_heldout", // train-bucket fit, test-slice scoring join (r16)
    "profile_pk_discovery",    // derivation over the fused whole-catalog profiles
    "dedup_audit_sample",      // boundary-band sample over the shared pair graph
    "docs_curriculum_order",   // manifest x quality join + per-shard rank
    "embedding_top_pc",        // Gram-matrix power iteration, d^2 state
    "dedup_weights",           // cluster-rep weights over the shared CC labels
    "multimodal_shot_cuts",    // frame-pair hamming over sampled frame hashes
    "text_build_spans",        // the materialized 5-gram span stage itself
    "dedup_cluster_sizes_gate", // CC label rollup + recursive-CTE cross-check
    "dedup_simhash_pairs",     // 30-bit simhash block keys, exact ham verify
    "docs_dsir_deployed",      // rank->threshold consistency gate, broadcast thr
    "dedup_keep_best",         // quality-keyed keep-best over dup groups
    "ann_compression_sweep",   // PQ/SQ8/matryoshka variants in one recall frame
    "dedup_kcore",             // iterated degree-peel over checkpointed edges
    "text_span_mask",          // dup-span position explode + interval union fold
    "dedup_quality_bias",      // keep/cut quality contrast over dup groups
    "dedup_impact_by_source",  // per-source dup-mass rollup over the pair graph
    "dedup_funnel",            // stage-by-stage survivor accounting, one pass
    "ann_pq_distortion",       // codebook fit + per-vector quantization error
    "ann_nprobe_sweep",        // one IVF build, nprobe grid as union branches
    "dedup_cluster_lang_purity", // CC labels x lang entropy rollup
    "ann_mmr_diversify",       // top-k + greedy re-rank over a k-sized frame
    "profile_weighted_percentiles", // two-level weighted prefix sums
    "ann_filtered_sweep",      // selectivity grid over one filtered index
    // round-15 completeness sweep (>2 s in BENCH_r15_clean_full)
    "text_eval_burn",          // eval-gram burn-rate: broadcast grams, one scan
    "dedup_cluster_sizes")     // size histogram over the memoized CC labels

  /** The AQE-finalized formatted plan of one declared query, built under
    * [[graft.operators.StageMemo.audit]] so memoized stages and in-query
    * shared frames show their full lineage instead of checkpoint scans —
    * shared by the PLANS.md dump and the per-query plan files
    * ([[PlanFiles]], the r16 before/after artifacts). */
  private[cli] def planFor(spark: org.apache.spark.sql.SparkSession,
      name: String, dir: String): String = {
    val df = StageMemo.audit(SparkEntry.queries(name)(spark, dir))
    df.collect() // let AQE finalize the executed plan
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  def main(args: Array[String]): Unit = {
    // positional: PlansDump [sfDir] [outFile] — echo what was resolved so a
    // typo'd path can't silently fall back to the default (ADVICE r5)
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    require(java.nio.file.Files.isDirectory(Paths.get(dir)), s"data dir not found: $dir")
    println(s"[plans] data dir: $dir → $out")
    val spark = GraftSession.local(Threads)
    val sb = new StringBuilder
    sb.append("# Physical plans — flagship queries\n\n")
    sb.append(s"Generated against `$dir` (`graft.cli.PlansDump`). One query per\n")
    sb.append("plan family; regenerate after any planner-visible change.\n")
    Flagship.foreach { name =>
      sb.append(s"\n## $name\n\n```\n${planFor(spark, name, dir)}```\n")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote ${Flagship.size} plans to $out")
    spark.stop()
  }
}

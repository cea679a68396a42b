package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.operators.{Relational, StageMemo}

/** Physical-plan quality gates: the scan/shuffle/join properties the engine
  * RELIES on at 100 TB, asserted against the actual plans so a regression
  * (a lost pushdown, a broadcast that became a shuffle, a TakeOrdered that
  * became a global sort) fails CI instead of surfacing as a cluster bill.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: allNodes(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r +: allNodes(r.child)
    case other => other +: other.children.flatMap(allNodes)
  }

  private def nodes(df: DataFrame): Seq[SparkPlan] =
    allNodes(df.queryExecution.executedPlan)

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    nodes(df).collect { case s: FileSourceScanExec => s }

  test("column pruning: a 2-column projection reads a 2-column schema") {
    val df = spark.read.parquet(s"${SparkSuite.Sf0001}/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val scan = scans(df).head
    assert(scan.requiredSchema.fieldNames.toSet == Set("l_orderkey", "l_quantity"),
      s"scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("predicate pushdown: a selective filter reaches the parquet scan") {
    val df = spark.read.parquet(s"${SparkSuite.Sf0001}/lineitem.parquet")
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey")
    val scan = scans(df).head
    assert(scan.dataFilters.nonEmpty, "filter did not reach the scan")
    assert(scan.metadata.get("PushedFilters").exists(_.contains("l_quantity")),
      s"PushedFilters=${scan.metadata.get("PushedFilters")}")
  }

  test("star join broadcasts every dimension (no shuffle join for dims)") {
    val df = Relational.revenueByRegion(spark, SparkSuite.Sf0001)
    df.collect()
    val plan = nodes(df).map(_.nodeName)
    val broadcasts = plan.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, plan nodes: ${plan.distinct.mkString(",")}")
  }

  test("aggregation is partial+final (map-side combine before the shuffle)") {
    val df = Relational.q1PricingSummary(spark, SparkSuite.Sf0001)
    val aggs = nodes(df).filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.size >= 2, "expected partial and final HashAggregate nodes")
  }

  test("global top-k plans as TakeOrdered, not a full sort") {
    val df = Relational.topOrdersGlobal(spark, SparkSuite.Sf0001)
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("TakeOrderedAndProject")),
      s"expected TakeOrderedAndProject, got: ${names.distinct.mkString(",")}")
  }

  test("per-group top-k gets the WindowGroupLimit pushdown") {
    val df = Relational.topOrdersPerCustomer(spark, SparkSuite.Sf0001)
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("WindowGroupLimit")),
      s"expected WindowGroupLimit, got: ${names.distinct.mkString(",")}")
  }

  test("manual banded range join never falls back to a nested-loop join") {
    val df = graft.operators.EventOps.purchaseClickAttribution(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("BroadcastNestedLoop") || n.contains("CartesianProduct")),
      s"range join degenerated: ${names.distinct.mkString(",")}")
  }

  test("funnel joins broadcast the tiny per-stage rollups") {
    val df = graft.operators.EventOps.signupFunnel(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.count(_.contains("BroadcastHashJoin")) >= 2,
      s"expected broadcast stage joins, got: ${names.distinct.mkString(",")}")
  }

  test("equi-depth histogram has no window (no single-partition global sort)") {
    val df = graft.profile.ProfileQueries.quantityDepthHistogram(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(_.contains("Window")),
      s"scale-safe equi-depth form regressed to a window: ${names.distinct.mkString(",")}")
    assert(names.exists(_.contains("BroadcastNestedLoopJoin")) ||
      names.exists(_.contains("BroadcastHashJoin")) || names.exists(_.contains("CartesianProduct")) ||
      names.exists(_.contains("Broadcast")),
      s"expected the one-row bounds frame to broadcast: ${names.distinct.mkString(",")}")
  }

  test("top-k values window is partitioned and gets WindowGroupLimit") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.profile.ProfileQueries.topkValues(spark, SparkSuite.Sf0001)
    df.collect()
    val windows = nodes(df).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected a window node")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "top-k values window lost its partition key (single-task global sort)"))
    assert(nodes(df).exists(_.nodeName.contains("WindowGroupLimit")),
      s"expected WindowGroupLimit pushdown: ${nodes(df).map(_.nodeName).distinct.mkString(",")}")
  }

  test("gopher rules: three pruned scans, per-doc maxima aggregated, no window, no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.TextAnalysis.gopherRules(spark, SparkSuite.Sf0001)
    df.collect()
    val ns = nodes(df)
    val scans = ns.collect { case s: FileSourceScanExec => s }
    assert(scans.size <= 3, s"expected ≤3 scans (base + 2 explode streams), got ${scans.size}")
    // every gram stream reads only (doc_id, text) — column pruning reached the scan
    scans.foreach(s => assert(s.output.size <= 2,
      s"unpruned gopher scan: ${s.output.map(_.name).mkString(",")}"))
    assert(!ns.exists(_.nodeName.contains("CartesianProduct")), "cartesian in gopher plan")
    assert(ns.collect { case w: WindowExec => w }.isEmpty,
      "gopher rules must aggregate per-doc maxima, not rank via windows")
  }

  test("curriculum-order window is partitioned (anneal is an ORDER BY prefix, not a global sort)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.TextAnalysis.curriculumOrder(spark, SparkSuite.Sf0001)
    df.collect()
    val windows = nodes(df).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the per-shard rank window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "curriculum rank window lost its shard partition key (single-task global sort)"))
  }

  test("doc-frequency top-20 bounds the word table with TakeOrdered before ranking") {
    val df = graft.operators.TextAnalysis.docFrequency(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("TakeOrderedAndProject")),
      s"expected TakeOrderedAndProject before the rank window: ${names.distinct.mkString(",")}")
  }

  test("correlated scalar subquery decorrelates: agg+join, no nested loop") {
    val df = graft.operators.RelationalExt.aboveCustomerAverageOrders(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("BroadcastNestedLoop") || n.contains("CartesianProduct")),
      s"correlated subquery fell back to a nested loop: ${names.distinct.mkString(",")}")
    assert(names.exists(_.contains("HashAggregate")) &&
      names.exists(n => n.contains("HashJoin") || n.contains("SortMergeJoin")),
      s"expected decorrelated agg+join: ${names.distinct.mkString(",")}")
  }

  test("whole-stage codegen covers the q1 aggregation pipeline") {
    val df = Relational.q1PricingSummary(spark, SparkSuite.Sf0001)
    df.collect() // AQE inserts codegen stages at execution
    assert(nodes(df).exists(_.nodeName.contains("WholeStageCodegen")),
      "q1 pipeline fell out of whole-stage codegen")
  }

  test("SHUFFLE_HASH hint takes effect: the hinted join is a ShuffledHashJoin") {
    val df = graft.operators.RelationalExt.shuffleHashSpend(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("ShuffledHashJoin")),
      s"hint ignored — plan joins: ${names.filter(_.contains("Join")).distinct.mkString(",")}")
  }

  test("IVF ANN: only the 16-row centroid/probe sides broadcast; candidate scoring is a hash join") {
    val df = graft.operators.Similarity.ivfTopK(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    // the corpus-side joins (cell bucket join, candidate scoring) must be
    // hash joins — a nested loop against the full embedding table would be
    // the O(n²) plan IVF exists to avoid (the only BNLJ allowed is the
    // 16-row centroid cross product)
    assert(names.exists(_.contains("HashJoin")),
      s"no hash join in IVF plan: ${names.distinct.mkString(",")}")
    assert(!names.exists(_.contains("CartesianProduct")),
      s"cartesian product in IVF plan: ${names.distinct.mkString(",")}")
  }

  test("window battery 2 runs both frames in a single shuffle on o_custkey") {
    val df = graft.operators.RelationalExt.orderWindowBattery2(spark, SparkSuite.Sf0001)
    df.collect()
    val exchanges = nodes(df).count(_.nodeName.contains("Exchange"))
    // one hash exchange for the windows + one range exchange for the final
    // presentation orderBy — a third would mean the two frames re-shuffled
    assert(exchanges <= 2, s"window battery 2 shuffled $exchanges times")
  }

  test("left-outer banded range join: rule fires, no nested-loop join") {
    val df = graft.operators.EventOps.rangeJoinLeft(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("BroadcastNestedLoop") || n.contains("CartesianProduct")),
      s"left-outer range join degenerated to a nested loop: ${names.distinct.mkString(",")}")
    assert(names.exists(n => n.contains("HashJoin") || n.contains("SortMergeJoin")),
      s"expected the banding rewrite's equi-join: ${names.distinct.mkString(",")}")
  }

  private def assertBnljOnlyTinyBroadcasts(df: DataFrame, what: String): Unit = {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
    df.collect()
    val ns = nodes(df)
    assert(!ns.exists(_.nodeName.contains("CartesianProduct")),
      s"cartesian product in $what plan: ${ns.map(_.nodeName).distinct.mkString(",")}")
    // any nested-loop join must broadcast a query/centroid-sized side —
    // a corpus-sized broadcast would be the O(n·q) plan IVF exists to avoid
    ns.collect { case b: BroadcastNestedLoopJoinExec => b }.foreach { b =>
      val stages = allNodes(b).collect { case s: BroadcastQueryStageExec => s }
      stages.foreach { s =>
        val rows = s.getRuntimeStatistics.rowCount.getOrElse(BigInt(Long.MaxValue))
        assert(rows <= 100, s"$what BNLJ broadcasts $rows rows — not a query-set side")
      }
      assert(stages.nonEmpty, s"$what BNLJ without a broadcast query stage")
    }
  }

  test("refined IVF ANN: BNLJ only against tiny broadcast sides, never the corpus") {
    assertBnljOnlyTinyBroadcasts(
      graft.operators.Similarity.ivfRefinedTopK(spark, SparkSuite.Sf0001), "refined-IVF")
  }

  test("IVF+PQ ANN: BNLJ only against tiny broadcast sides, never the corpus") {
    assertBnljOnlyTinyBroadcasts(
      graft.operators.Similarity.ivfPqTopK(spark, SparkSuite.Sf0001), "IVF+PQ")
  }

  test("recursive reachability anchors on materialized edges (no pipeline re-run per round)") {
    val df = graft.operators.Dedup.reachRecursive(spark, SparkSuite.Sf0001)
    df.collect()
    // the recursion's edge view must be a scan of already-materialized
    // blocks: a live minhash→band→jaccard pipeline here would re-execute
    // once per recursion round (measured 15.5 s vs ~2 s at sf0.1)
    val anchor = nodes(spark.table("dedup_pairs")).map(_.nodeName)
    assert(!anchor.exists(n => n.contains("Join") || n.contains("FileScan") ||
        n.contains("Scan parquet")),
      s"dedup_pairs view is not materialized — plan: ${anchor.distinct.mkString(",")}")
  }

  test("session windows merge per-user without a global sort (one presentation sort only)") {
    import org.apache.spark.sql.execution.SortExec
    val df = graft.operators.EventOps.sessionWindows(spark, SparkSuite.Sf0001)
    df.collect()
    val ns = nodes(df)
    val globalSorts = ns.collect { case s: SortExec if s.global => s }
    assert(globalSorts.size <= 1,
      s"session merge uses ${globalSorts.size} global sorts — gap merging must stay per-user-partition")
    val partitionedSorts = ns.collect { case s: SortExec if !s.global => s }
    assert(partitionedSorts.nonEmpty, "expected a within-partition sort feeding session merge")
  }

  test("decontamination broadcasts the eval-gram side; the corpus is never the build side") {
    val df = graft.operators.TextAnalysis.decontaminate(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"eval grams did not broadcast: ${names.distinct.mkString(",")}")
    assert(!names.exists(n => n.contains("BroadcastNestedLoop") || n.contains("CartesianProduct")))
  }

  test("sequence packing: the cumsum window is partitioned (no single-task global sort)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.TextAnalysis.packSequences(spark, SparkSuite.Sf0001)
    df.collect()
    val windows = nodes(df).collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "packing cumsum lost its partition key — every row would cross one task"))
  }

  test("char bigrams: partial aggregation runs before the (lang,bigram) shuffle") {
    val df = graft.operators.TextAnalysis.charBigrams(spark, SparkSuite.Sf0001)
    df.collect()
    val aggs = nodes(df).filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.size >= 2,
      "char-bigram count is not partial+final — the full char-level explosion would cross the shuffle")
  }

  test("corpus report: no Expand anywhere (distinct counts stay single-distinct)") {
    val df = graft.operators.TextAnalysis.corpusReport(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(_.contains("Expand")),
      s"multi-distinct Expand crept into the corpus report: ${names.distinct.mkString(",")}")
  }

  test("semdedup: centroids broadcast; the pairwise stage is a cell equi-join, not a cross product") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
    // the assignment stage is audited UN-checkpointed (semDedup's
    // checkpoint replaces everything upstream with an RDD scan, which
    // would make these assertions vacuous on the full query)
    val assign = graft.operators.Similarity.semDedupCells(spark, SparkSuite.Sf0001)
    assign.collect()
    val assignNodes = nodes(assign)
    // the keyless centroid join is a BNLJ by construction — it must build
    // the 16-row centroid side, never the corpus
    val bnljs = assignNodes.collect { case b: BroadcastNestedLoopJoinExec => b }
    assert(bnljs.nonEmpty, "expected the broadcast centroid-assignment join")
    bnljs.foreach { b =>
      val stages = allNodes(b).collect { case s: BroadcastQueryStageExec => s }
      assert(stages.nonEmpty)
      stages.foreach { s =>
        val rows = s.getRuntimeStatistics.rowCount.getOrElse(BigInt(Long.MaxValue))
        assert(rows <= 16, s"assignment BNLJ broadcasts $rows rows — not the centroid table")
      }
    }
    assert(!assignNodes.exists(_.nodeName.contains("CartesianProduct")))
    // the full query under the plan-audit scope (SKIPS the cells
    // checkpoint — ADVICE r7/r8): pair join on `cell` must be a hash join,
    // never a cross product. Without the checkpoint the
    // centroid-assignment BNLJ is now VISIBLE in this plan too — verify
    // every BNLJ builds a centroid-sized side, and nothing is a
    // CartesianProduct.
    val df = StageMemo.audit(graft.operators.Similarity.semDedup(spark, SparkSuite.Sf0001))
    df.collect()
    val fullNodes = nodes(df)
    val names = fullNodes.map(_.nodeName)
    assert(names.exists(_.contains("BroadcastHashJoin")) || names.exists(_.contains("SortMergeJoin")) ||
      names.exists(_.contains("ShuffledHashJoin")),
      s"pairwise stage is not an equi-join: ${names.distinct.mkString(",")}")
    assert(!names.exists(_.contains("CartesianProduct")),
      "pairwise stage fell back to a corpus-level cross product")
    fullNodes.collect { case b: BroadcastNestedLoopJoinExec => b }.foreach { b =>
      allNodes(b).collect { case s: BroadcastQueryStageExec => s }.foreach { s =>
        val rows = s.getRuntimeStatistics.rowCount.getOrElse(BigInt(Long.MaxValue))
        assert(rows <= 16, s"full-plan BNLJ broadcasts $rows rows — not the centroid table")
      }
    }
  }

  test("semdedup plan twin: DataFrame construction + optimization runs zero Spark jobs") {
    // the gated query's auto-k runs one count() job at construction by
    // design; with k pinned, the audited query (no cells checkpoint) must
    // never touch the cluster just to build a plan (ADVICE r7/r8)
    def audited() = StageMemo.audit(
      graft.operators.Similarity.semDedup(spark, SparkSuite.Sf0001, nCentroids = 8))
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // warm construction first: the very first read of a parquet path pays
    // one schema-inference job, memoized per session by Fixtures.table — the
    // assertion targets the steady state every repeated consumer sees
    audited().queryExecution.optimizedPlan
    spark.sparkContext.addSparkListener(l)
    try {
      val df = audited()
      df.queryExecution.optimizedPlan // force analysis + optimization
      Thread.sleep(1000) // listener bus is async; let any job event land
      assert(jobs.get() == 0, s"building the semdedup plan ran ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("oov rate: the corpus tokenize feeds ONE materialized rollup (no double explode)") {
    // the vocab fit and the scoring join must both read the checkpointed
    // (doc, word, tf) rollup; without it Spark plans the explode twice as
    // separate physical subtrees (ADVICE r7/r8)
    val df = graft.operators.TextAnalysis.oovRate(spark, SparkSuite.Sf0001)
    df.collect()
    val gens = nodes(df).filter(_.nodeName.contains("Generate"))
    assert(gens.isEmpty,
      s"oovRate's executed plan re-runs the tokenize explode ${gens.size}x — " +
        "the (doc,word,tf) rollup checkpoint is not being read")
  }

  test("shuffle shards: the position window is partitioned by shard (no single-task rank)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.TextAnalysis.shuffleShards(spark, SparkSuite.Sf0001)
    df.collect()
    val windows = nodes(df).collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "shard rank lost its partition key — the whole corpus would rank in one task"))
  }

  test("dup spans: both group-bys are partial+final and the span key never exceeds a hash") {
    // audited: outside the scope the gated form reads checkpoint scans
    val df = StageMemo.audit(graft.operators.TextAnalysis.dupSpans(spark, SparkSuite.Sf0001))
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.count(_.contains("HashAggregate")) >= 4,
      s"span grouping is not partial+final: ${names.distinct.mkString(",")}")
    assert(!names.exists(n => n.contains("BroadcastNestedLoop") || n.contains("CartesianProduct")))
  }

  test("ccnet buckets: every rank window is partitioned by language (no global rank)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // audited: outside the scope the gated form's docTerm checkpoint
    // collapses the fit/score subtrees this gate exists to audit
    val df = StageMemo.audit(graft.operators.TextAnalysis.unigramSurprisal(spark, SparkSuite.Sf0001))
    df.collect()
    val windows = nodes(df).collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "surprisal tercile rank lost its language partition — the whole corpus would rank in one task"))
    assert(!nodes(df).map(_.nodeName).exists(_.contains("CartesianProduct")))
  }

  test("bigram buckets: rank and prefix windows stay partitioned (lang / lang,w1)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = StageMemo.audit(graft.operators.TextAnalysis.bigramSurprisal(spark, SparkSuite.Sf0001))
    df.collect()
    val windows = nodes(df).collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "a bigram-surprisal window lost its partition — whole corpus in one task"))
    assert(!nodes(df).map(_.nodeName).exists(_.contains("CartesianProduct")))
  }

  test("nb classifier: vocab-keyed scoring join, BNLJ only against 1-row scalars") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
    val df = graft.operators.QualityClassifier.classifierConfusion(spark, SparkSuite.Sf0001)
    df.collect()
    // each cross-recombine's IMMEDIATE build side is the 1-row scalar frame
    // (the subtree below it legitimately contains vocab-sized hash-join
    // broadcasts, so the deep-walk helper does not apply here)
    nodes(df).collect { case b: BroadcastNestedLoopJoinExec => b }.foreach { b =>
      // pre-order: the first stage under the build child is its top-level one
      val buildTop = allNodes(b.right).collectFirst { case s: BroadcastQueryStageExec => s }
        .orElse(allNodes(b.left).collectFirst { case s: BroadcastQueryStageExec => s })
      assert(buildTop.nonEmpty, "nb-classifier BNLJ without a broadcast build side")
      buildTop.foreach { s =>
        val rows = s.getRuntimeStatistics.rowCount.getOrElse(BigInt(Long.MaxValue))
        assert(rows <= 2, s"nb-classifier cross-recombine broadcasts $rows rows, not a scalar")
      }
    }
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(_.contains("CartesianProduct")))
    // per-word scoring joins the vocab-sized ratio table by key, and the
    // per-doc / per-bucket reductions carry map-side partials
    assert(names.exists(n => n.contains("HashJoin") || n.contains("SortMergeJoin")),
      s"expected a keyed scoring join: ${names.distinct.mkString(",")}")
    assert(names.count(_.contains("HashAggregate")) >= 4,
      s"scoring aggregates are not partial+final: ${names.distinct.mkString(",")}")
  }

  test("dsir: scoring joins the 512-bucket ratio table broadcast; selection windows per source") {
    import org.apache.spark.sql.execution.window.WindowExec
    // audited: outside the scope the gated form's feature checkpoint
    // collapses the fit/score subtrees this gate exists to audit
    val df = StageMemo.audit(graft.operators.DataSelection.dsirImportance(spark, SparkSuite.Sf0001))
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"bucket-ratio scoring must be a broadcast hash join: ${names.distinct.mkString(",")}")
    assert(!names.exists(_.contains("CartesianProduct")))
    // document scan is pruned to the three columns the features need
    scans(df).foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("doc_id", "source", "text")),
        s"dsir reads more than it needs: $read")
    }
    val sel = graft.operators.DataSelection.dsirSelect(spark, SparkSuite.Sf0001)
    sel.collect()
    val windows = nodes(sel).collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "dsir selection rank lost its source partition — the whole pool would rank in one task"))
  }

  test("target affinity: BNLJ only against the 1-row totals; feature scoring is a hash join") {
    val df = graft.operators.TextAnalysis.targetAffinity(spark, SparkSuite.Sf0001)
    assertBnljOnlyTinyBroadcasts(df, "target-affinity")
    // the high-lift feature set joins by key, never as a nested loop
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"expected the broadcast feature-set hash join: ${names.distinct.mkString(",")}")
  }

  test("label outliers: top-k is TakeOrdered before the 20-row rank window") {
    val df = graft.operators.Similarity.labelOutliers(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("TakeOrderedAndProject")),
      s"expected TakeOrderedAndProject for the outlier top-k: ${names.distinct.mkString(",")}")
    assert(!names.exists(n => n.contains("BroadcastNestedLoop") || n.contains("CartesianProduct")))
  }

  test("merge hint actually plans a SortMergeJoin") {
    val df = graft.operators.RelationalExt.sortMergeSpend(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("SortMergeJoin")),
      s"merge hint ignored: ${names.distinct.mkString(",")}")
  }

  test("pareto frontier: frontier reattaches as a broadcast semi-join, no nested loop") {
    val df = graft.operators.RelationalExt.paretoFrontier(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"expected broadcast hash semi-join: ${names.distinct.mkString(",")}")
    assert(!names.exists(n => n.contains("BroadcastNestedLoop") || n.contains("CartesianProduct")),
      s"dominance test must not plan as a nested loop: ${names.distinct.mkString(",")}")
  }

  test("containment join: candidates meet by token equi-join, never cartesian") {
    val df = graft.operators.Dedup.containmentJoinPairs(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("BroadcastNestedLoop") || n.contains("CartesianProduct")),
      s"containment candidates must be an equi-join: ${names.distinct.mkString(",")}")
  }

  test("collocations: top-k is TakeOrdered, count joins are hash joins") {
    val df = graft.operators.TextAnalysis.collocations(spark, SparkSuite.Sf0001,
      minCount = 5, k = 20)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("TakeOrderedAndProject")),
      s"expected TakeOrdered for the top-k: ${names.distinct.mkString(",")}")
    assertBnljOnlyTinyBroadcasts(df, "collocations")
  }

  test("busy-window sessions: interval sides meet by hour-bucket hash join") {
    val df = graft.operators.EventOps.busyWindowSessions(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"expected the broadcast bucket equi-join: ${names.distinct.mkString(",")}")
    assertBnljOnlyTinyBroadcasts(df, "busy-window")
  }

  test("url dedup: canonicalization stays a projection; one shuffle on the canonical key") {
    val df = graft.operators.WebNormalize.urlDedupGroups(spark, SparkSuite.Sf0001)
    df.collect()
    val ns = nodes(df)
    val names = ns.map(_.nodeName)
    // per-row regex canonicalization must not introduce joins or extra
    // exchanges: exactly the group-by shuffle + the presentation sort
    val exchanges = names.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected ≤2 exchanges (agg + sort): ${names.distinct.mkString(",")}")
    assert(!names.exists(n => n.contains("Join") || n.contains("CartesianProduct")),
      s"url dedup must be join-free: ${names.distinct.mkString(",")}")
    assert(names.exists(_.contains("HashAggregate")), "group-by must be a hash aggregate")
  }

  test("html strip profile: single scan, no shuffle before the presentation sort") {
    val df = graft.operators.WebNormalize.htmlStripProfile(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(scans(df).size == 1, "one documents scan")
    assert(!names.exists(n => n.contains("Join") || n.contains("HashAggregate")),
      s"per-row profile must be projection-only: ${names.distinct.mkString(",")}")
  }

  test("lexical diversity: two partial+final aggs, join-free, decimal stays in codegen") {
    val df = graft.operators.TextAnalysis.lexicalDiversity(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("Join") || n.contains("CartesianProduct")),
      s"per-source rollup must be join-free: ${names.distinct.mkString(",")}")
    // explode → (source,word) agg → source agg → sort: at most 3 exchanges
    assert(names.count(_.contains("Exchange")) <= 3,
      s"expected ≤3 exchanges: ${names.distinct.mkString(",")}")
    assert(names.count(_.contains("HashAggregate")) >= 4,
      "both group-bys must be partial+final hash aggregates")
  }

  test("knn mutual graph: edge list built once and reused by all three consumers") {
    val df = graft.operators.Similarity.knnGraphMutual(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    // the n² scoring must NOT re-run per consumer: the checkpointed edge
    // RDD shows up as scan nodes, never as repeated BroadcastNestedLoop
    // over the raw embeddings
    val nlj = names.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj == 0, s"scored self-join must not reappear downstream: ${names.distinct.mkString(",")}")
    assert(names.exists(_.contains("Scan ExistingRDD")),
      s"expected checkpointed edge scans: ${names.distinct.mkString(",")}")
  }

  test("bucketed join: no exchange and no sort feeds the sort-merge join") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = graft.operators.RelationalExt.bucketedJoin(spark, SparkSuite.Sf0001)
    df.collect()
    val smjs = nodes(df).collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected a sort-merge join over the bucketed tables: " +
      s"${nodes(df).map(_.nodeName).distinct.mkString(",")}")
    val bad = smjs.flatMap(j => allNodes(j).filterNot(_ eq j)).filter {
      case _: SortExec => true
      case _: ShuffleExchangeLike => true
      case _ => false
    }
    assert(bad.isEmpty,
      s"bucketed SMJ inputs must be exchange/sort-free, found: ${bad.map(_.nodeName).mkString(",")}")
    // and the co-located join computes the same answer as the plain join
    val li = spark.read.parquet(s"${SparkSuite.Sf0001}/lineitem.parquet")
    val o = spark.read.parquet(s"${SparkSuite.Sf0001}/orders.parquet")
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("o_orderpriority").collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq == plain)
  }

  test("static partition pruning reads 7 of the 30 date directories") {
    val df = graft.operators.PartitionedTables.partitionPruned(spark, SparkSuite.Sf0001)
    df.collect()
    val scan = scans(df).head
    assert(scan.partitionFilters.nonEmpty, "date predicate must be a partition filter")
    assert(scan.metadata.get("PartitionFilters").exists(_.contains("event_date")),
      s"PartitionFilters=${scan.metadata.get("PartitionFilters")}")
    assert(scan.selectedPartitions.partitionCount == 7,
      s"expected 7 pruned partitions, got ${scan.selectedPartitions.partitionCount}")
  }

  test("dim-side day filter prunes the fact scan via dynamic partition pruning") {
    val df = graft.operators.PartitionedTables.dppJoin(spark, SparkSuite.Sf0001)
    df.collect()
    val scan = scans(df).find(_.metadata.get("Location").exists(_.contains("graft_events_byday")))
      .getOrElse(fail("no partitioned events scan in plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("dynamicpruning")),
      s"expected dynamicpruningexpression, got ${scan.partitionFilters.mkString(";")}")
  }

  test("dimension correlation matrix builds pair products without any shuffle join") {
    val df = graft.operators.Similarity.dimCorrMatrix(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    // the d(d-1)/2 products are generated row-locally: the only joins are
    // the two broadcast marginal recombines; a SortMergeJoin or shuffled
    // hash join here would mean the outer-product shape regressed to a
    // corpus self-join
    assert(!names.exists(n => n.contains("SortMergeJoin") || n.contains("ShuffledHashJoin") ||
      n.contains("CartesianProduct") || n.contains("BroadcastNestedLoop")),
      s"pair products regressed to a shuffle join: ${names.distinct.mkString(",")}")
    assert(names.count(_.contains("BroadcastHashJoin")) == 2,
      s"expected exactly the two broadcast marginal joins: ${names.distinct.mkString(",")}")
  }

  test("ivf incremental assignment broadcasts centroids and shuffles only the argmin window") {
    val df = graft.operators.Similarity.ivfIncremental(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    // the corpus x centroids product is a broadcast (16-row centroid table),
    // never a shuffle join; the per-vector argmin is a partitioned window
    assert(!names.exists(n => n.contains("SortMergeJoin") || n.contains("ShuffledHashJoin") ||
      n.contains("CartesianProduct")),
      s"centroid recombine regressed to a shuffle join: ${names.distinct.mkString(",")}")
    assert(names.exists(_.contains("Window")), "expected the per-vector argmin window")
  }

  test("substring screen: zero joins — the automaton probe is row-local") {
    val df = graft.operators.TextAnalysis.substringContamination(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    // snippets compile into ONE Aho-Corasick expression at build time
    // (r12, VERDICT r11 #4) — the probe plan must contain NO join of any
    // kind: a join reappearing means the screen regressed to the old
    // snippet-broadcast contains-loop (O(K) scans per row)
    assert(!names.exists(n => n.contains("Join") || n.contains("CartesianProduct")),
      s"substring screen grew a join: ${names.distinct.mkString(",")}")
    // the probe side is corpusWithNearDups' 2-scan union — more means a
    // leg re-derives the corpus
    assert(scans(df).count(_.metadata.get("Location").exists(_.contains("documents"))) <= 2,
      "substring screen re-scans the corpus")
  }

  test("threshold sweep: pair-graph explode aggregates partial+final, no cartesian") {
    val df = graft.operators.Dedup.thresholdSweep(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct.mkString(","))
    // both rollups over the exploded (threshold, pair) rows must combine
    // map-side before their exchanges
    assert(names.count(_.contains("HashAggregate")) >= 4,
      s"expected partial+final aggregates: ${names.distinct.mkString(",")}")
  }

  test("packing sweep: narrow projection before the explode; scans prune to 3 columns") {
    val df = graft.operators.TextAnalysis.packingSweep(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoop")), names.distinct.mkString(","))
    // the x5 length explode must replicate (id, lang, longs) rows, never
    // text: every documents scan reads only the 3 columns the sweep needs
    scans(df).filter(_.metadata.get("Location").exists(_.contains("documents")))
      .foreach { s =>
        assert(s.requiredSchema.fieldNames.toSet.subsetOf(Set("doc_id", "lang", "text")),
          s"scan reads ${s.requiredSchema.fieldNames.mkString(",")}")
      }
    // both rollups combine map-side before their exchanges
    assert(names.count(_.contains("HashAggregate")) >= 4,
      s"expected partial+final aggregates: ${names.distinct.mkString(",")}")
  }

  test("deletion impact: one narrow multi-distinct pass; no product joins") {
    val df = graft.operators.EventOps.deletionImpact(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoop")), names.distinct.mkString(","))
    // the multi-distinct Expand must replicate the 4-column projection,
    // never payloads: every events scan prunes to the 3 source columns
    scans(df).filter(_.metadata.get("Location").exists(_.contains("events")))
      .foreach { s =>
        assert(s.requiredSchema.fieldNames.toSet.subsetOf(
          Set("user_id", "event_type", "ts")),
          s"scan reads ${s.requiredSchema.fieldNames.mkString(",")}")
      }
    assert(names.count(_.contains("HashAggregate")) >= 4,
      s"expected partial+final aggregates: ${names.distinct.mkString(",")}")
  }

  test("release diff: purge set broadcasts; no product joins; one manifest pass") {
    val df = graft.operators.TextAnalysis.releaseDiff(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoop")),
      s"release diff regressed to a product join: ${names.distinct.mkString(",")}")
    // the takedown purge set must ride a broadcast, never a shuffle join
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"expected a broadcast purge join: ${names.distinct.mkString(",")}")
  }

  test("eval burn: eval grams broadcast against the corpus explode; no products") {
    val df = graft.operators.TextAnalysis.evalBurn(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoop")),
      s"burn report regressed to a product join: ${names.distinct.mkString(",")}")
    // the benchmark-sized eval gram table must ride broadcasts, never a
    // corpus-sized shuffle join
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"expected broadcast gram/source joins: ${names.distinct.mkString(",")}")
  }

  test("deletion cascade: purge list broadcasts; only the orderkey join shuffles") {
    val df = graft.operators.RelationalExt.deletionCascade(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoop")), names.distinct.mkString(","))
    // the purge flag on orders must ride a broadcast — a shuffle there
    // would move the orders table to co-locate with a thousand-row list
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"expected the broadcast purge join: ${names.distinct.mkString(",")}")
  }

  test("audit sample: cusp selection is TakeOrdered; md5 joins broadcast") {
    val df = graft.operators.Dedup.auditSample(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    assert(names.exists(_.contains("TakeOrderedAndProject")),
      s"k-nearest cusp selection regressed to a global sort: ${names.distinct.mkString(",")}")
    assert(!names.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoop")), names.distinct.mkString(","))
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"expected broadcast md5 joins: ${names.distinct.mkString(",")}")
  }

  test("release report: audit joins never go nested-loop; key joins stay on 8-byte ids") {
    val df = graft.operators.TextAnalysis.releaseReport(spark, SparkSuite.Sf0001)
    df.collect()
    val names = nodes(df).map(_.nodeName)
    // contamination grams and takedown requests are broadcast-sized; the
    // kept-set joins move doc_id only — a BroadcastNestedLoopJoin or
    // CartesianProduct anywhere means an audit regressed to a pair scan
    assert(!names.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoop")),
      s"release audit regressed to a product join: ${names.distinct.mkString(",")}")
  }

  test("filtered search: queries broadcast on the label equi-key; no product joins") {
    // pre-filter form: the label predicate is an EQUI key — losing it to a
    // nested-loop join would score every (query, candidate) pair, the exact
    // failure filtered search exists to avoid
    val pre = graft.operators.Similarity.filteredTopK(spark, SparkSuite.Sf0001)
    pre.collect()
    val preNames = nodes(pre).map(_.nodeName)
    assert(!preNames.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoop")),
      s"pre-filter search regressed to a product join: ${preNames.distinct.mkString(",")}")
    assert(preNames.exists(_.contains("BroadcastHashJoin")),
      s"expected broadcast query-side joins: ${preNames.distinct.mkString(",")}")
    // post-filter IVF form: the only nested-loop joins allowed are the
    // documented n-row centroid broadcasts inside ivfAssign (every vector
    // must meet every centroid by construction); candidate/query/exact
    // joins must all stay hash
    val post = graft.operators.Similarity.filteredIvfTopK(spark, SparkSuite.Sf0001)
    post.collect()
    val postNodes = nodes(post)
    assert(!postNodes.exists(_.nodeName.contains("CartesianProduct")))
    val bnlj = postNodes.filter(_.nodeName.contains("BroadcastNestedLoop"))
    assert(bnlj.size <= 2, // assignment + probe legs of the one ivfAssign
      s"unexpected nested-loop joins beyond the centroid broadcast: ${bnlj.size}")
    assert(postNodes.map(_.nodeName).count(_.contains("BroadcastHashJoin")) >= 3,
      "candidate/query/exact joins must plan as broadcast hash joins")
  }

  test("code detect: scan prunes to the 3 needed columns; rollup is partial+final") {
    val df = graft.operators.TextAnalysis.codeDetect(spark, SparkSuite.Sf0001)
    val scan = scans(df).head
    assert(scan.requiredSchema.fieldNames.toSet == Set("doc_id", "source", "text"),
      s"scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
    val aggs = nodes(df).filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.size >= 2, "expected partial and final HashAggregate for the source rollup")
  }

  test("experiment tables: user-keyed folds only; recombines stay 1-row broadcasts") {
    for (df <- Seq(graft.operators.EventOps.abSrm(spark, SparkSuite.Sf0001),
        graft.operators.EventOps.powerMde(spark, SparkSuite.Sf0001),
        graft.operators.EventOps.signupFunnelBounded(spark, SparkSuite.Sf0001))) {
      df.collect()
      val names = nodes(df).map(_.nodeName)
      assert(!names.exists(_.contains("CartesianProduct")),
        s"experiment table regressed to a cartesian: ${names.distinct.mkString(",")}")
      // the only nested-loop join allowed is the 1-row totals recombine
      assert(names.count(_.contains("BroadcastNestedLoop")) <= 1,
        s"unexpected nested-loop joins: ${names.distinct.mkString(",")}")
      val aggs = names.filter(_.contains("HashAggregate"))
      assert(aggs.size >= 2, "expected partial+final aggregation")
    }
  }

  test("boilerplate prefix: scan prunes to 3 columns; fold is partial+final before the window") {
    val df = graft.operators.TextAnalysis.boilerplatePrefix(spark, SparkSuite.Sf0001)
    val scan = scans(df).head
    assert(scan.requiredSchema.fieldNames.toSet == Set("doc_id", "source", "text"),
      s"scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
    val names = nodes(df).map(_.nodeName)
    assert(names.count(_.contains("HashAggregate")) >= 2,
      "the (source, prefix) fold must combine map-side before its shuffle")
  }

  test("bpe tokenize: pruned 3-column scan, codegen'd merge loop, partial+final agg") {
    val df = graft.operators.TextAnalysis.tokenizeBpe(spark, SparkSuite.Sf0001)
    df.collect() // AQE: codegen spans exist only in the executed plan
    val scan = scans(df).head
    assert(scan.requiredSchema.fieldNames.toSet == Set("lang", "source", "text"),
      s"scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
    val names = nodes(df).map(_.nodeName)
    // the native expression must not force an interpreted projection seam
    assert(names.exists(_.contains("WholeStageCodegen")),
      s"BPE expression fell out of codegen: ${names.distinct.mkString(",")}")
    assert(names.count(_.contains("HashAggregate")) >= 2,
      "the (lang, source) fold must combine map-side before its shuffle")
  }

  test("bpe packing: per-lang window sorts partition-local (no global sort exchange)") {
    val df = graft.operators.TextAnalysis.packSequencesBpe(spark, SparkSuite.Sf0001)
    val names = nodes(df).map(_.nodeName)
    // exactly the lang hash-partition exchange plus the presentation sort's
    // range exchange — a third exchange means the cumsum went global
    assert(names.count(_.contains("Exchange")) <= 2,
      s"unexpected exchanges: ${names.filter(_.contains("Exchange")).mkString(",")}")
    val scan = scans(df).head
    assert(scan.requiredSchema.fieldNames.toSet == Set("doc_id", "lang", "text"),
      s"scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("tokenize trained: word-keyed hash joins only; scans prune; folds are partial+final") {
    val df = graft.operators.TextAnalysis.tokenizeTrained(spark, SparkSuite.Sf0001, k = 2)
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoopJoin")),
      s"trained-vocab apply must join on the word key: ${names.distinct.mkString(",")}")
    // every corpus scan prunes to the columns its branch needs (never text+all)
    scans(df).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet.subsetOf(Set("lang", "source", "text")),
        s"scan reads ${s.requiredSchema.fieldNames.mkString(",")}")
    }
    assert(names.count(_.contains("HashAggregate")) >= 4,
      "both the (lang,source,w) and (lang,source) folds must combine map-side")
  }

  test("release diff e2e: artifact diff is an id equi-join, never a product") {
    val df = graft.operators.TextAnalysis.pipelineReleaseDiffE2e(spark, SparkSuite.Sf0001)
    val names = nodes(df).map(_.nodeName)
    assert(!names.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoopJoin")),
      s"full-outer id join degenerated: ${names.distinct.mkString(",")}")
    // the read-back scans carry only the 4 diff columns, never the text
    scans(df).foreach { s =>
      assert(!s.requiredSchema.fieldNames.contains("text"),
        s"artifact read-back drags the payload: ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("filter agreement: the 6 output rows reuse the single folded row, not the corpus") {
    val df = graft.operators.TextAnalysis.filterAgreement(spark, SparkSuite.Sf0001)
    df.collect()
    // the corpus-sized flag fold happens ONCE behind a checkpoint; the six
    // pair projections must read that 1-row RDD, so the executed plan may
    // contain no parquet scan at all (a scan here means a branch re-folded
    // the corpus six times)
    assert(scans(df).isEmpty,
      s"filter-agreement branches re-read the corpus: ${nodes(df).map(_.nodeName).distinct.mkString(",")}")
  }
}

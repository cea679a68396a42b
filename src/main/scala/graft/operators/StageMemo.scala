package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one materialization policy. A memo of materialized
  * pipeline stages, keyed by (SparkContext identity, data dir, stage name),
  * built ONCE per (session, dir): [[apply]]. A lazy in-query frame several
  * branches read: [[shared]]. An eager lineage cut in a driver loop or a
  * build: [[truncate]]. Each is a local checkpoint — RDD blocks, freed by
  * the ContextCleaner when unreferenced, never registered in the
  * CacheManager (a per-query `persist()` leaked cached blocks into every
  * later query — ADVICE r5 #1). This is the 100 TB shape: materialize the
  * derived artifact once and answer every question from it. A stage build
  * that already ends in cuts (a loop's last [[truncate]], or a union of
  * them) is kept as it is rather than written a second time.
  *
  * ==Bounded residency (VERDICT r14 #1)==
  * The memo holds its stages for process lifetime, and the ContextCleaner
  * frees blocks only after a full GC (round 14: the LM family's stages
  * stayed resident across ~300 later bench queries, tripled GC time and
  * taxed every later family ~16%). So release is EXPLICIT: [[beginQuery]]
  * attributes reads to the declared queries, [[lastReaders]] derives each
  * stage's final consumer from a run order, and [[releaseAfter]] /
  * [[releaseAll]] drop entries AND unpersist their blocks now (a released
  * stage rebuilds for any later consumer, as in a fresh session).
  *
  * ==Immutable-dir contract==
  * A memoized stage is pinned to the FILES AS READ at build time: data
  * rewritten under `dir` mid-session is not seen. Deliberate: a corpus
  * version is an immutable path (new snapshot ⇒ new dir ⇒ new key).
  * ([[clear]] resets the memo when a test must re-read a mutated dir.)
  *
  * ==Plan audits==
  * A memo or [[shared]] frame explains as a checkpoint scan, which hides
  * the lineage a plan audit exists to read. Inside [[audit]] every stage
  * and shared frame is its un-materialized build instead. The scope
  * belongs to the calling thread (and threads started inside it), records
  * nothing (no memo entry, reader or rebuild) and is entered only by the
  * plan dumps (`PlansDump`, `PlanFiles`) and specs.
  */
private[graft] object StageMemo {

  /** One lock per key: a global lock would serialize unrelated stage
    * builds (each an eager Spark job) behind each other (ADVICE r6); the
    * per-key lock still builds each stage exactly once. */
  private val stageCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Memo]

  private final class Memo(build: () => (DataFrame, Seq[RDD[_]])) {
    /** The RDDs [[df]] serves, published once built (read lock-free). */
    @volatile var rdds: Seq[RDD[_]] = Nil
    lazy val df: DataFrame = build() match { // lazy val = per-instance (per-key) lock
      case (d, rs) => rdds = rs; d
    }
  }

  /** Context key: (applicationId, startTime) — unique per SparkContext
    * within a JVM (identityHashCode is not: it can collide after GC and
    * hand a new context a DataFrame bound to a dead one). */
  private def ctxKey(spark: SparkSession): String = {
    val sc = spark.sparkContext
    s"${sc.applicationId}@${sc.startTime}"
  }

  def apply(spark: SparkSession, dir: String, stage: String)(
      build: => DataFrame): DataFrame =
    if (auditing.value) build else memoized(spark, dir, stage, build)

  private def memoized(spark: SparkSession, dir: String, stage: String,
      build: => DataFrame): DataFrame = {
    val ck = ctxKey(spark)
    // one active SparkContext per JVM: evict other contexts' (dead) entries
    // so cycled sessions don't pin stopped contexts' plans and RDDs
    stageCache.keys.filter(_._1 != ck).foreach(stageCache.remove)
    val q = currentQuery.get()
    if (q != null)
      readLog.updateWith(normalize(stage)) {
        case Some(rs) => Some(rs + q)
        case None     => Some(Set(q))
      }
    // REBUILD VISIBILITY (ADVICE r15): a build of a stage released in this
    // tracking window bills a consumer that ran after the stage's inferred
    // last reader; count it so the bench artifact shows the inflation.
    val key = (ck, dir, stage)
    if (!stageCache.contains(key) && releasedStages.contains(normalize(stage))) {
      rebuildCounter.incrementAndGet()
      val reader = Option(q).getOrElse("<unattributed>")
      rebuilds.updateWith(normalize(stage)) {
        case Some(rs) => Some(rs + reader)
        case None     => Some(Set(reader))
      }
    }
    // TrieMap.getOrElseUpdate is atomic per key; the eager checkpoint job
    // runs under the winning Memo's own lazy-val lock, so two stages build
    // concurrently while two callers of the SAME stage still share one build
    stageCache.getOrElseUpdate(key, new Memo(() => materialize(build))).df
  }

  /** A build that is only materialized checkpoint scans and unions of
    * them, none held by a resident entry, is kept as it is (a cut would
    * write its rows again); any other build is cut. Ownership keeps
    * [[unpersist]] of one entry off the blocks another entry serves. */
  private def materialize(build: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    def cutsOf(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case lr: LogicalRDD => lr.rdd }
    val plan = build.queryExecution.optimizedPlan
    val cuts = cutsOf(build)
    val held = stageCache.values.flatMap(_.rdds.map(_.id)).toSet
    val alreadyCut = cuts.nonEmpty &&
      !plan.exists { case _: LogicalRDD | _: Union => false; case _ => true } &&
      cuts.forall(r => r.isCheckpointed && !held(r.id))
    if (alreadyCut) (build, cuts)
    else { val cut = truncate(build); (cut, cutsOf(cut)) }
  }

  // ------------------------------------------------ plan audits

  private val auditing = new scala.util.DynamicVariable(false)

  /** Runs `body` in plan-audit mode (see the class doc): [[apply]] returns
    * the stage build un-materialized and [[shared]] is the identity. The
    * mode is reset when `body` returns or throws. */
  def audit[T](body: => T): T = auditing.withValue(true)(body)

  /** True inside [[audit]] on this thread. */
  def isAuditing: Boolean = auditing.value

  /** An in-query shared frame — one several plan branches read, which
    * Spark would otherwise recompute per branch (no cross-branch CSE):
    * materialized once by a lazy local checkpoint, or left as its full
    * lineage inside [[audit]]. */
  def shared(df: DataFrame): DataFrame =
    if (auditing.value) df else df.localCheckpoint(false)

  /** The lineage cut for driver loops and builds: an EAGER local
    * checkpoint, inside [[audit]] too, because a loop needs the action to
    * progress (the CC round's `Observation` fires only when its job runs).
    * A cut, not a cache: under a cache each round's logical plan still
    * nests the whole lineage, so planning cost grows per round — the
    * round-13 BPE probe measured exponent 3.6 in the merge count (k = 16)
    * under cache, 1.0 after the cut. */
  def truncate(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Resident stage names (spec hook). */
  private[operators] def residentStages: Set[String] = stageCache.keySet.map(_._3).toSet

  /** Test/bench hook: drop every memoized stage WITHOUT unpersisting
    * (blocks are then freed by the ContextCleaner once the returned
    * DataFrames go unreferenced and a GC runs) — kept for the dir-mutation
    * specs, where a caller may still hold a frame built on the old files.
    * Bench paths want [[releaseAll]] instead. */
  def clear(): Unit =
    stageCache.clear()

  // ------------------------------------------------ bounded residency

  /** Query attribution for [[lastReaders]]: the name set by [[beginQuery]]
    * is recorded against every stage read until the next beginQuery. */
  private val currentQuery =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** normalized stage name → declared queries observed reading it. */
  private val readLog =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]

  /** Stage names can embed dir-dependent numerics (`embed_pairs_<maxId>`);
    * attribution learned at the warmup SF must transfer to the measured
    * SF, so reader bookkeeping drops a trailing numeric suffix. */
  private def normalize(stage: String): String =
    stage.replaceAll("_[0-9]+$", "")

  /** Marks the query whose stage reads should be attributed to `name`. */
  def beginQuery(name: String): Unit = currentQuery.set(name)

  /** Each observed stage's LAST consumer under `queryOrder` (the order the
    * caller runs queries in). A stage read only outside any beginQuery
    * window, or by a query not in the order, keeps no entry — it is then
    * never auto-released. */
  def lastReaders(queryOrder: Seq[String]): Map[String, String] =
    readLog.toMap.flatMap { case (stage, readers) =>
      queryOrder.reverseIterator.find(readers).map(stage -> _)
    }

  /** Releases every resident stage whose last consumer (per `lastReader`,
    * from [[lastReaders]]) is `query`: the entry is removed AND its
    * checkpoint blocks are unpersisted NOW — not left to a GC that may
    * never run during the process. A later (unattributed) consumer simply
    * rebuilds the stage. */
  def releaseAfter(query: String, lastReader: Map[String, String]): Unit =
    stageCache.keys
      .filter(k => lastReader.get(normalize(k._3)).contains(query))
      .foreach { k =>
        releasedStages.put(normalize(k._3), ())
        stageCache.remove(k).foreach(unpersist)
      }

  /** Drops EVERY memoized stage and eagerly unpersists its blocks — the
    * bench/CLI reset (safe there: queries re-derive every frame from the
    * memo on each invocation, so no stale reference can survive). */
  def releaseAll(): Unit =
    stageCache.keys.foreach { k =>
      releasedStages.put(normalize(k._3), ())
      stageCache.remove(k).foreach(unpersist)
    }

  // ------------------------------------------------ rebuild visibility

  /** Normalized names of stages released since [[resetRebuildTracking]];
    * a later build of one of these is a REBUILD, logged in [[rebuilds]]
    * against the query it billed (ADVICE r15: aliasing under [[normalize]]
    * or non-transferring warm-SF attribution would otherwise silently
    * inflate a later query's timed line). */
  private val releasedStages =
    scala.collection.concurrent.TrieMap.empty[String, Unit]
  private val rebuilds =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]
  private val rebuildCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Starts a fresh rebuild-tracking window (bench calls this right after
    * the warmup's [[releaseAll]], so EXPECTED timed-run first builds don't
    * count as rebuilds — only post-release rebuilds do). */
  def resetRebuildTracking(): Unit = {
    releasedStages.clear(); rebuilds.clear(); rebuildCounter.set(0L)
  }

  /** Total rebuilds of previously-released stages in this window. */
  def rebuildCount: Long = rebuildCounter.get()

  /** normalized stage → queries whose timed window absorbed a rebuild. */
  def rebuildLog: Map[String, Set[String]] = rebuilds.toMap

  /** Frees a released stage's checkpoint blocks: the RDDs [[materialize]]
    * checked and served (one for a cut build, one per branch for a kept
    * union of cuts). Unpersist is idempotent and safe against the
    * ContextCleaner. Lineage was truncated at checkpoint time, so the RDDs
    * must never be acted on again — guaranteed here because the memo entry
    * is removed first and every consumer re-enters through [[apply]]. */
  private def unpersist(m: Memo): Unit =
    m.rdds.foreach { r =>
      try r.unpersist(blocking = false) catch { case NonFatal(_) => () }
    }
}

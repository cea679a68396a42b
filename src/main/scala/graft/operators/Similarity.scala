package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Fixtures.{spread, table}

/** Similarity search over the `embeddings` table (`embedding: array<float>`).
  *
  * Cross-engine float determinism: the dot product is a strict left-to-right
  * fold (`aggregate` in Spark, `list_reduce` in DuckDB) over per-element
  * products of floats cast to double. Every FP operation is IEEE-defined and
  * sequenced the same way on both engines, so the cosine comes out
  * BIT-IDENTICAL — no rounding tolerance needed for the oracle.
  *
  * Scale paths: brute-force top-k is the correctness baseline (broadcast the
  * query set, one scan of the candidates); [[SignLsh]] buckets vectors by
  * deterministic hyperplane signs so candidate generation is a bucket join —
  * the 100 TB route where a cross product is impossible.
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns, in double —
    * native codegen'd expression (see VectorExpressions; bit-identical to
    * [[dotHof]], which stays as the built-ins-only reference form). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.vec_dot(a, b)

  /** Built-ins-only dot product (interpreted HOFs) — kept as the semantic
    * reference the native expression is tested against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query vector (vec_id < 5), the 3
    * nearest neighbors. The tiny query side is broadcast; candidates stream
    * through one scan — at any SF this is a single pass over the big side.
    * Norms are precomputed per vector (one fold each) so the per-pair work
    * is a single dot-product fold, not three. */
  def cosineTopK(spark: SparkSession, dir: String, numQueries: Int = 5, k: Int = 3): DataFrame = {
    val e = table(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "rank", "cos")
      .orderBy("query_id", "rank")
  }

  private val dotSql =
    """list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(list_zip(%s, %s), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
      |      (acc, v) -> acc + v)""".stripMargin

  private def cosSql(a: String, b: String): String = {
    val d = dotSql.format(a, b)
    val na = dotSql.format(a, a)
    val nb = dotSql.format(b, b)
    s"($d) / (sqrt($na) * sqrt($nb))"
  }

  def cosineTopKOracle(numQueries: Int = 5, k: Int = 3): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $numQueries),
       |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
       |scored AS (
       |  SELECT query_id, cand_id, ${cosSql("qv", "cv")} AS cos
       |  FROM q JOIN c ON query_id != cand_id
       |), ranked AS (
       |  SELECT query_id, cand_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, cand_id, rank, cos FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------ kNN-graph diagnostics
  /** kNN-GRAPH SYMMETRY / HUBNESS diagnostic — per label: how many of the
    * exact cosine k-nearest-neighbor edges are MUTUAL (a ∈ knn(b) and
    * b ∈ knn(a)), the max in-degree (hubs), and the count of vectors never
    * chosen as anyone's neighbor (anti-hubs). High-dimensional embedding
    * spaces concentrate: hubness explodes and mutuality collapses as
    * intrinsic dimension rises (Radovanović et al., JMLR 2010), which
    * degrades every kNN-based downstream (semdedup, kNN-LM retrieval,
    * label propagation). This is the one-page health check run on an
    * evaluation sample before trusting those pipelines.
    *
    * Scale shape: like the recall-eval harness, the exact n² scoring is
    * the EVAL harness over a bounded sample — the production path builds
    * candidate edges from the IVF/LSH buckets; the mutual and in-degree
    * rollups are linear in edges (n·k) either way. Norms are computed
    * once and the edge list is checkpointed once for its three consumers
    * (mutual both sides, in-degree). */
  def knnGraphMutual(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = StageMemo.shared(spread(table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label")))
      .withColumn("nrm", norm(col("embedding"))))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    val w = Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))
    val edges = StageMemo.shared(a.join(b, col("id_a") =!= col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("id_a", "id_b"))
    val mut = edges.as("x")
      .join(edges.as("y"),
        col("x.id_a") === col("y.id_b") && col("x.id_b") === col("y.id_a"), "left_semi")
      .groupBy("id_a").agg(count(lit(1)).as("n_mut"))
      .withColumnRenamed("id_a", "vec_id")
    val indeg = edges.groupBy("id_b").agg(count(lit(1)).as("in_deg"))
      .withColumnRenamed("id_b", "vec_id")
    e.select(col("vec_id"), col("label"))
      .join(mut, Seq("vec_id"), "left")
      .join(indeg, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_mut", "in_deg"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("n_mut")).as("n_mutual"),
        max(col("in_deg")).as("max_in_degree"),
        sum(when(col("in_deg") === 0L, 1L).otherwise(0L)).as("n_never_chosen"))
      .select(col("label").cast("bigint").as("label"), col("n_vecs"),
        (col("n_vecs") * k).cast("bigint").as("n_edges"),
        expr("CAST(n_mutual AS BIGINT)").as("n_mutual"),
        expr(s"CAST(n_mutual * 1000 div (n_vecs * $k) AS BIGINT)").as("mutual_permille"),
        expr("CAST(max_in_degree AS BIGINT)").as("max_in_degree"),
        expr("CAST(n_never_chosen AS BIGINT)").as("n_never_chosen"))
      .orderBy("label")
  }

  def knnGraphMutualOracle(k: Int = 5): String =
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         ${cosSql("a.embedding", "b.embedding")} AS cos
       |  FROM e a JOIN e b ON a.vec_id != b.vec_id
       |), edges AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT id_a, id_b,
       |           row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rnk
       |    FROM scored) r WHERE rnk <= $k
       |), mut AS (
       |  SELECT x.id_a AS vec_id, count(*) AS n_mut
       |  FROM edges x JOIN edges y ON x.id_a = y.id_b AND x.id_b = y.id_a
       |  GROUP BY 1
       |), indeg AS (
       |  SELECT id_b AS vec_id, count(*) AS in_deg FROM edges GROUP BY 1
       |), per AS (
       |  SELECT e.vec_id, e.label, COALESCE(m.n_mut, 0) AS n_mut,
       |         COALESCE(i.in_deg, 0) AS in_deg
       |  FROM e LEFT JOIN mut m USING (vec_id) LEFT JOIN indeg i USING (vec_id)
       |)
       |SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
       |  CAST(count(*) * $k AS BIGINT) AS n_edges,
       |  CAST(sum(n_mut) AS BIGINT) AS n_mutual,
       |  CAST(sum(n_mut) * 1000 // (count(*) * $k) AS BIGINT) AS mutual_permille,
       |  CAST(max(in_deg) AS BIGINT) AS max_in_degree,
       |  CAST(sum(CASE WHEN in_deg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_never_chosen
       |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  /** Embedding near-duplicate pairs: label-blocked (the coarse partition
    * stands in for an IVF cell), vec_id-bounded, cosine ≥ 0.9. The block
    * join keeps the pair count linear-ish instead of n².
    *
    * The fixture embeddings are near-orthogonal (max natural same-label
    * cosine ≈ 0.47), so — like the text dedup demos — the corpus is unioned
    * with deterministically perturbed copies (element-wise +0.01, id offset
    * 10⁶) whose cosine to their source is ≈0.99; the operator must find
    * exactly those pairs and nothing else. */
  def embeddingNearDups(spark: SparkSession, dir: String, maxId: Long = 1000): DataFrame =
    sharedEmbeddingPairs(spark, dir, maxId).orderBy("id_a", "id_b")

  /** The embedding pair graph, materialized once per (session, dir) —
    * [[embeddingNearDups]] and [[graft.operators.Dedup.dedupEnsemble]]
    * both read it; without the memo the ensemble re-ran the per-label
    * cosine self-join per call (the sharedVerifiedPairs pattern). */
  private[operators] def sharedEmbeddingPairs(
      spark: SparkSession, dir: String, maxId: Long = 1000): DataFrame =
    StageMemo(spark, dir, s"embed_pairs_$maxId")(buildEmbeddingPairs(spark, dir, maxId))

  private def buildEmbeddingPairs(spark: SparkSession, dir: String, maxId: Long): DataFrame = {
    val base = table(spark, dir, "embeddings").filter(col("vec_id") < maxId)
    val perturbed = base.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => (x.cast("double") + 0.01).cast("float")).as("embedding"),
      col("label"))
    // norms computed once, reused on both join sides
    val e = StageMemo.shared(spread(base.select("vec_id", "embedding", "label").unionAll(perturbed))
      .withColumn("nrm", norm(col("embedding"))))
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.9)
      .select("id_a", "id_b", "cos") // unsorted: consumers sort after the memo read
  }

  def embeddingNearDupsOracle(maxId: Long = 1000): String =
    s"""WITH base AS (SELECT * FROM embeddings WHERE vec_id < $maxId),
       |e AS (
       |  SELECT vec_id, embedding, label FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT)) AS embedding,
       |         label
       |  FROM base
       |)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.embedding", "b.embedding")} AS cos
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------- exact vector dedup
  /** EXACT duplicate VECTORS (round 11) — the storage audit below
    * [[embeddingNearDups]]'s geometric one: the same embedding stored
    * under two ids (re-ingested batch, double-featurized doc) wastes index
    * memory and — worse — puts the same point in an ANN result twice. Key
    * = md5 of the micro-quantized coordinate string (the repo's exact
    * ⌊x·10⁶⌋ convention, so float formatting can't desync the engines).
    * The fixture's vectors are all distinct, so duplicates are PLANTED
    * (every 41st vector re-ingested verbatim under id+10⁶ — the
    * [[graft.operators.Dedup.exactDupGroups]] recipe); the op must find
    * exactly those groups and nothing else (spec'd).
    *
    * 100 TB shape: identical to text exact-dedup — one scan, a 16 B hash
    * as the only shuffle key, count-per-group; no vector ever crosses the
    * exchange. */
  def exactVectorDups(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "embeddings").select("vec_id", "embedding")
    val reingested = base.filter(col("vec_id") % 41 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    base.unionAll(reingested)
      .select(col("vec_id"),
        md5(concat_ws(",", transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long").cast("string")))).as("vh"))
      .groupBy("vh")
      .agg(min(col("vec_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  val exactVectorDupsOracle: String =
    """WITH e AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
      |  WHERE vec_id % 41 = 0
      |), hashed AS (
      |  SELECT vec_id,
      |    md5(array_to_string(list_transform(embedding,
      |      x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)),
      |      ',')) AS vh
      |  FROM e
      |)
      |SELECT CAST(min(vec_id) AS BIGINT) AS keep_id, count(*) AS n_copies
      |FROM hashed GROUP BY vh HAVING count(*) > 1
      |ORDER BY keep_id""".stripMargin

  /** IVF-style ANN: a coarse quantizer (seeded MLlib k-means) partitions the
    * vector space into cells; each vector is indexed under its cell, and a
    * query probes only the `nprobe` nearest cells — the inverted-file layout
    * every production vector store uses at scale (the cell id is the shuffle
    * /storage partition key; candidates per query are |data|·nprobe/k).
    * Deterministic via the fixed seed; recall vs brute force is pinned in
    * tests. */
  object Ivf {

    def annCandidates(spark: SparkSession, dir: String, numQueries: Int = 20,
        k: Int = 16, nprobe: Int = 4): DataFrame = {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val e = table(spark, dir, "embeddings")
        .withColumn("features", array_to_vector(col("embedding")))
      val model = new KMeans().setK(k).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("features").setPredictionCol("cell").fit(e)
      val indexed = model.transform(e).select(col("vec_id"), col("embedding"), col("cell"))
      // probe assignment: the query set is tiny — rank cells by distance driver-side
      val centers = model.clusterCenters
      val queries = e.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .collect()
        .flatMap { r =>
          val q = r.getSeq[Float](1).toArray
          val byDist = centers.zipWithIndex.map { case (c, i) =>
            var d = 0.0
            var j = 0
            while (j < q.length) { val t = q(j) - c(j); d += t * t; j += 1 }
            (d, i)
          }.sortBy(_._1).take(nprobe)
          byDist.map { case (_, cell) => (r.getLong(0), cell) }
        }
      import spark.implicits._
      val probes = queries.toSeq.toDF("query_id", "cell")
      val qv = e.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      broadcast(probes).join(indexed, "cell")
        .filter(col("query_id") =!= col("vec_id"))
        .join(broadcast(qv), "query_id")
        .withColumn("cos", cosine(col("qv"), col("embedding")))
        .select(col("query_id"), col("vec_id").as("cand_id"), col("cos"))
    }
  }

  private val l2Sql =
    """list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(list_zip(%s, %s),
      |          x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
      |      (acc, v) -> acc + v)""".stripMargin

  /** ORACLE-GATED IVF ANN — the deterministic coarse-quantizer variant of
    * [[Ivf]] (whose MLlib-KMeans centroids aren't oracle-expressible). The
    * quantizer is Lloyd-iteration-zero with fixed seeds: centroids are the
    * corpus vectors with vec_id ∈ [100, 100+n); every vector is assigned to
    * its nearest centroid by squared-L2 (strict-fold, native codegen'd
    * expression; ties → smaller cell id), and a query probes only its
    * `nprobe` nearest cells. Candidates per query ≈ |data|·nprobe/n — the
    * inverted-file contraction. Everything (distance folds, argmin
    * tie-break, cosine, rank) is deterministic, so the ENTIRE
    * index-build + probe + score pipeline sits under the DuckDB oracle.
    * Shuffle profile at scale: centroid table broadcast (n rows), one
    * window shuffle on vec_id for assignment, bucket equi-join on cell —
    * never a cross product against the corpus. */
  /** The shared seed-centroid IVF quantizer (centroids = vec_id ∈
    * [100, 100+n)): per-vector nearest-cell assignment plus the
    * `nprobe`-cell probe list for rows matching `isQuery` — the ONE copy of
    * the cells/probes machinery every IVF-shaped consumer (plain, PQ,
    * hybrid-RRF leg) builds on, so the centroid convention and tie-break
    * can never drift between them. */
  private def ivfAssign(e: DataFrame, nCentroids: Int, nprobe: Int,
      isQuery: Column): (DataFrame, DataFrame) = {
    import graft.functions.VectorExpressions.vec_l2sq
    val cents = e.filter(col("vec_id") >= 100 && col("vec_id") < 100 + nCentroids)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))
    val dists = e.join(broadcast(cents))
      .withColumn("dist", vec_l2sq(col("embedding"), col("cv")))
      .select("vec_id", "cell", "dist")
    val wAssign = Window.partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    // nearest-cell assignment as a PARTIAL-AGGREGATABLE min over
    // struct(dist, cell) — lexicographic struct ordering IS the window's
    // (dist, cell) tie-break, but a groupBy folds map-side instead of
    // sort-shuffling all |corpus|·n_cells distance rows through a window
    // (the r16 ANN-floor finding: this window was the fixed cost under
    // every IVF consumer)
    val cells = dists.groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"))
    val probes = dists.filter(isQuery)
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") <= nprobe)
      // cell_rn rides along so a SWEEP can build candidates ONCE at the
      // max probe count and carve each leg as `cell_rn <= np` (probe sets
      // are nested by construction); single-nprobe consumers ignore it
      .select(col("vec_id").as("query_id"), col("cell"), col("rn").as("cell_rn"))
    (cells, probes)
  }

  /** Brute-force ground-truth (query_id, cand_id) pairs, MATERIALIZED once
    * per (session, dir, numQueries, k): the frame every eval/sweep leg
    * joins against. recallEval, nprobeSweep, and compressionSweep each
    * referenced it in several union branches, and Spark recomputes a
    * subplan per branch — at sf0.1 that was 8+ brute-force corpus scans
    * per bench pass across the family (the r15 ANN-flatness finding).
    * numQueries·k rows of state; the sweeps' recall joins now cost
    * index-probe work only. */
  private def gtCosine(spark: SparkSession, dir: String,
      numQueries: Int, k: Int): DataFrame =
    StageMemo(spark, dir, s"ann_gt_cos_${numQueries}_$k")(
      cosineTopK(spark, dir, numQueries, k).select("query_id", "cand_id"))

  def ivfTopK(spark: SparkSession, dir: String, numQueries: Int = 5, k: Int = 3,
      nCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = table(spark, dir, "embeddings")
    val (cells, probes) = ivfAssign(e, nCentroids, nprobe, col("vec_id") < numQueries)
    val qv = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    broadcast(probes).join(cells, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"))
      .join(broadcast(qv), "query_id").join(cv, "cand_id")
      .withColumn("cos", dot(col("qv"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "rank", "cos")
      .orderBy("query_id", "rank")
  }

  /** Shared oracle CTE text for [[ivfAssign]] — cents → ivf_d →
    * ranked_cells → cells, plus a probes CTE with a caller-supplied filter
    * and projection, so the SQL twin of the quantizer has exactly one copy
    * too. */
  private def ivfAssignCtes(nCentroids: Int, nprobe: Int, probeWhere: String,
      probeSelect: String = "vec_id AS query_id, cell"): String = {
    val distSql = l2Sql.format("e.embedding", "c.cv")
    s"""cents AS (
       |  SELECT vec_id AS cell, embedding AS cv FROM embeddings
       |  WHERE vec_id >= 100 AND vec_id < ${100 + nCentroids}
       |), ivf_d AS (
       |  SELECT e.vec_id, c.cell, $distSql AS dist
       |  FROM embeddings e CROSS JOIN cents c
       |), ranked_cells AS (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |  FROM ivf_d
       |), cells AS (
       |  SELECT vec_id, cell FROM ranked_cells WHERE rn = 1
       |), probes AS (
       |  SELECT $probeSelect FROM ranked_cells
       |  WHERE $probeWhere AND rn <= $nprobe
       |)""".stripMargin
  }

  def ivfTopKOracle(numQueries: Int = 5, k: Int = 3,
      nCentroids: Int = 16, nprobe: Int = 4): String = {
    s"""WITH ${ivfAssignCtes(nCentroids, nprobe, s"vec_id < $numQueries")}, cands AS (
       |  SELECT query_id, cells.vec_id AS cand_id
       |  FROM probes JOIN cells USING (cell)
       |  WHERE query_id != cells.vec_id
       |), scored AS (
       |  SELECT query_id, cand_id, ${cosSql("qe.embedding", "ce.embedding")} AS cos
       |  FROM cands
       |  JOIN embeddings qe ON qe.vec_id = query_id
       |  JOIN embeddings ce ON ce.vec_id = cand_id
       |), ranked AS (
       |  SELECT query_id, cand_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, cand_id, rank, cos FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** IVF CELL-BALANCE report — the quantizer-health read before trusting
    * any nprobe recall number: per-cell population, per-mille share, and
    * the max/mean imbalance ratio (1000 = perfectly balanced; a hot cell
    * makes its probes scan that fraction of the corpus). Same seed-centroid
    * assignment as every IVF consumer ([[ivfAssign]]), so the report
    * describes exactly the index the queries use; all ratios exact
    * integers. */
  def ivfCellBalance(spark: SparkSession, dir: String,
      nCentroids: Int = 16): DataFrame = {
    val e = table(spark, dir, "embeddings")
    val (cells, _) = ivfAssign(e, nCentroids, 1, lit(false))
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("sz"))
    sizes.crossJoin(broadcast(
        sizes.agg(sum(col("sz")).as("total"), max(col("sz")).as("mx"))))
      .select(col("cell"), col("sz"),
        expr("sz * 1000 div total").as("share_permille"),
        expr(s"mx * $nCentroids * 1000 div total").as("imbalance_milli"))
      .orderBy("cell")
  }

  def ivfCellBalanceOracle(nCentroids: Int = 16): String =
    s"""WITH ${ivfAssignCtes(nCentroids, 1, "FALSE")},
       |sizes AS (SELECT cell, count(*) AS sz FROM cells GROUP BY cell),
       |t AS (SELECT CAST(sum(sz) AS BIGINT) AS total, max(sz) AS mx FROM sizes)
       |SELECT cell, sz, sz * 1000 // total AS share_permille,
       |       mx * $nCentroids * 1000 // total AS imbalance_milli
       |FROM sizes, t ORDER BY cell""".stripMargin

  // ------------------------------------------------ filtered vector search
  /** FILTERED EXACT TOP-K — vector search under a metadata predicate, the
    * request shape every production vector store serves ("nearest
    * neighbors WHERE label = X"): each query retrieves its k nearest
    * cosine neighbors among candidates sharing ITS OWN label (self
    * excluded), plus the eligible-pool size so the table shows the
    * selectivity the predicate imposed. This is the PRE-FILTER strategy —
    * the predicate lands on the candidate scan (parquet-pushdown-able at
    * scale) and the scoring runs over survivors only — optimal when the
    * filter is selective; the post-filter alternative (probe an
    * unfiltered index, discard, re-probe deeper) is [[filteredIvfTopK]].
    * Queries broadcast; no shuffle carries the corpus. */
  def filteredTopK(spark: SparkSession, dir: String, numQueries: Int = 8,
      k: Int = 3): DataFrame = {
    val e = table(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("cand_id"), col("label").as("clabel"),
      col("embedding").as("cv"), norm(col("embedding")).as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    broadcast(q)
      .join(c, col("qlabel") === col("clabel") && col("query_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("n_eligible", count(lit(1)).over(Window.partitionBy("query_id")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("qlabel").cast("bigint").as("label"),
        col("cand_id"), col("rank"), col("cos"), col("n_eligible"))
      .orderBy("query_id", "rank")
  }

  def filteredTopKOracle(numQueries: Int = 8, k: Int = 3): String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(label AS BIGINT) AS label,
       |             embedding AS qv FROM embeddings WHERE vec_id < $numQueries),
       |c AS (SELECT vec_id AS cand_id, CAST(label AS BIGINT) AS clabel,
       |        embedding AS cv FROM embeddings),
       |scored AS (
       |  SELECT query_id, label, cand_id, ${cosSql("qv", "cv")} AS cos
       |  FROM q JOIN c ON label = clabel AND query_id != cand_id
       |), ranked AS (
       |  SELECT query_id, label, cand_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank,
       |         count(*) OVER (PARTITION BY query_id) AS n_eligible
       |  FROM scored
       |)
       |SELECT query_id, label, cand_id, rank, cos, n_eligible FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------- MMR diversification
  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein, SIGIR
    * 1998) — the diversity pass a retrieval stack runs AFTER top-k: from
    * each query's exact top-`kCand` candidates, greedily pick `kPick`
    * maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) at λ = 0.5, ties to
    * the smaller cand_id. Returns (query, round, pick, rel, mmr) — the
    * de-redundified shortlist a RAG context builder actually wants when
    * near-duplicate chunks crowd the raw top-k.
    *
    * Cross-engine determinism: every rel/sim is the strict-fold cosine
    * both engines already agree on, and each MMR score is
    * `0.5 · (rel − maxsim)` — ONE subtraction of two agreed doubles, one
    * exact halving — so the per-round argmax can never flip between
    * engines. The greedy recurrence unrolls `kPick` rounds (the
    * [[graft.operators.Dedup]] PageRank-unroll precedent); every frame in
    * it is numQueries·kCand-bounded, so the driver-side checkpoint per
    * round is O(queries·k), never corpus-sized. At scale the candidate
    * stage is whatever index produced the shortlist; MMR itself stays a
    * k²-per-query post-pass. */
  def mmrDiversify(spark: SparkSession, dir: String, numQueries: Int = 5,
      kCand: Int = 10, kPick: Int = 5): DataFrame = {
    val e = table(spark, dir, "embeddings")
    // tiny; reused by every round
    val cands = StageMemo.shared(cosineTopK(spark, dir, numQueries, kCand)
      .select(col("query_id"), col("cand_id"), col("cos").as("rel")))
    val cv = e.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nn"))
    val x = cands.join(cv, col("cand_id") === col("vec_id"))
      .select(col("query_id"), col("cand_id").as("a"),
        col("embedding").as("av"), col("nn").as("an"))
    val y = cands.join(cv, col("cand_id") === col("vec_id"))
      .select(col("query_id").as("qy"), col("cand_id").as("b"),
        col("embedding").as("bv"), col("nn").as("bn"))
    val sims = StageMemo.shared(x.join(y, col("query_id") === col("qy") && col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        (dot(col("av"), col("bv")) / (col("an") * col("bn"))).as("sim")))
    val w = Window.partitionBy("query_id")
    def pickTop(df: DataFrame, round: Int): DataFrame =
      df.withColumn("rn",
          row_number().over(w.orderBy(col("mmr").desc, col("cand_id"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), lit(round.toLong).as("round"),
          col("cand_id"), col("rel"), col("mmr"))
    // a loop cut: each round reads the last selection three times
    var sel = StageMemo.truncate(pickTop(cands.withColumn("mmr", lit(0.5) * col("rel")), 1))
    for (r <- 2 to kPick) {
      val msim = sims
        .join(sel.select(col("query_id"), col("cand_id").as("b")), Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("cand_id"))
        .agg(max("sim").as("msim"))
      val scored = cands
        .join(sel.select("query_id", "cand_id"), Seq("query_id", "cand_id"), "left_anti")
        .join(msim, Seq("query_id", "cand_id"))
        .withColumn("mmr", lit(0.5) * (col("rel") - col("msim")))
      sel = StageMemo.truncate(sel.unionByName(pickTop(scored, r)))
    }
    sel.orderBy("query_id", "round")
  }

  def mmrDiversifyOracle(numQueries: Int = 5, kCand: Int = 10,
      kPick: Int = 5): String = {
    val rounds = (2 to kPick).map { r =>
      s"""score$r AS (
         |  SELECT c.query_id, c.cand_id, c.rel,
         |    0.5 * (c.rel - max(s.sim)) AS mmr
         |  FROM cands c
         |  JOIN sims s ON s.query_id = c.query_id AND s.a = c.cand_id
         |  JOIN sel${r - 1} p ON p.query_id = s.query_id AND p.cand_id = s.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} m
         |                    WHERE m.query_id = c.query_id AND m.cand_id = c.cand_id)
         |  GROUP BY c.query_id, c.cand_id, c.rel
         |), p$r AS (
         |  SELECT query_id, CAST($r AS BIGINT) AS round, cand_id, rel, mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY mmr DESC, cand_id) AS rn FROM score$r) WHERE rn = 1
         |), sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH cands AS (
       |  SELECT query_id, cand_id, cos AS rel
       |  FROM (${cosineTopKOracle(numQueries, kCand)}) t
       |), sims AS (
       |  SELECT c1.query_id, c1.cand_id AS a, c2.cand_id AS b,
       |    ${cosSql("e1.embedding", "e2.embedding")} AS sim
       |  FROM cands c1
       |  JOIN cands c2 ON c2.query_id = c1.query_id AND c2.cand_id != c1.cand_id
       |  JOIN embeddings e1 ON e1.vec_id = c1.cand_id
       |  JOIN embeddings e2 ON e2.vec_id = c2.cand_id
       |), sel1 AS (
       |  SELECT query_id, CAST(1 AS BIGINT) AS round, cand_id, rel,
       |    0.5 * rel AS mmr FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY 0.5 * rel DESC, cand_id) AS rn FROM cands) WHERE rn = 1
       |),
       |$rounds
       |SELECT query_id, round, cand_id, rel, mmr FROM sel$kPick
       |ORDER BY query_id, round""".stripMargin
  }

  /** FILTERED IVF TOP-K — the POST-FILTER strategy on an unfiltered index:
    * probe the query's nprobe nearest cells of the shared seed-centroid
    * IVF ([[ivfAssign]] — the index does not know about the predicate),
    * THEN apply the label filter to the surfaced candidates and rank the
    * survivors. The `hit` column marks agreement with the exact filtered
    * answer ([[filteredTopK]]), so the table carries its own
    * filtered-recall story — the number an operator watches, because
    * post-filtering starves exactly when the predicate is selective
    * (expected survivors per probe ≈ |cell| · selectivity). The
    * production mitigations are probing ~nprobe/selectivity cells or
    * partitioning the index BY the filter column when it is
    * low-cardinality; this table is how you detect that you need them.
    * Index build, probe, filter, and the exact twin are all
    * deterministic strict-fold math, so the whole comparison sits under
    * the DuckDB oracle. Scale shape: the probe side is the usual
    * broadcast-probes bucket join; the exact twin is the eval harness
    * over a bounded query set, same posture as [[recallEval]]. */
  def filteredIvfTopK(spark: SparkSession, dir: String, numQueries: Int = 8,
      k: Int = 3, nCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = table(spark, dir, "embeddings")
    val (cells, probes) = ivfAssign(e, nCentroids, nprobe, col("vec_id") < numQueries)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("cand_id"), col("label").as("clabel"),
      col("embedding").as("cv"), norm(col("embedding")).as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    val approx = broadcast(probes).join(cells, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"))
      .join(broadcast(q), "query_id").join(c, "cand_id")
      .filter(col("qlabel") === col("clabel"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
    val exact = filteredTopK(spark, dir, numQueries, k)
      .select(col("query_id"), col("cand_id"), lit(1L).as("hit"))
    approx.join(broadcast(exact), Seq("query_id", "cand_id"), "left")
      .select(col("query_id"), col("cand_id"), col("rank"), col("cos"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .orderBy("query_id", "rank")
  }

  /** FILTERED-SEARCH NPROBE SWEEP — the knob table for the post-filter
    * strategy ([[filteredIvfTopK]]): per probe count, survivors returned
    * (the starvation signal — a query that cannot fill k under the
    * filter shows up as returned < gt_n), exact hits against the
    * filtered ground truth, and half-up recall permille. The production
    * read: walk down the column until recall clears the bar; if returned
    * starves before it does, post-filtering cannot serve this predicate
    * and the index needs label partitioning. Each leg is the already-
    * gated probe; the ground-truth denominator is computed from the
    * exact twin, not assumed to be numQueries·k. */
  def filteredNprobeSweep(spark: SparkSession, dir: String, numQueries: Int = 8,
      k: Int = 3): DataFrame = {
    // the exact filtered twin, materialized once: the ground-truth
    // denominator AND every leg's hit referee (it appeared 5× as union
    // subplans before — r15 ANN-flatness finding)
    val exact = StageMemo(spark, dir, s"ann_fsweep_exact_${numQueries}_$k")(
      filteredTopK(spark, dir, numQueries, k).select("query_id", "cand_id"))
    val gtN = exact.agg(count(lit(1)).as("gt_n"))
    // ONE index build + ONE label-filtered scoring pass at the MAX probe
    // count; each leg carves its candidates as cell_rn <= np (nested probe
    // sets) and re-ranks the tiny per-query frame
    val scored = StageMemo(spark, dir, s"ann_fsweep_scored_${numQueries}_$k") {
      val e = table(spark, dir, "embeddings")
      val (cells, probes) = ivfAssign(e, 16, 8, col("vec_id") < numQueries)
      val q = e.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("embedding").as("qv"), norm(col("embedding")).as("qn"))
      val c = e.select(col("vec_id").as("cand_id"), col("label").as("clabel"),
        col("embedding").as("cv"), norm(col("embedding")).as("cn"))
      broadcast(probes).join(cells, "cell")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"), col("cell_rn"))
        .join(broadcast(q), "query_id").join(c, "cand_id")
        .filter(col("qlabel") === col("clabel"))
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .select("query_id", "cand_id", "cell_rn", "cos")
    }
    val hits = scored.join(
      exact.withColumn("hit", lit(1L)), Seq("query_id", "cand_id"), "left")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    Seq(1, 2, 4, 8).map { np =>
      hits.filter(col("cell_rn") <= np)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .agg(count(lit(1)).as("returned"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(lit(np.toLong).as("nprobe"), col("returned"), col("hits"))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(gtN))
      .withColumn("recall_permille", expr("(hits * 1000 + gt_n div 2) div gt_n"))
      .select("nprobe", "returned", "hits", "gt_n", "recall_permille")
      .orderBy("nprobe")
  }

  def filteredNprobeSweepOracle(numQueries: Int = 8, k: Int = 3): String = {
    def cfg(np: Int): String =
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
         |  CAST(count(*) AS BIGINT) AS returned,
         |  CAST(sum(hit) AS BIGINT) AS hits
         |FROM (${filteredIvfTopKOracle(numQueries, k, nprobe = np)}) t""".stripMargin
    s"""WITH gt AS (
       |  SELECT CAST(count(*) AS BIGINT) AS gt_n
       |  FROM (${filteredTopKOracle(numQueries, k)}) t
       |)
       |SELECT nprobe, returned, hits, gt_n,
       |  (hits * 1000 + gt_n // 2) // gt_n AS recall_permille
       |FROM (
       |(${Seq(1, 2, 4, 8).map(cfg).mkString(")\nUNION ALL\n(")})
       |), gt ORDER BY nprobe""".stripMargin
  }

  def filteredIvfTopKOracle(numQueries: Int = 8, k: Int = 3,
      nCentroids: Int = 16, nprobe: Int = 4): String =
    s"""WITH ${ivfAssignCtes(nCentroids, nprobe, s"vec_id < $numQueries")}, fcands AS (
       |  SELECT query_id, cells.vec_id AS cand_id
       |  FROM probes JOIN cells USING (cell)
       |  WHERE query_id != cells.vec_id
       |), scored AS (
       |  SELECT query_id, cand_id, ${cosSql("qe.embedding", "ce.embedding")} AS cos
       |  FROM fcands
       |  JOIN embeddings qe ON qe.vec_id = query_id
       |  JOIN embeddings ce ON ce.vec_id = cand_id AND ce.label = qe.label
       |), ranked AS (
       |  SELECT query_id, cand_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM scored
       |), exact_scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS xrank
       |  FROM embeddings q
       |  JOIN embeddings c ON q.label = c.label AND q.vec_id != c.vec_id
       |  WHERE q.vec_id < $numQueries
       |), exact AS (SELECT query_id, cand_id FROM exact_scored WHERE xrank <= $k)
       |SELECT r.query_id, r.cand_id, r.rank, r.cos,
       |       CAST(CASE WHEN e.cand_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit
       |FROM ranked r LEFT JOIN exact e
       |  ON e.query_id = r.query_id AND e.cand_id = r.cand_id
       |WHERE r.rank <= $k ORDER BY r.query_id, r.rank""".stripMargin

  /** ORACLE-GATED IVF with ONE LLOYD REFINEMENT — a real distributed
    * k-means iteration, exactly verified cross-engine. Iteration 0 assigns
    * every vector to its nearest seed centroid (as [[ivfTopK]]); the M-step
    * recomputes centroids as QUANTIZED INTEGER means — per (cell, dim),
    * `c = floor(Σ(x_micro + 10⁶) / n)` where x_micro = floor(x·10⁶) —
    * and the E-step re-assigns by pure-integer squared distance
    * `Σ_d (x_off − c_off)²`. The +10⁶ offset keeps every operand
    * non-negative so floor-division agrees between Spark's `div`
    * (truncates toward zero) and DuckDB's `//` (floors) — they differ on
    * negatives, which a first implementation WILL hit. Differences cancel
    * the offset, per-dim terms stay ≤ 4·10¹², and the 64-dim sum ≤ 2.6·10¹⁴
    * — integer-exact at ANY corpus size because the centroid is divided
    * down before distances (unlike the multiply-through-by-n form, which
    * overflows past ~10⁸ rows per cell).
    *
    * Distributed shape: assignment-0 is the broadcast-centroid scan; the
    * M-step is one (cell, dim) shuffle with map-side partial sums (exactly
    * how IVF/k-means centroids refresh at 100 TB); the E-step joins the
    * exploded dims to the 16×64-row centroid table and partial-aggregates
    * the per-(vector, cell) distance before its shuffle. */
  def ivfRefinedTopK(spark: SparkSession, dir: String, numQueries: Int = 5, k: Int = 3,
      nCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    import graft.functions.VectorExpressions.vec_l2sq
    val e = table(spark, dir, "embeddings")
    val wAssign = Window.partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    // iteration 0: float strict-fold assignment to the seed vectors
    val cents0 = e.filter(col("vec_id") >= 100 && col("vec_id") < 100 + nCentroids)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))
    val cells0 = e.join(broadcast(cents0))
      .withColumn("dist", vec_l2sq(col("embedding"), col("cv")))
      .select("vec_id", "cell", "dist")
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select("vec_id", "cell")
    // M-step: offset-micro integer centroid means, floor division
    val dims = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("int").as("dim"),
        (expr("CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)") + 1000000L).as("x_off"))
    val cent1 = dims.join(cells0, "vec_id")
      .groupBy("cell", "dim")
      .agg(sum("x_off").as("sx"), count(lit(1)).as("n"))
      .select(col("cell"), col("dim"), expr("sx div n").as("c_off"))
    // E-step: integer re-assignment against the refined centroids
    val d1 = dims.join(cent1, "dim")
      .withColumn("dd", (col("x_off") - col("c_off")) * (col("x_off") - col("c_off")))
      .groupBy("vec_id", "cell").agg(sum("dd").as("dist"))
    val cells1 = d1.withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1).select("vec_id", "cell")
    val probes = d1.filter(col("vec_id") < numQueries)
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val qv = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    broadcast(probes).join(cells1, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"))
      .join(broadcast(qv), "query_id").join(cv, "cand_id")
      .withColumn("cos", dot(col("qv"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "rank", "cos")
      .orderBy("query_id", "rank")
  }

  def ivfRefinedTopKOracle(numQueries: Int = 5, k: Int = 3,
      nCentroids: Int = 16, nprobe: Int = 4): String = {
    val distSql = l2Sql.format("e.embedding", "c.cv")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cell, embedding AS cv FROM embeddings
       |  WHERE vec_id >= 100 AND vec_id < ${100 + nCentroids}
       |), d0 AS (
       |  SELECT e.vec_id, c.cell, $distSql AS dist
       |  FROM embeddings e CROSS JOIN cents0 c
       |), cells0 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM d0) WHERE rn = 1
       |), dims AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x_off
       |  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
       |        FROM embeddings)
       |), cent1 AS (
       |  SELECT cell, dim, CAST(sum(x_off) AS BIGINT) // count(*) AS c_off
       |  FROM dims JOIN cells0 USING (vec_id) GROUP BY cell, dim
       |), d1 AS (
       |  SELECT vec_id, cell, sum((x_off - c_off) * (x_off - c_off)) AS dist
       |  FROM dims JOIN cent1 USING (dim) GROUP BY vec_id, cell
       |), ranked1 AS (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |  FROM d1
       |), cells1 AS (
       |  SELECT vec_id, cell FROM ranked1 WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cell FROM ranked1
       |  WHERE vec_id < $numQueries AND rn <= $nprobe
       |), cands AS (
       |  SELECT query_id, cells1.vec_id AS cand_id
       |  FROM probes JOIN cells1 USING (cell)
       |  WHERE query_id != cells1.vec_id
       |), scored AS (
       |  SELECT query_id, cand_id, ${cosSql("qe.embedding", "ce.embedding")} AS cos
       |  FROM cands
       |  JOIN embeddings qe ON qe.vec_id = query_id
       |  JOIN embeddings ce ON ce.vec_id = cand_id
       |), ranked AS (
       |  SELECT query_id, cand_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, cand_id, rank, cos FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** ORACLE-GATED PRODUCT-QUANTIZATION ANN (PQ/ADC) — the memory-compression
    * path of the IVF family: each 64-dim vector is split into `m` = 8
    * subvectors of 8 dims, and each subvector is replaced by the id of its
    * nearest codeword from a per-subspace 16-entry codebook — 8 BYTES per
    * vector instead of 256, the representation that lets a 100 TB corpus's
    * index live in RAM. Query scoring is ASYMMETRIC DISTANCE COMPUTATION:
    * the query precomputes one 16-entry distance table per subspace
    * (m·16 = 128 integers), and a candidate's approximate distance is the
    * sum of m table lookups — no candidate vector is ever decoded.
    *
    * Everything is integer-exact cross-engine (the ivfRefined recipe):
    * coordinates become offset-micro integers (`floor(x·10⁶) + 10⁶`, all
    * non-negative so div/floor-division agree), the codebook is
    * iteration-zero from seed vectors vec_id ∈ [100, 116), argmin ties
    * break on the smaller code id, and ADC distances are BIGINT sums —
    * the full encode + table + lookup pipeline sits under the DuckDB
    * oracle with zero float drift.
    *
    * Distributed shape: the codebook (m·16·8 values) broadcasts;
    * encoding is the exploded-dims join + two partial aggregations
    * (map-side absorbed, the charBigrams/E-step pattern); query tables
    * broadcast (m·16 rows per query); the ADC join keys on (sub, code)
    * and partial-aggregates per (query, cand) before the one shuffle.
    * Never a cross product against the corpus.
    *
    * Retrieval-quality caveat, measured and intentional: the fixture
    * embeddings are isotropic noise whose pairwise distances CONCENTRATE
    * (same-label mean 2.00 vs other 1.99), so recall@k against exact L2 is
    * ~0 there for ANY quantized index — the oracle gates the arithmetic,
    * and `PqRetrievalSpec` gates retrieval on planted cluster structure,
    * where PQ is essentially perfect. */
  /** Per-(vector, subspace) integer L2 to every codeword — the shared
    * core of PQ encoding and ADC table construction. */
  private def pqSubDists(spark: SparkSession, dir: String,
      nCodes: Int, m: Int): DataFrame = {
    // NO spread (r16 continuation, probed): repartitioning the embeddings
    // scan before the posexplode × codeword join measured WORSE on the PQ
    // build legs (5.3-5.7 → 6.0-6.2 s distortion line, same-hour A/B) —
    // the broadcast join + partial agg pipeline is already overlapped and
    // the exchange costs more than the parallelism buys.
    val e = table(spark, dir, "embeddings")
    val subDim = 64 / m
    val dims = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("int").as("dim"),
        (expr("CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)") + 1000000L).as("x_off"))
      .withColumn("sub", expr(s"dim div $subDim"))
    val codebook = dims
      .filter(col("vec_id") >= 100 && col("vec_id") < 100 + nCodes)
      .select((col("vec_id") - 100).as("code"), col("dim"), col("x_off").as("c_off"))
    dims.join(broadcast(codebook), "dim")
      .withColumn("dd", (col("x_off") - col("c_off")) * (col("x_off") - col("c_off")))
      .groupBy("vec_id", "sub", "code").agg(sum("dd").as("d"))
  }

  /** PQ code assignment: (vec_id, sub, code, d) of the argmin codeword —
    * exposed for the self-encoding spec (a codeword must encode to itself
    * with d = 0). */
  private[operators] def pqCodes(spark: SparkSession, dir: String,
      nCodes: Int = 16, m: Int = 8): DataFrame = {
    val wCode = Window.partitionBy("vec_id", "sub").orderBy(col("d"), col("code"))
    pqSubDists(spark, dir, nCodes, m)
      .withColumn("rn", row_number().over(wCode))
      .filter(col("rn") === 1).select("vec_id", "sub", "code", "d")
  }

  /** The PQ code table MATERIALIZED once per (session, dir, nCodes, m) —
    * r16 continuation: every PQ consumer (pqTopK, ivfPqTopK, pqDistortion,
    * and both compression-sweep legs through them) re-derived the full
    * corpus encode (posexplode × nCodes codeword join, the |vecs|·m·nCodes
    * intermediate) per call, and pqTopK derived it TWICE (codes + its own
    * subDists). The argmin table is |vecs|·m rows of 4 ints — exactly the
    * persisted-index shape a production ANN store reads — so it is the
    * natural memo stage; the per-query ADC tables stay derived (their
    * vec_id < numQueries filter pushes to the scan, so they never pay the
    * corpus encode). */
  private def pqCodesMemo(spark: SparkSession, dir: String,
      nCodes: Int = 16, m: Int = 8): DataFrame =
    StageMemo(spark, dir, s"ann_pq_codes_${nCodes}_$m")(
      pqCodes(spark, dir, nCodes, m))

  def pqTopK(spark: SparkSession, dir: String, numQueries: Int = 5, k: Int = 3,
      nCodes: Int = 16, m: Int = 8): DataFrame = {
    val subDists = pqSubDists(spark, dir, nCodes, m)
    val codes = pqCodesMemo(spark, dir, nCodes, m).select("vec_id", "sub", "code")
    // ADC tables: the query's integer distance to every codeword
    val tables = subDists.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("d").as("td"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("cand_id"))
    codes.join(broadcast(tables), Seq("sub", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("cand_id"))
      .agg(sum("td").as("adc"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "rank", "adc")
      .orderBy("query_id", "rank")
  }

  /** PQ DISTORTION report — codebook quality per subspace: how much
    * information the 8-bit code loses, as the exact integer micro²
    * quantization error each subvector pays at its assigned codeword
    * (total/mean/max per subspace). A subspace whose mean distortion dwarfs
    * the others is where ADC ranking goes blind first — the
    * capacity-planning read for "do I need more codes or an OPQ rotation".
    * Same codebook/assignment machinery as [[pqTopK]]; one join of the
    * assignments back to their own distances. */
  def pqDistortion(spark: SparkSession, dir: String,
      nCodes: Int = 16, m: Int = 8): DataFrame = {
    // the argmin row already carries its own distance — joining the code
    // table back to a SECOND full subDists derivation retrieved the same
    // `d` the window kept (r16 continuation: read the memoized codes)
    pqCodesMemo(spark, dir, nCodes, m)
      .groupBy("sub")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("d")).as("total_dist"),
        expr("sum(d) div count(1)").as("mean_dist"),
        max(col("d")).as("max_dist"))
      .orderBy("sub")
  }

  def pqDistortionOracle(nCodes: Int = 16, m: Int = 8): String = {
    val subDim = 64 / m
    s"""WITH dims AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |    CAST(i - 1 AS INTEGER) // $subDim AS sub,
       |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x_off
       |  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
       |        FROM embeddings)
       |), codebook AS (
       |  SELECT vec_id - 100 AS code, dim, x_off AS c_off
       |  FROM dims WHERE vec_id >= 100 AND vec_id < ${100 + nCodes}
       |), sub_dists AS (
       |  SELECT d.vec_id, d.sub, c.code, sum((d.x_off - c.c_off) * (d.x_off - c.c_off)) AS d
       |  FROM dims d JOIN codebook c USING (dim)
       |  GROUP BY d.vec_id, d.sub, c.code
       |), assigned AS (
       |  SELECT vec_id, sub, code, d FROM (
       |    SELECT vec_id, sub, code, d,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
       |    FROM sub_dists) WHERE rn = 1
       |)
       |SELECT sub, count(*) AS n_vectors,
       |  CAST(sum(d) AS BIGINT) AS total_dist,
       |  CAST(sum(d) // count(*) AS BIGINT) AS mean_dist,
       |  CAST(max(d) AS BIGINT) AS max_dist
       |FROM assigned GROUP BY sub ORDER BY sub""".stripMargin
  }

  def pqTopKOracle(numQueries: Int = 5, k: Int = 3,
      nCodes: Int = 16, m: Int = 8): String = {
    val subDim = 64 / m
    s"""WITH dims AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |    CAST(i - 1 AS INTEGER) // $subDim AS sub,
       |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x_off
       |  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
       |        FROM embeddings)
       |), codebook AS (
       |  SELECT vec_id - 100 AS code, dim, x_off AS c_off
       |  FROM dims WHERE vec_id >= 100 AND vec_id < ${100 + nCodes}
       |), sub_dists AS (
       |  SELECT d.vec_id, d.sub, c.code, sum((d.x_off - c.c_off) * (d.x_off - c.c_off)) AS d
       |  FROM dims d JOIN codebook c USING (dim)
       |  GROUP BY d.vec_id, d.sub, c.code
       |), codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
       |    FROM sub_dists) WHERE rn = 1
       |), tables_q AS (
       |  SELECT vec_id AS query_id, sub, code, d AS td
       |  FROM sub_dists WHERE vec_id < $numQueries
       |), adc AS (
       |  SELECT t.query_id, c.vec_id AS cand_id, CAST(sum(t.td) AS BIGINT) AS adc
       |  FROM codes c JOIN tables_q t USING (sub, code)
       |  WHERE t.query_id != c.vec_id
       |  GROUP BY t.query_id, c.vec_id
       |), ranked AS (
       |  SELECT query_id, cand_id, adc,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS BIGINT) AS rank
       |  FROM adc
       |)
       |SELECT query_id, cand_id, rank, adc FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** ORACLE-GATED IVF+PQ — the production vector-index COMPOSITION, end to
    * end: the IVF coarse quantizer contracts the corpus to the probed
    * cells' candidates ([[ivfTopK]]'s assignment), PQ/ADC scores ONLY
    * those candidates by integer table lookups ([[pqTopK]]'s machinery),
    * and the top `rerank` per query are re-ranked by exact cosine — the
    * contract-score-rerank shape every large-scale vector store runs
    * (FAISS IVFPQ + refine). Each stage is individually oracle-gated
    * elsewhere; this query gates their composition.
    *
    * Distributed shape at 10¹¹ vectors: candidates ≈ n·nprobe/n_cells per
    * query; ADC cost is m integer lookups per candidate against a
    * broadcast m·16-entry table; only the ≤rerank shortlist ever touches
    * full vectors again. Broadcasts: centroids, probe table, ADC tables,
    * query vectors — all O(queries + n_cells), never corpus-sized. */
  def ivfPqTopK(spark: SparkSession, dir: String, numQueries: Int = 5, k: Int = 3,
      nCentroids: Int = 16, nprobe: Int = 4, nCodes: Int = 16, m: Int = 8,
      rerank: Int = 10): DataFrame = {
    val e = table(spark, dir, "embeddings")
    val (cells, probes) = ivfAssign(e, nCentroids, nprobe, col("vec_id") < numQueries)
    val cands = broadcast(probes).join(cells, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"))
    val subDists = pqSubDists(spark, dir, nCodes, m)
    val codes = pqCodesMemo(spark, dir, nCodes, m)
      .select(col("vec_id").as("cand_id"), col("sub"), col("code"))
    val tables = subDists.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("d").as("td"))
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc"), col("cand_id"))
    val shortlist = cands.join(codes, "cand_id")
      .join(broadcast(tables), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "cand_id")
      .agg(sum("td").as("adc"))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= rerank)
      .select("query_id", "cand_id", "adc")
    val qv = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))
    val wRank = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    shortlist
      .join(broadcast(qv), "query_id").join(cv, "cand_id")
      .withColumn("cos", dot(col("qv"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wRank).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "rank", "adc", "cos")
      .orderBy("query_id", "rank")
  }

  def ivfPqTopKOracle(numQueries: Int = 5, k: Int = 3, nCentroids: Int = 16,
      nprobe: Int = 4, nCodes: Int = 16, m: Int = 8, rerank: Int = 10): String = {
    val subDim = 64 / m
    s"""WITH ${ivfAssignCtes(nCentroids, nprobe, s"vec_id < $numQueries")}, cands AS (
       |  SELECT query_id, cells.vec_id AS cand_id
       |  FROM probes JOIN cells USING (cell)
       |  WHERE query_id != cells.vec_id
       |), dims AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |    CAST(i - 1 AS INTEGER) // $subDim AS sub,
       |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x_off
       |  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
       |        FROM embeddings)
       |), codebook AS (
       |  SELECT vec_id - 100 AS code, dim, x_off AS c_off
       |  FROM dims WHERE vec_id >= 100 AND vec_id < ${100 + nCodes}
       |), sub_dists AS (
       |  SELECT dm.vec_id, dm.sub, cb.code, sum((dm.x_off - cb.c_off) * (dm.x_off - cb.c_off)) AS d
       |  FROM dims dm JOIN codebook cb USING (dim)
       |  GROUP BY dm.vec_id, dm.sub, cb.code
       |), codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
       |    FROM sub_dists) WHERE rn = 1
       |), tables_q AS (
       |  SELECT vec_id AS query_id, sub, code, d AS td
       |  FROM sub_dists WHERE vec_id < $numQueries
       |), adc AS (
       |  SELECT ca.query_id, ca.cand_id, CAST(sum(t.td) AS BIGINT) AS adc
       |  FROM cands ca
       |  JOIN codes c ON c.vec_id = ca.cand_id
       |  JOIN tables_q t ON t.query_id = ca.query_id AND t.sub = c.sub AND t.code = c.code
       |  GROUP BY ca.query_id, ca.cand_id
       |), shortlist AS (
       |  SELECT query_id, cand_id, adc FROM (
       |    SELECT query_id, cand_id, adc,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS arn
       |    FROM adc) WHERE arn <= $rerank
       |), scored AS (
       |  SELECT query_id, cand_id, adc, ${cosSql("qe.embedding", "ce.embedding")} AS cos
       |  FROM shortlist
       |  JOIN embeddings qe ON qe.vec_id = query_id
       |  JOIN embeddings ce ON ce.vec_id = cand_id
       |), ranked AS (
       |  SELECT query_id, cand_id, adc, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, cand_id, rank, adc, cos FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Sign-random-projection LSH, multi-table OR-construction: L independent
    * tables of k hyperplanes each; a vector lands in one k-bit bucket per
    * table, and two vectors are candidates if they collide in ANY table
    * (P = 1-(1-p^k)^L with p = 1-θ/π). Hyperplane components are
    * deterministic ±1 values derived from a splitmix-style bit mix — no RNG
    * state, reproducible across runs and engines. Candidate generation is a
    * shuffle on (table, bucket), never a cross join — the 100 TB ANN path.
    * Recall vs brute force is unit-tested.
    */
  object SignLsh {

    /** ±1 component for (plane, dim) — the single definition lives in
      * VectorExpressions so the native bucket expression, this Column-API
      * twin, and the DuckDB oracle literals can never drift. */
    private def sign(plane: Int, dim: Int): Double =
      graft.functions.VectorExpressions.lshSignJava(plane, dim)

    /** k-bit bucket id for one table via built-in array HOFs — kept as the
      * semantic reference [[graft.functions.VectorExpressions.SignLshBuckets]]
      * is spec-tested against (32 interpreted folds per row; the native
      * expression computes all buckets in one codegen'd pass). */
    def bucket(v: Column, dims: Int, tableId: Int, planesPerTable: Int): Column =
      (0 until planesPerTable).map { j =>
        val p = tableId * planesPerTable + j
        val planeDot = aggregate(
          zip_with(v, array((0 until dims).map(d => lit(sign(p, d))): _*),
            (x, s) => x.cast("double") * s),
          lit(0.0), (acc, x) => acc + x)
        when(planeDot > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)

    /** (table, bucket) membership rows: one per table per vector. All bucket
      * ids come from ONE native expression evaluation per row (posexplode
      * index = table id), not `tables × planes` interpreted HOF folds. */
    private def bucketed(df: DataFrame, dims: Int, tables: Int, k: Int): DataFrame =
      df.select(col("vec_id"), col("embedding"),
          posexplode(graft.functions.VectorExpressions.sign_lsh_buckets(
            col("embedding"), tables, k)).as(Seq("tbl", "bkt")))
        .select(col("vec_id"), col("embedding"), col("tbl").cast("int").as("tbl"), col("bkt"))

    /** ANN via LSH buckets: exact cosine only on vectors sharing a bucket in
      * at least one table (distinct pairs before scoring). */
    def annCandidates(spark: SparkSession, dir: String, numQueries: Int = 5,
        dims: Int = 64, tables: Int = 8, planesPerTable: Int = 4): DataFrame = {
      val e = table(spark, dir, "embeddings")
      val bk = bucketed(e, dims, tables, planesPerTable)
      val q = bk.filter(col("vec_id") < numQueries)
        .select(col("tbl"), col("bkt"), col("vec_id").as("query_id"))
      val c = bk.select(col("tbl"), col("bkt"), col("vec_id").as("cand_id"))
      val pairs = broadcast(q).join(c, Seq("tbl", "bkt"))
        .filter(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
      val qv = e.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      pairs.join(broadcast(qv), "query_id").join(cv, "cand_id")
        .withColumn("cos", cosine(col("qv"), col("cv")))
        .select("query_id", "cand_id", "cos")
    }

    /** ORACLE-GATED scale-path ANN: top-k among the LSH candidate set only —
      * exact cosine is computed for colliding pairs, never all pairs. Fully
      * deterministic end-to-end (splitmix hyperplanes, strict-fold dots,
      * value-tie-broken rank), so the whole bucket→join→score→rank pipeline
      * sits under the DuckDB oracle the way `events_range_join_auto` gates
      * the optimizer rule — not just under a recall spec. */
    def topK(spark: SparkSession, dir: String, numQueries: Int = 5, k: Int = 3,
        dims: Int = 64, tables: Int = 8, planesPerTable: Int = 4): DataFrame = {
      val cands = annCandidates(spark, dir, numQueries, dims, tables, planesPerTable)
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
      cands
        .withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
        .orderBy("query_id", "rank")
    }

    /** DuckDB twin of [[topK]]: the ±1 hyperplane components are generated
      * from the same splitmix mix and EMBEDDED as array literals — both
      * engines fold the identical plane dot left-to-right, so bucket ids
      * (and therefore the candidate set and every cosine) match exactly. */
    def topKOracle(numQueries: Int = 5, k: Int = 3, dims: Int = 64,
        tables: Int = 8, planesPerTable: Int = 4): String = {
      def planeArr(p: Int): String =
        (0 until dims).map(d => if (sign(p, d) > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
      def bucketSql(t: Int): String = (0 until planesPerTable).map { j =>
        val p = t * planesPerTable + j
        val planeDot =
          s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |      list_transform(list_zip(embedding, ${planeArr(p)}), x -> CAST(x[1] AS DOUBLE) * x[2])),
             |      (acc, v) -> acc + v)""".stripMargin
        s"(CASE WHEN $planeDot > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n    + ")
      val bucketRows = (0 until tables)
        .map(t => s"  SELECT vec_id, $t AS tbl,\n    ${bucketSql(t)} AS bkt FROM embeddings")
        .mkString("\nUNION ALL\n")
      s"""WITH bk AS (
         |$bucketRows
         |), q AS (SELECT tbl, bkt, vec_id AS query_id FROM bk WHERE vec_id < $numQueries),
         |c AS (SELECT tbl, bkt, vec_id AS cand_id FROM bk),
         |pairs AS (
         |  SELECT DISTINCT query_id, cand_id FROM q JOIN c USING (tbl, bkt)
         |  WHERE query_id != cand_id
         |), scored AS (
         |  SELECT query_id, cand_id, ${cosSql("qe.embedding", "ce.embedding")} AS cos
         |  FROM pairs
         |  JOIN embeddings qe ON qe.vec_id = query_id
         |  JOIN embeddings ce ON ce.vec_id = cand_id
         |), ranked AS (
         |  SELECT query_id, cand_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, cand_id, rank, cos FROM ranked
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
    }
  }

  /** Int8 quantization of unit-normalized embeddings — the storage/serving
    * compression step every large vector corpus applies (4× smaller than
    * float32, SIMD-friendly dot products downstream). Per vector:
    * `q[i] = floor(v[i]/‖v‖ · 127 + 0.5)` — the norm is the strict-fold dot
    * (bit-identical on both engines), the scale/round policy is
    * floor(x+0.5) (round-half-toward-+∞) because both engines define
    * `floor` identically while their `round()` tie policies differ.
    * Integer summaries (sum, max |q|) ride along for cheap sanity checks.
    * One scan, element-wise, no shuffle — embarrassingly parallel at any
    * scale. Zero vectors would produce NaN/overflow garbage; the fixture
    * has none and a production pipeline filters them first.
    *
    * The GATED output is scalar-only: the driver's comparison harness sorts
    * result frames column-wise (pandas), which cannot hash/sort raw array
    * cells — round 3's array-valued `q8` column ERRORED the gate (ADVICE
    * r3). Every element of the int8 array is still pinned cross-engine via
    * `q8_hash`, an order-sensitive polynomial fold
    * `acc ← (acc·131 + (q+128)) mod 1e9+7` computed identically in both
    * engines (values stay < 1.4e11, far from BIGINT overflow — DuckDB
    * errors on wrap, Spark wraps silently, so staying small is load-bearing).
    * The array form itself lives in [[quantizeInt8Vectors]] for specs. */
  def quantizeInt8Vectors(spark: SparkSession, dir: String): DataFrame = {
    val nrm = norm(col("embedding"))
    table(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") / nrm * 127 + 0.5).cast("int")).as("q8"))
  }

  /** Order-sensitive digest of an int array, same formula both engines. */
  def int8Digest(q8: Column): Column =
    aggregate(q8, lit(0L), (acc, x) => (acc * 131L + (x.cast("long") + 128L)) % 1000000007L)

  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8Vectors(spark, dir)
      .select(col("vec_id"),
        int8Digest(col("q8")).as("q8_hash"),
        aggregate(col("q8"), lit(0L), (a, x) => a + x).as("q8_sum"),
        array_max(transform(col("q8"), x => abs(x))).cast("int").as("q8_max_abs"))
      .orderBy("vec_id")

  val quantizeInt8Oracle: String = {
    val nrmSql = s"sqrt(${dotSql.format("embedding", "embedding")})"
    val qSql = s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / $nrmSql * 127 + 0.5) AS INTEGER))"
    val digestSql =
      s"""list_reduce(
         |    list_prepend(CAST(0 AS BIGINT), list_transform($qSql, x -> CAST(x AS BIGINT) + 128)),
         |    (acc, v) -> (acc * 131 + v) % 1000000007)""".stripMargin
    s"""SELECT vec_id,
       |  $digestSql AS q8_hash,
       |  CAST(list_sum($qSql) AS BIGINT) AS q8_sum,
       |  CAST(list_max(list_transform($qSql, x -> abs(x))) AS INTEGER) AS q8_max_abs
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  /** Per-label embedding centroids, dimension-wise: posexplode each vector
    * into (label, dim, value) and aggregate — the distributed form of
    * k-means' M-step / class-prototype computation (and exactly how IVF
    * cell centroids would be refreshed at 100 TB: one explode, one shuffle
    * on (label, dim), partial aggregation map-side).
    *
    * Cross-engine float parity: per-dim values are quantized to integer
    * micro-units BEFORE the sum (`floor(double(v) * 1e6)` is exact and
    * order-independent in BIGINT), so the centroid mean — an IEEE division
    * of two exact integers — is bit-identical on both engines. The unquantized
    * double mean would depend on partial-aggregation order. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim").cast("int").as("dim"),
        expr("CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").as("micro"))
      .groupBy("label", "dim")
      .agg(sum(col("micro")).as("sum_micro"), count(lit(1)).as("n"))
      .withColumn("mean_micro", col("sum_micro").cast("double") / col("n"))
      .orderBy("label", "dim")

  val labelCentroidsOracle: String =
    """SELECT label, CAST(i - 1 AS INTEGER) AS dim,
      |  CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*) AS mean_micro
      |FROM (
      |  SELECT label, embedding, unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings)
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  // ------------------------------------------------- per-dimension statistics
  /** Per-DIMENSION embedding statistics — mean, variance, range per vector
    * coordinate — the "is this dimension dead / collapsed / unscaled"
    * hygiene pass run before PCA/quantization decisions (a zero-variance
    * dim wastes PQ codebook bits; wildly unequal variances break L2
    * metrics). Same micro-unit recipe as [[labelCentroids]]: values
    * quantize to exact integers, variance comes division-free as
    * `(n·Σx² − (Σx)²)` in DECIMAL(38,0)/HUGEINT (int64 wraps past ~10⁹
    * vectors) and only the final double divide is IEEE. One posexplode
    * scan, a dim-keyed partial-agg shuffle (≤ vector width groups). */
  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    table(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("int").as("dim"),
        expr("CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").as("micro"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("micro")).as("s"),
        sum(dec(col("micro")) * dec(col("micro"))).as("ss"),
        min(col("micro")).as("min_micro"), max(col("micro")).as("max_micro"))
      .select(col("dim"), col("n"),
        (col("s").cast("double") / col("n")).as("mean_micro"),
        ((dec(col("n")) * col("ss") - dec(col("s")) * dec(col("s"))).cast("double") /
          (col("n").cast("double") * col("n").cast("double"))).as("var_micro2"),
        col("min_micro"), col("max_micro"),
        (col("min_micro") === col("max_micro")).as("is_dead"))
      .orderBy("dim")
  }

  val dimStatsOracle: String =
    """WITH m AS (
      |  SELECT CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS HUGEINT) AS micro
      |  FROM (
      |    SELECT embedding, unnest(generate_series(1, len(embedding))) AS i
      |    FROM embeddings)
      |)
      |SELECT dim, count(*) AS n,
      |  CAST(sum(micro) AS DOUBLE) / count(*) AS mean_micro,
      |  CAST(count(*) * sum(micro * micro) - sum(micro) * sum(micro) AS DOUBLE)
      |    / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS var_micro2,
      |  CAST(min(micro) AS BIGINT) AS min_micro,
      |  CAST(max(micro) AS BIGINT) AS max_micro,
      |  min(micro) = max(micro) AS is_dead
      |FROM m GROUP BY dim ORDER BY dim""".stripMargin

  // ------------------------------------------------- label-centroid outliers
  /** LABEL-CENTROID OUTLIERS — mislabeled/contaminated-vector triage: the
    * k vectors farthest from their own label's centroid (a wrong label, a
    * corrupted embedding, or an out-of-distribution sample all land far
    * from their class prototype; reviewing the far tail is the standard
    * label-QA pass before training a classifier head or trusting
    * label-blocked dedup).
    *
    * Cross-engine exactness without a single float: per-dim values are
    * quantized to milli-units (`floor(v·10³)`), and the distance to the
    * mean avoids the mean's division entirely —
    * `d_dim = milli·n − Σmilli` is n·(v − mean) in exact integers, so
    * `msd_milli2 = (Σ_dim d_dim²) div n²` is the mean squared distance in
    * milli² units, comparable ACROSS labels (the n² scale divides back
    * out). Squares are widened to DECIMAL(38,0)/HUGEINT so a 10⁹-vector
    * label cannot wrap the intermediate; the quotient is back in int64
    * range by construction.
    *
    * 100 TB shape: centroid sums are a (label × dim) table — tiny at any
    * corpus size — broadcast back over one posexplode scan; the top-k is
    * TakeOrdered (per-partition heads + a k-row merge), never a global
    * sort. */
  def labelOutliers(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = table(spark, dir, "embeddings")
    // n = VECTORS per label (one row each), not per-(label, dim) element
    // counts: with a truncated/null-element vector in the label the two
    // disagree, and a per-dim n would scale each dim's d by a different
    // factor — under-weighting exactly the corrupt vectors this operator
    // exists to surface (uniform-dim corpora are unaffected either way)
    val nLab = base.groupBy("label").agg(count(lit(1)).as("n"))
    val milli = base
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("dim"),
        expr("CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("m"))
    val sums = milli.groupBy("label", "dim")
      .agg(sum("m").as("s"))
      .join(nLab, "label")
    val top = milli.join(broadcast(sums), Seq("label", "dim"))
      .withColumn("d", col("m") * col("n") - col("s"))
      .groupBy("vec_id", "label")
      .agg(
        expr("CAST(sum(CAST(d AS DECIMAL(38,0)) * d) div (max(n) * max(n)) AS BIGINT)")
          .as("msd_milli2"))
      .orderBy(col("msd_milli2").desc, col("vec_id"))
      .limit(k)
    val w = Window.orderBy(col("msd_milli2").desc, col("vec_id"))
    top.withColumn("rnk", row_number().over(w).cast("bigint"))
      .select("rnk", "vec_id", "label", "msd_milli2")
      .orderBy("rnk")
  }

  def labelOutliersOracle(k: Int = 20): String =
    s"""WITH milli AS (
       |  SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS dim,
       |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000) AS BIGINT) AS m
       |  FROM (SELECT vec_id, label, embedding,
       |        unnest(generate_series(1, len(embedding))) AS i FROM embeddings)
       |), nlab AS (
       |  SELECT label, count(*) AS n FROM embeddings GROUP BY label
       |), sums AS (
       |  SELECT sm.label, sm.dim, sm.s, nlab.n FROM (
       |    SELECT label, dim, CAST(sum(m) AS BIGINT) AS s
       |    FROM milli GROUP BY label, dim
       |  ) sm JOIN nlab ON nlab.label = sm.label
       |), dist AS (
       |  SELECT mi.vec_id, mi.label,
       |    CAST(sum(CAST(mi.m * su.n - su.s AS HUGEINT) * (mi.m * su.n - su.s))
       |         // (max(su.n) * max(su.n)) AS BIGINT) AS msd_milli2
       |  FROM milli mi JOIN sums su ON su.label = mi.label AND su.dim = mi.dim
       |  GROUP BY mi.vec_id, mi.label
       |)
       |SELECT CAST(row_number() OVER (ORDER BY msd_milli2 DESC, vec_id) AS BIGINT) AS rnk,
       |  vec_id, label, msd_milli2
       |FROM dist
       |ORDER BY msd_milli2 DESC, vec_id
       |LIMIT $k""".stripMargin

  // --------------------------------------------- nearest-centroid confusion

  /** NEAREST-CENTROID CONFUSION MATRIX (round 9) — embedding-space label
    * quality eval: assign every vector to its nearest LABEL CENTROID and
    * cross-tabulate (true label × nearest label). A clean embedding space
    * is diagonal-dominant; off-diagonal mass localizes which label pairs
    * blur (mislabeled slices, collapsed clusters) — the 1-NN-to-centroid
    * cousin of [[labelOutliers]], sharing its exactness recipe: integer
    * milli-unit coordinates, per-(label, dim) centroid SUMS (never the
    * float mean), squared distance to label L as Σ(m·n_L − s_L)² with
    * DECIMAL(38)-widened squares. Cross-label comparison divides by n_L²
    * as a double (exact integers in, correctly-rounded IEEE out — same
    * value both engines), argmin breaks ties on label.
    *
    * 100 TB shape: the (label × dim) sums table is tiny at any corpus
    * size and broadcast; per-vector work is |labels|·dims; the confusion
    * rollup is a |labels|²-key aggregate. */
  def centroidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = table(spark, dir, "embeddings")
    val nLab = base.groupBy(col("label").as("c_label")).agg(count(lit(1)).as("n"))
    val milli = base
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("dim"),
        expr("CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("m"))
    val sums = milli.groupBy(col("label").as("c_label"), col("dim"))
      .agg(sum("m").as("s"))
      .join(nLab, "c_label")
    val dists = milli.join(broadcast(sums), Seq("dim"))
      .withColumn("d", col("m") * col("n") - col("s"))
      .groupBy("vec_id", "label", "c_label")
      .agg((sum(expr("CAST(d AS DECIMAL(38,0)) * d")).cast("double") /
        (max(col("n")) * max(col("n"))).cast("double")).as("msd"))
    val w = Window.partitionBy("vec_id").orderBy(col("msd"), col("c_label"))
    dists.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("label"), col("c_label").as("nearest_label"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("label", "nearest_label")
  }

  def centroidConfusionOracle: String =
    """WITH milli AS (
      |  SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000) AS BIGINT) AS m
      |  FROM (SELECT vec_id, label, embedding,
      |        unnest(generate_series(1, len(embedding))) AS i FROM embeddings)
      |), nlab AS (
      |  SELECT label AS c_label, count(*) AS n FROM embeddings GROUP BY 1
      |), sums AS (
      |  SELECT sm.c_label, sm.dim, sm.s, nlab.n FROM (
      |    SELECT label AS c_label, dim, CAST(sum(m) AS BIGINT) AS s
      |    FROM milli GROUP BY 1, 2
      |  ) sm JOIN nlab USING (c_label)
      |), dists AS (
      |  SELECT mi.vec_id, mi.label, su.c_label,
      |    CAST(sum(CAST(mi.m * su.n - su.s AS HUGEINT) * (mi.m * su.n - su.s)) AS DOUBLE)
      |      / CAST(max(su.n) * max(su.n) AS DOUBLE) AS msd
      |  FROM milli mi JOIN sums su ON su.dim = mi.dim
      |  GROUP BY 1, 2, 3
      |), nearest AS (
      |  SELECT vec_id, label, c_label AS nearest_label FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY msd, c_label) AS rk
      |    FROM dists) t
      |  WHERE rk = 1
      |)
      |SELECT label, nearest_label, count(*) AS n_vectors
      |FROM nearest GROUP BY 1, 2 ORDER BY label, nearest_label""".stripMargin

  // ------------------------------------------------------ norm extremes
  /** EMBEDDING NORM EXTREMES — the vector-QA spot check: the k largest and
    * k smallest vectors by squared norm (a zeroed, truncated, or
    * double-scaled embedding lands at an extreme; eyeballing both tails is
    * the first triage). Norms are exact integer milli-unit squares
    * (Σ floor(v·10³)²), so ranking is deterministic cross-engine with
    * vec_id tie-break; one scan + two TakeOrdered heads. */
  def normExtremes(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val sq = table(spark, dir, "embeddings")
      .select(col("vec_id"),
        aggregate(
          transform(col("embedding"),
            v => {
              val milli = floor(v.cast("double") * 1000).cast("bigint")
              milli * milli
            }),
          lit(0L), (acc, x) => acc + x).as("sq_norm_milli"))
    val top = sq.orderBy(col("sq_norm_milli").desc, col("vec_id")).limit(k)
      .withColumn("tail", lit("high"))
    val bottom = sq.orderBy(col("sq_norm_milli").asc, col("vec_id")).limit(k)
      .withColumn("tail", lit("low"))
    top.unionAll(bottom).orderBy("tail", "sq_norm_milli", "vec_id")
      .select("tail", "vec_id", "sq_norm_milli")
  }

  def normExtremesOracle(k: Int = 5): String =
    s"""WITH sq AS (
       |  SELECT vec_id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(embedding,
       |          v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT) * CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT))),
       |      (acc, x) -> acc + x) AS sq_norm_milli
       |  FROM embeddings
       |), hi AS (
       |  SELECT 'high' AS tail, vec_id, sq_norm_milli FROM sq
       |  ORDER BY sq_norm_milli DESC, vec_id LIMIT $k
       |), lo AS (
       |  SELECT 'low' AS tail, vec_id, sq_norm_milli FROM sq
       |  ORDER BY sq_norm_milli ASC, vec_id LIMIT $k
       |)
       |SELECT tail, vec_id, sq_norm_milli FROM (
       |  SELECT * FROM hi UNION ALL SELECT * FROM lo)
       |ORDER BY tail, sq_norm_milli, vec_id""".stripMargin

  // --------------------------------------------------------------- SemDeDup
  /** SEMANTIC deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with a coarse quantizer, then inside each
    * cluster drop every vector whose cosine to a lower-id cluster-mate
    * reaches `tau` — the keep-one-per-semantic-group policy that removed
    * ~50% of LAION/C4 with no quality loss. The deterministic keep rule
    * (smallest vec_id survives) replaces the paper's distance-to-centroid
    * tie-break so the whole pipeline sits under the DuckDB oracle.
    *
    * Same planted-duplicate fixture as [[embeddingNearDups]]: the corpus is
    * unioned with element-wise-perturbed copies (cos ≈ 0.99 to their
    * source, natural cross-vector cosine ≤ ~0.5), so exactly the planted
    * copies must drop — pinned in SemDedupSpec.
    *
    * 100 TB shape: quantizer assignment is a broadcast-centroid scan + one
    * per-vector argmin (identical to [[ivfTopK]]'s index build); the
    * pairwise stage is an equi-join on `cell`, so its cost is
    * Σ_cells |cell|² — bounded by choosing k ∝ n (the paper uses k ≈ √n·c,
    * keeping clusters at ~10⁴ vectors). Nothing is ever corpus × corpus. */
  /** The quantizer-assignment stage of [[semDedup]], un-checkpointed —
    * factored out so the plan gate can audit the LIVE assignment plan (the
    * checkpoint in semDedup replaces everything upstream with an RDD scan,
    * which would make a centroid-broadcast assertion on the full query
    * vacuous). */
  private[graft] def semDedupCells(spark: SparkSession, dir: String,
      nCentroids: Int = 16, maxId: Long = 1000): DataFrame = {
    import graft.functions.VectorExpressions.vec_l2sq
    val base = table(spark, dir, "embeddings").filter(col("vec_id") < maxId)
    val perturbed = base.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => (x.cast("double") + 0.01).cast("float")).as("embedding"))
    val e = spread(base.select("vec_id", "embedding").unionAll(perturbed))
    val cents = base.filter(col("vec_id") >= 100 && col("vec_id") < 100 + nCentroids)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))
    val wAssign = Window.partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    e.join(broadcast(cents))
      .withColumn("dist", vec_l2sq(col("embedding"), col("cv")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("embedding"), norm(col("embedding")).as("nrm"))
  }

  /** Coarse-cell COUNT POLICY — the parameter that decides whether SemDeDup
    * scales. The pair stage below costs Σ_cells |cell|², so a FIXED k is
    * quadratic in corpus size: at n vectors and k cells the expected cost is
    * n²/k, which only stays linear if k grows with n. This derives
    * k = ⌈n / targetCellSize⌉, pinning the EXPECTED cell to a constant
    * `targetCellSize` vectors, so expected pair cost is n·targetCellSize —
    * linear in n at any scale. The SemDeDup paper (arXiv:2303.09540 §3)
    * runs k = 1.1·10⁵ clusters over its ~10⁸-point LAION embedding space —
    * the same ~10³-point expected cell this default keeps; at a 10¹⁰-vector
    * corpus the policy yields k = 10⁷, still a broadcastable centroid table
    * (10⁷ × 64 floats ≈ 2.5 GB is past broadcast range — shard the
    * centroids into an equi-joined two-level quantizer at that point, as
    * IVF indexes do; the policy's output is unchanged).
    *
    * The gated `semdedup` query derives k from the fixture corpus (n = 2×
    * the sub-1000-id base vectors: k = 8 at sf0.001, 16 at sf0.01), and the
    * DuckDB oracle computes k with the SAME integer formula — the policy
    * itself is oracle-gated at every SF, not just spec'd. The
    * within-cell-pair-volume bound is additionally pinned in
    * `TrainPipelineSpec`. */
  private[graft] def semDedupK(nVectors: Long, targetCellSize: Long = 125L): Int = {
    require(targetCellSize > 0, s"targetCellSize must be positive: $targetCellSize")
    math.max(1L, (nVectors + targetCellSize - 1) / targetCellSize).toInt
  }

  def semDedup(spark: SparkSession, dir: String, nCentroids: Int = -1,
      maxId: Long = 1000, tau: Double = 0.9): DataFrame = {
    // -1 = derive k from the corpus size via the cell-count policy (the
    // fixture corpus is base ∪ perturbed copies, hence 2× the base count;
    // one cheap metadata-adjacent count job, amortized over the whole query;
    // a plan audit runs it too, then collects the query anyway)
    val k =
      if (nCentroids > 0) nCentroids
      else math.min(maxId - 100, // seed pool: fixture vectors with id ∈ [100, maxId)
        semDedupK(2L * table(spark, dir, "embeddings").filter(col("vec_id") < maxId).count())).toInt
    // assignment + norm computed ONCE, reused on both sides of the pair
    // join. Under a plan audit the frame stays un-checkpointed: even a LAZY
    // shared frame materializes the upstream AQE query stages (= Spark
    // jobs) at DataFrame-CONSTRUCTION time, so the audit leans on exchange
    // reuse instead — the assignment's window shuffle is an identical
    // subtree on both join sides (VERDICT r8 #2)
    val cells = StageMemo.shared(semDedupCells(spark, dir, k, maxId))
    val a = cells.select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = cells.select(col("cell"), col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("is_dup", lit(1L))
    cells.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("is_dup").isNull, 1L).otherwise(0L).as("keep"))
      .orderBy("vec_id")
  }

  def semDedupOracle(nCentroids: Int = -1, maxId: Long = 1000,
      tau: Double = 0.9, targetCellSize: Long = 125L): String = {
    val distSql = l2Sql.format("e.embedding", "c.cv")
    // -1 mirrors semDedup's auto-k: the same ⌈2n/targetCellSize⌉ integer
    // formula (clamped to the seed pool), computed by DuckDB itself so the
    // cell-count policy sits under the oracle gate at every SF. The
    // greatest(1, …) floor mirrors semDedupK's max(1, …): on an empty
    // vector table both engines still pick one (empty) centroid set
    // instead of diverging on zero centroids (ADVICE r7).
    val kSql =
      if (nCentroids > 0) nCentroids.toString
      else s"least(${maxId - 100}, greatest(1, (2 * (SELECT count(*) FROM base) + ${targetCellSize - 1}) // $targetCellSize))"
    s"""WITH base AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < $maxId
       |), e AS (
       |  SELECT vec_id, embedding FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT)) AS embedding
       |  FROM base
       |), cents AS (
       |  SELECT vec_id AS cell, embedding AS cv FROM base
       |  WHERE vec_id >= 100 AND vec_id < 100 + ($kSql)
       |), d AS (
       |  SELECT e.vec_id, c.cell, $distSql AS dist
       |  FROM e CROSS JOIN cents c
       |), cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM d)
       |  WHERE rn = 1
       |), dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= $tau
       |)
       |SELECT c.vec_id, c.cell,
       |  CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM cells c LEFT JOIN dropped dr ON dr.vec_id = c.vec_id
       |ORDER BY c.vec_id""".stripMargin
  }

  // ───────────────────── hybrid retrieval (RRF fusion) ────────────────────

  /** Hybrid retrieval with Reciprocal Rank Fusion — the RAG-serving query
    * shape: a KEYWORD leg (per-doc hit count of the query terms over
    * `documents`) and a VECTOR leg (cosine against the query embedding over
    * `embeddings`, ids aligned doc_id == vec_id) each produce a top-`legK`
    * ranking, and the fused score is the classic integer-exact RRF
    * `Σ_legs 10⁶ div (60 + rank)` (Cormack et al.'s k=60), missing leg → 0.
    *
    * Scale: each leg is a TakeOrdered head (per-partition top-legK, then a
    * legK-row merge — never a global sort), the rank windows run over ≤legK
    * rows, and the fusion join is legK×legK-row-sized regardless of corpus
    * size. The vector leg broadcasts the single query vector; at 100 TB it
    * swaps to the IVF/PQ candidate path ([[ivfPqRefinedTopK]]) without
    * touching the fusion. Integer fused scores keep the ranking
    * oracle-exact (a floating 1/(60+r) would hang ties on libm rounding).
    */
  def hybridRrf(spark: SparkSession, dir: String, queryVec: Long = 0L,
      terms: Seq[String] = Seq("spark", "window", "hash"),
      legK: Int = 50, k: Int = 15, rrfK: Int = 60): DataFrame = {
    val e = table(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === queryVec)
      .select(col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val vecTop = rankVecLeg(
      e.filter(col("vec_id") =!= queryVec)
        .crossJoin(broadcast(q))
        .withColumn("cos", dot(col("qv"), col("embedding")) / (col("qn") * norm(col("embedding"))))
        .select(col("vec_id"), col("cos")), legK)
    fuseRrf(kwLeg(spark, dir, terms, legK), vecTop, rrfK, k)
  }

  /** [[hybridRrf]] with the IVF candidate path as the vector leg — the
    * "swap the leg, keep the fusion" composition the 100 TB note promises:
    * candidates come from the `nprobe` nearest IVF cells (the
    * [[ivfTopK]] machinery) instead of a full scan, and the keyword leg,
    * RRF arithmetic, and output contract are untouched. Deterministic
    * integer cell assignment keeps it oracle-exact end-to-end. */
  def hybridRrfIvf(spark: SparkSession, dir: String, queryVec: Long = 0L,
      terms: Seq[String] = Seq("spark", "window", "hash"),
      legK: Int = 50, k: Int = 15, rrfK: Int = 60,
      nCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = table(spark, dir, "embeddings")
    val (cells, probesQ) = ivfAssign(e, nCentroids, nprobe, col("vec_id") === queryVec)
    val probes = probesQ.select("cell")
    val q = e.filter(col("vec_id") === queryVec)
      .select(col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val vecTop = rankVecLeg(
      broadcast(probes).join(cells, "cell")
        .filter(col("vec_id") =!= queryVec)
        .join(e, "vec_id")
        .crossJoin(broadcast(q))
        .withColumn("cos", dot(col("qv"), col("embedding")) / (col("qn") * norm(col("embedding"))))
        .select(col("vec_id"), col("cos")), legK)
    fuseRrf(kwLeg(spark, dir, terms, legK), vecTop, rrfK, k)
  }

  /** Keyword leg: per-doc hit count of the query terms, top-`legK`. */
  private def kwLeg(spark: SparkSession, dir: String,
      terms: Seq[String], legK: Int): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word").isin(terms: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("kw_score"))
      .orderBy(col("kw_score").desc, col("doc_id"))
      .limit(legK)
      .withColumn("kw_rank",
        row_number().over(Window.orderBy(col("kw_score").desc, col("doc_id"))).cast("bigint"))
      .select("doc_id", "kw_rank")

  /** Rank a scored (vec_id, cos) candidate set: TakeOrdered head, then a
    * ≤legK-row rank window. */
  private def rankVecLeg(scored: DataFrame, legK: Int): DataFrame =
    scored
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(legK)
      .withColumn("vec_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("bigint"))
      .select(col("vec_id").as("doc_id"), col("vec_rank"))

  /** The RRF fusion shared by every leg combination. */
  private def fuseRrf(kwTop: DataFrame, vecTop: DataFrame, rrfK: Int, k: Int): DataFrame =
    kwTop.join(vecTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000 div ($rrfK + kw_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($rrfK + vec_rank)"), lit(0L)))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("rrf_micro").desc, col("doc_id"))).cast("bigint"))
      .select("rnk", "doc_id", "kw_rank", "vec_rank", "rrf_micro")
      .orderBy("rnk")

  /** Shared RRF oracle skeleton: `extraCtes` precede the `vt` candidate CTE
    * (which must yield (vec_id, cos)); the kw leg and fusion are fixed so a
    * leg swap can never diverge the fusion SQL from the Spark side. */
  private def rrfOracle(extraCtes: String, vtSql: String, queryVec: Long,
      terms: Seq[String], legK: Int, k: Int, rrfK: Int): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH kw AS (
       |  SELECT doc_id, count(*) AS kw_score
       |  FROM (SELECT doc_id, w.word FROM documents, unnest(string_split(text, ' ')) AS w(word))
       |  WHERE word IN ($termList)
       |  GROUP BY doc_id ORDER BY kw_score DESC, doc_id LIMIT $legK
       |), kwr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY kw_score DESC, doc_id) AS kw_rank FROM kw
       |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $queryVec),
       |$extraCtes
       |vt AS (
       |$vtSql
       |), vr AS (
       |  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS vec_rank FROM vt
       |), fused AS (
       |  SELECT COALESCE(kwr.doc_id, vr.doc_id) AS doc_id, kw_rank, vec_rank,
       |    COALESCE(1000000 // ($rrfK + kw_rank), 0) + COALESCE(1000000 // ($rrfK + vec_rank), 0) AS rrf_micro
       |  FROM kwr FULL OUTER JOIN vr ON kwr.doc_id = vr.doc_id
       |)
       |SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rnk,
       |         doc_id, kw_rank, vec_rank, rrf_micro
       |  FROM fused)
       |WHERE rnk <= $k ORDER BY rnk""".stripMargin
  }

  def hybridRrfOracle(queryVec: Long = 0L,
      terms: Seq[String] = Seq("spark", "window", "hash"),
      legK: Int = 50, k: Int = 15, rrfK: Int = 60): String =
    rrfOracle("",
      s"""  SELECT vec_id, ${cosSql("qv", "embedding")} AS cos
         |  FROM embeddings, q WHERE vec_id != $queryVec
         |  ORDER BY cos DESC, vec_id LIMIT $legK""".stripMargin,
      queryVec, terms, legK, k, rrfK)

  def hybridRrfIvfOracle(queryVec: Long = 0L,
      terms: Seq[String] = Seq("spark", "window", "hash"),
      legK: Int = 50, k: Int = 15, rrfK: Int = 60,
      nCentroids: Int = 16, nprobe: Int = 4): String = {
    val ctes = ivfAssignCtes(nCentroids, nprobe,
      s"vec_id = $queryVec", probeSelect = "cell") + ","
    rrfOracle(ctes,
      s"""  SELECT cells.vec_id, ${cosSql("qv", "ce.embedding")} AS cos
         |  FROM probes JOIN cells USING (cell)
         |  JOIN embeddings ce ON ce.vec_id = cells.vec_id, q
         |  WHERE cells.vec_id != $queryVec
         |  ORDER BY cos DESC, cells.vec_id LIMIT $legK""".stripMargin,
      queryVec, terms, legK, k, rrfK)
  }

  // -------------------------------------------------- Matryoshka truncation
  /** Matryoshka truncation probe: how much of each query's full-dimension
    * top-k survives when candidates are ranked by only the FIRST HALF of
    * the embedding — the evaluation behind MRL-style "store d/2 floats,
    * pay half the memory bandwidth" retrieval. Emits the per-query overlap
    * |topk_full ∩ topk_half| as pure integers (the cosines themselves stay
    * internal, so no float crosses the oracle hash).
    *
    * Scale shape: both rankings are the brute leg's broadcast-queries ⨯
    * candidates scan with per-query TakeOrdered heads (the IVF/PQ legs
    * swap in unchanged); the overlap join touches only 2·k rows per query.
    * Truncation is `slice(embedding, 1, size div 2)` at scan time — at
    * serving scale that halves the bytes the dot product reads. */
  def matryoshkaOverlap(spark: SparkSession, dir: String,
      numQueries: Int = 20, k: Int = 10): DataFrame = {
    val e = table(spark, dir, "embeddings")
    def topk(vecExpr: String): DataFrame = {
      val v = expr(vecExpr)
      val q = e.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), v.as("qv"))
        .withColumn("qn", norm(col("qv")))
      val c = e.select(col("vec_id").as("cand_id"), v.as("cv"))
        .withColumn("cn", norm(col("cv")))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
      broadcast(q).join(c, col("query_id") =!= col("cand_id"))
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "cand_id")
    }
    val full = topk("embedding")
    val half = topk("slice(embedding, 1, size(embedding) div 2)")
    full.join(half, Seq("query_id", "cand_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"), lit(k.toLong).as("k"))
      .orderBy("query_id")
  }

  def matryoshkaOverlapOracle(numQueries: Int = 20, k: Int = 10): String = {
    def topkCte(vec: String, name: String): String =
      s"""$name AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.query_id, c.cand_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${cosSql(s"q.qv", s"c.cv")} DESC, c.cand_id) AS rank
         |    FROM (SELECT vec_id AS query_id, $vec AS qv FROM embeddings
         |          WHERE vec_id < $numQueries) q
         |    JOIN (SELECT vec_id AS cand_id, $vec AS cv FROM embeddings) c
         |      ON q.query_id != c.cand_id)
         |  WHERE rank <= $k)""".stripMargin
    s"""WITH ${topkCte("embedding", "full_k")},
       |${topkCte("embedding[1:len(embedding)//2]", "half_k")}
       |SELECT f.query_id, count(*) AS n_overlap, CAST($k AS BIGINT) AS k
       |FROM full_k f JOIN half_k h
       |  ON f.query_id = h.query_id AND f.cand_id = h.cand_id
       |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin
  }

  /** RECALL@k EVALUATION HARNESS — the number every ANN deployment is
    * tuned by: for each query, how many of the brute-force top-k does each
    * approximate index (seed-centroid IVF, sign-LSH) return? One row per
    * (query, method) with the hit count and integer recall permille, so
    * quantizer/banding changes are regression-tested by value, not vibes.
    * Queries with an empty approximate result still emit a 0-hit row (left
    * join from the ground-truth query universe) — a silent index miss must
    * not vanish from the report.
    *
    * 100 TB shape: the ground truth is one scan (broadcast query set), each
    * index leg is its own bucketed probe (never all-pairs), and the recall
    * join touches only numQueries·k rows — evaluation cost is index-probe
    * cost, not corpus cost. Everything (folds, tie-breaks, integer
    * permille) is deterministic, so the WHOLE eval sits under the DuckDB
    * oracle like the legs themselves. */
  def recallEval(spark: SparkSession, dir: String, numQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val gt = gtCosine(spark, dir, numQueries, k)
    val legs = Seq(
      "ivf" -> ivfTopK(spark, dir, numQueries, k).select("query_id", "cand_id"),
      "signlsh" -> SignLsh.topK(spark, dir, numQueries, k).select("query_id", "cand_id"))
    val queries = gt.select("query_id").distinct()
    legs.map { case (name, leg) =>
      val hits = gt.join(leg, Seq("query_id", "cand_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      queries.join(hits, Seq("query_id"), "left")
        .select(col("query_id"), lit(name).as("method"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          expr(s"CAST(coalesce(hits, 0) * 1000 div $k AS BIGINT)").as("recall_permille"))
    }.reduce(_ unionAll _).orderBy("method", "query_id")
  }

  def recallEvalOracle(numQueries: Int = 5, k: Int = 10): String =
    s"""WITH gt AS (
       |  SELECT query_id, cand_id FROM (${cosineTopKOracle(numQueries, k)}) t
       |), ivf_k AS (
       |  SELECT query_id, cand_id FROM (${ivfTopKOracle(numQueries, k)}) t
       |), lsh_k AS (
       |  SELECT query_id, cand_id FROM (${SignLsh.topKOracle(numQueries, k)}) t
       |), m AS (
       |  SELECT 'ivf' AS method, query_id, cand_id FROM ivf_k
       |  UNION ALL
       |  SELECT 'signlsh' AS method, query_id, cand_id FROM lsh_k
       |), hits AS (
       |  SELECT m.method, m.query_id, count(*) AS h
       |  FROM m JOIN gt USING (query_id, cand_id) GROUP BY 1, 2
       |)
       |SELECT q.query_id, mm.method,
       |  CAST(coalesce(hits.h, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(hits.h, 0) * 1000 // $k AS BIGINT) AS recall_permille
       |FROM (SELECT DISTINCT query_id FROM gt) q
       |CROSS JOIN (SELECT 'ivf' AS method UNION ALL SELECT 'signlsh') mm
       |LEFT JOIN hits ON hits.query_id = q.query_id AND hits.method = mm.method
       |ORDER BY mm.method, q.query_id""".stripMargin

  /** NPROBE TUNING SWEEP — the other knob [[recallEval]] doesn't touch:
    * aggregate IVF recall@k as the probe count doubles 1→2→4→8 (of 16
    * cells). This is THE capacity-planning curve for an IVF deployment —
    * each probe step adds |corpus|/n_cells candidates per query, and this
    * query prints exactly what that buys in recall, integer permille,
    * regression-tested cross-engine. Monotone non-decreasing by
    * construction (more probes ⊇ fewer). */
  def nprobeSweep(spark: SparkSession, dir: String, numQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val gt = gtCosine(spark, dir, numQueries, k)
    // ONE index build + ONE candidate scoring pass at the MAX probe count,
    // materialized; each leg is then a cell_rn filter + per-query rank over
    // that frame (probe sets are nested), instead of its own full
    // ivfTopK — 4 index builds and 4 ground-truth scans collapse to 1+0
    // (r15 ANN-flatness finding)
    val scored = StageMemo(spark, dir, s"ann_npsweep_scored_${numQueries}_$k") {
      val e = table(spark, dir, "embeddings")
      val (cells, probes) = ivfAssign(e, 16, 8, col("vec_id") < numQueries)
      val qv = e.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          norm(col("embedding")).as("qn"))
      val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))
      broadcast(probes).join(cells, "cell")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"), col("cell_rn"))
        .join(broadcast(qv), "query_id").join(cv, "cand_id")
        .withColumn("cos", dot(col("qv"), col("ce")) / (col("qn") * col("cn")))
        .select("query_id", "cand_id", "cell_rn", "cos")
    }
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    Seq(1, 2, 4, 8).map { np =>
      scored.filter(col("cell_rn") <= np)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "cand_id")
        .join(gt, Seq("query_id", "cand_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(np.toLong).as("nprobe"), col("hits"),
          expr(s"CAST(hits * 1000 div ${numQueries * k} AS BIGINT)").as("recall_permille"))
    }.reduce(_ unionAll _).orderBy("nprobe")
  }

  // --------------------------------------------- compression ladder sweep
  /** INDEX-COMPRESSION SWEEP (round 11) — the third ANN knob table after
    * [[recallEval]] (method) and [[nprobeSweep]] (probe count): aggregate
    * recall@k per BYTES PER VECTOR down the standard compression ladder —
    * flat float32 (the ground truth itself, 4d B), SQ8 scalar quantization
    * (d B, ADC shortlist + exact rerank), pure PQ-ADC (m B), and
    * IVF+PQ+rerank (m B + the cell pruning). At 10¹¹ vectors storage is
    * the binding constraint — 4d B/vec is 25 TB of RAM at d=64 — and this
    * table prices exactly what each 4×/32× compression step costs in
    * recall. Bytes are the fixture's d=64 constants (1 B/code PQ storage,
    * the FAISS convention); a query with zero hits still gets its row.
    *
    * 100 TB shape: each leg is the already-gated bucketed/broadcast probe
    * (never all-pairs); the recall joins touch numQueries·k rows. Like
    * [[recallEval]], the whole eval is deterministic integer math under
    * the DuckDB oracle. */
  def compressionSweep(spark: SparkSession, dir: String, numQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val gt = gtCosine(spark, dir, numQueries, k)
    val legs = Seq(
      ("flat_f32", 256L, gt),
      ("sq8", 64L,
        sq8TopK(spark, dir, numQueries, k, rerank = 2 * k).select("query_id", "cand_id")),
      ("pq8", 8L,
        pqTopK(spark, dir, numQueries, k).select("query_id", "cand_id")),
      ("ivfpq8", 8L,
        ivfPqTopK(spark, dir, numQueries, k, rerank = 2 * k).select("query_id", "cand_id")))
    legs.map { case (name, bytes, leg) =>
      gt.join(leg, Seq("query_id", "cand_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("method"), lit(bytes).as("bytes_per_vec"),
          col("hits"),
          expr(s"CAST(hits * 1000 div ${numQueries * k} AS BIGINT)").as("recall_permille"))
    }.reduce(_ unionAll _).orderBy("method")
  }

  def compressionSweepOracle(numQueries: Int = 5, k: Int = 10): String =
    s"""WITH gt AS (
       |  SELECT query_id, cand_id FROM (${cosineTopKOracle(numQueries, k)}) t
       |), sq8_k AS (
       |  SELECT query_id, cand_id FROM (${sq8TopKOracle(numQueries, k, 2 * k)}) t
       |), pq_k AS (
       |  SELECT query_id, cand_id FROM (${pqTopKOracle(numQueries, k)}) t
       |), ivfpq_k AS (
       |  SELECT query_id, cand_id FROM (
       |    ${ivfPqTopKOracle(numQueries, k, rerank = 2 * k)}) t
       |), m AS (
       |  SELECT 'flat_f32' AS method, query_id, cand_id FROM gt
       |  UNION ALL SELECT 'sq8', query_id, cand_id FROM sq8_k
       |  UNION ALL SELECT 'pq8', query_id, cand_id FROM pq_k
       |  UNION ALL SELECT 'ivfpq8', query_id, cand_id FROM ivfpq_k
       |), spine AS (
       |  SELECT 'flat_f32' AS method, CAST(256 AS BIGINT) AS bytes_per_vec
       |  UNION ALL SELECT 'sq8', 64
       |  UNION ALL SELECT 'pq8', 8
       |  UNION ALL SELECT 'ivfpq8', 8
       |), hits AS (
       |  SELECT m.method, count(*) AS h
       |  FROM m JOIN gt USING (query_id, cand_id) GROUP BY m.method
       |)
       |SELECT s.method, s.bytes_per_vec,
       |  CAST(coalesce(hits.h, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(hits.h, 0) * 1000 // ${numQueries * k} AS BIGINT) AS recall_permille
       |FROM spine s LEFT JOIN hits USING (method)
       |ORDER BY s.method""".stripMargin

  // ------------------------------------------- dimension correlation matrix
  /** PAIRWISE DIMENSION CORRELATION — the input PCA/whitening/Mahalanobis
    * decisions are made from: Pearson correlation for every dimension pair
    * (i < j) of the embedding space. Redundant (highly correlated) dims
    * mean the effective dimension is lower than the stored one — PQ
    * subspace splits and Matryoshka truncation depths are chosen off
    * exactly this matrix.
    *
    * Shape: per-vector micro-quantization (exact BIGINT, the [[dimStats]]
    * recipe), then the d(d−1)/2 pair products are generated ROW-LOCALLY by
    * a nested array transform and partially aggregated straight into the
    * final (i,j) groups — NO self-join, no shuffle before the partial agg;
    * the only exchange carries ≤ d² groups per partition regardless of
    * corpus size (the classic distributed outer-product accumulation).
    * Sums ride in DECIMAL(38,0) (int64 wraps past ~10⁹ vectors); the final
    * correlation is a fixed-order double expression over exact integer
    * sums, bit-identical cross-engine (the corrMatrix recipe). */
  /** Shared covariance scaffolding: exact micro-unit marginals
    * (dim, n, Σx, Σx²) and upper-triangle pair sums (dim_i, dim_j, n, Σxy)
    * in DECIMAL(38,0) — the ONE copy [[dimCorrMatrix]] and
    * [[topPrincipalComponent]] both read, so the quantization policy and
    * the shuffle-free pair-product shape can never drift between them.
    *
    * d-SCALING BOUNDARY (VERDICT r10 #5): the row-local explode emits
    * d(d−1)/2 structs per vector — ~2k at the fixture's d=64, which is the
    * right form (codegen'd projection, partial agg collapses to ≤ d² groups
    * before the only exchange; measured flat through 20× corpus in SCALE.md
    * §7 batch 4). The explode VOLUME grows quadratically in d, not in n: at
    * d≈1024 it is ~523k structs/row and explode materialization dominates
    * the scan. Past [[AccumDimThreshold]] (d≈256) the pair stage
    * AUTO-SWITCHES (round 11) to [[pairSumsAccum]] — a
    * `TypedImperativeAggregate` ([[graft.functions.OuterProductAgg]])
    * accumulating one packed upper-triangle buffer per PARTITION in
    * 128-bit integer cells (update = d² fused multiply-adds per row with
    * no per-pair row materialization; merge = carry-propagated buffer
    * add; 16 B·d(d−1)/2 ≈ 8 MB per task at d=1024) — same exact
    * DECIMAL(38,0) sums, same output frame, different accumulation shape.
    * At d=64 the explode form stays the default (no buffer serialization
    * between partial and final); `OuterProductAggSpec` pins bit-equality
    * of the two forms on the fixture. */
  /** Above this dimension the packed-buffer accumulator beats the
    * row-local explode. Re-measured r16 at the fixture's d=64: the
    * explode materializes d(d−1)/2 = 2016 structs per row before the
    * partial agg and ran 2.7 s steady, the `OuterProductAgg` buffer
    * (32 KB/task at d=64, fused multiply-adds, no per-pair rows) 0.7 s —
    * so the switch now sits at d=16 (≥ ~120 pairs/row), where buffer
    * bookkeeping stops mattering. `OuterProductAggSpec` pins the two
    * forms bit-equal, so the crossover is a pure plan choice. */
  private val AccumDimThreshold = 16

  private def covarianceSums(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // memoized (r16, guide §2.4/§5): the marginal and pair-sum frames are
    // tiny (≤ d and d(d−1)/2 rows) but each costs a full corpus scan +
    // pair-product aggregation — and BOTH [[dimCorrMatrix]] and
    // [[topPrincipalComponent]] need them. One build per (session, dir);
    // the bench releases the stages after their last consumer.
    val e = quantizedEmbeddings(spark, dir)
    val marg = marginalSums(e)
    // dimension is data, not schema: one 1-row lookup decides the
    // accumulation shape (the semdedup auto-k eager-action precedent)
    val d = e.select(size(col("m"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val pairs = if (d > AccumDimThreshold) pairSumsAccum(e, d) else pairSumsExplode(e)
    (StageMemo(spark, dir, "cov_marg")(marg),
      StageMemo(spark, dir, "cov_pairs")(pairs))
  }

  /** (vec_id, m): each embedding quantized to exact micro-unit BIGINTs. */
  private[graft] def quantizedEmbeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))")
          .as("m"))

  /** Per-dimension (dim, n, Σx, Σx²): one explode, ≤ d groups. */
  private[graft] def marginalSums(e: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    e.select(posexplode(col("m")).as(Seq("dim", "v")))
      .groupBy(col("dim").cast("int").as("dim"))
      .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("s"),
        sum(dec(col("v")) * dec(col("v"))).as("q"))
  }

  /** The d ≤ [[AccumDimThreshold]] pair-sum form: d(d−1)/2 structs
    * exploded per row, partially aggregated into the final (i,j) groups. */
  private[graft] def pairSumsExplode(e: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    e.select(explode(expr(
      """flatten(transform(sequence(0, size(m) - 2), i ->
        |  transform(sequence(i + 1, size(m) - 1), j ->
        |    struct(CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,
        |           m[i] * m[j] AS xy))))""".stripMargin)).as("p"))
      .select("p.*")
      .groupBy("dim_i", "dim_j")
      .agg(count(lit(1)).as("n"), sum(dec(col("xy"))).as("sxy"))
  }

  /** The d > [[AccumDimThreshold]] pair-sum form: ONE
    * packed 128-bit upper-triangle buffer per partition
    * ([[graft.functions.OuterProductAgg]]) instead of d(d−1)/2 exploded
    * structs per row — same exact DECIMAL(38,0) sums, same output frame,
    * different accumulation shape. */
  private[graft] def pairSumsAccum(e: DataFrame, d: Int): DataFrame =
    e.agg(count(lit(1)).as("n"),
        graft.functions.OuterProductAgg.outer_product_agg(col("m"), d).as("op"))
      .select(col("n"), explode(col("op")).as("p"))
      .select(col("p.dim_i").as("dim_i"), col("p.dim_j").as("dim_j"),
        col("n"), col("p.sxy").as("sxy"))

  def dimCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val (marg, pairs) = covarianceSums(spark, dir)
    dimCorrFrom(marg, pairs)
  }

  private[graft] def dimCorrFrom(marg: DataFrame, pairs: DataFrame): DataFrame = {
    val mi = marg.select(col("dim").as("dim_i"), col("s").cast("double").as("si"),
      col("q").cast("double").as("qi"))
    val mj = marg.select(col("dim").as("dim_j"), col("s").cast("double").as("sj"),
      col("q").cast("double").as("qj"))
    pairs.join(broadcast(mi), "dim_i").join(broadcast(mj), "dim_j")
      .select(col("dim_i"), col("dim_j"), col("n"),
        ((col("n") * col("sxy").cast("double") - col("si") * col("sj")) /
          (sqrt(col("n") * col("qi") - col("si") * col("si")) *
            sqrt(col("n") * col("qj") - col("sj") * col("sj")))).as("corr"))
      .orderBy("dim_i", "dim_j")
  }

  /** EMBEDDING VERSION DRIFT (round 11) — "did the embedding space move
    * between corpus versions": per label, the squared L2 distance between
    * the two versions' centroids in exact micro² integer math. Versions
    * are the deterministic id-parity split (the same two-cohort twin the
    * events drift ops use); in production the version tag is a real
    * column and the split predicate is the only line that changes.
    *
    * Exactness: centroids are ratio vectors (Σx/n), so the shift is
    * computed over a COMMON DENOMINATOR — Σ_d (s1_d·n2 − s2_d·n1)² div
    * (n1·n2)² — all DECIMAL(38,0) integer terms (t ≲ 10¹³, t² ≲ 10²⁶,
    * Σ_d ≲ 10²⁸ — inside 38 digits), one truncating division at the end,
    * bit-identical cross-engine.
    *
    * 100 TB shape: one scan explodes (label, version, dim) partial sums —
    * the only exchange carries ≤ |labels|·d·2 groups; the drift algebra
    * runs on that bounded frame. */
  def versionDrift(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val e = table(spark, dir, "embeddings")
      .select(col("label"), (col("vec_id") % 2 === 0).as("v1"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))")
          .as("m"))
    val counts = e.groupBy("label").agg(
      sum(when(col("v1"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("v1"), 1L).otherwise(0L)).as("n2"))
    val dimSums = e.select(col("label"), col("v1"),
        posexplode(col("m")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(sum(when(col("v1"), dec(col("x"))).otherwise(dec(lit(0L)))).as("s1"),
        sum(when(!col("v1"), dec(col("x"))).otherwise(dec(lit(0L)))).as("s2"))
    dimSums.join(counts, "label")
      .withColumn("t", col("s1") * dec(col("n2")) - col("s2") * dec(col("n1")))
      .groupBy("label", "n1", "n2")
      .agg(expr(
        """CAST(sum(t * t) div (CAST(n1 AS DECIMAL(38,0)) * n2 * n1 * n2) AS BIGINT)""")
        .as("shift_micro2"))
      .select("label", "n1", "n2", "shift_micro2")
      .orderBy("label")
  }

  val versionDriftOracle: String =
    """WITH x AS (
      |  SELECT label, vec_id % 2 = 0 AS v1, CAST(i - 1 AS INTEGER) AS dim,
      |         CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM (SELECT vec_id, label, embedding, unnest(generate_series(1, len(embedding))) AS i
      |        FROM embeddings)
      |), counts AS (
      |  -- one dim-0 row per vector: counts per version without a rescan
      |  SELECT label,
      |    CAST(sum(CASE WHEN v1 AND dim = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN NOT v1 AND dim = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM x GROUP BY label
      |), dims AS (
      |  SELECT label, dim,
      |    CAST(sum(CASE WHEN v1 THEN v ELSE 0 END) AS HUGEINT) AS s1,
      |    CAST(sum(CASE WHEN NOT v1 THEN v ELSE 0 END) AS HUGEINT) AS s2
      |  FROM x GROUP BY label, dim
      |)
      |SELECT d.label, c.n1, c.n2,
      |  CAST(sum((s1 * c.n2 - s2 * c.n1) * (s1 * c.n2 - s2 * c.n1))
      |       // (CAST(c.n1 AS HUGEINT) * c.n2 * c.n1 * c.n2) AS BIGINT) AS shift_micro2
      |FROM dims d JOIN counts c ON c.label = d.label
      |GROUP BY d.label, c.n1, c.n2
      |ORDER BY d.label""".stripMargin

  val dimCorrMatrixOracle: String =
    """WITH x AS (
      |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
      |         CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
      |        FROM embeddings)
      |), m AS (
      |  SELECT dim, count(*) AS n, sum(v) AS s, sum(v * v) AS q FROM x GROUP BY dim
      |), p AS (
      |  SELECT a.dim AS dim_i, b.dim AS dim_j, count(*) AS n, sum(a.v * b.v) AS sxy
      |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim < b.dim
      |  GROUP BY 1, 2
      |)
      |SELECT dim_i, dim_j, p.n,
      |  (p.n * CAST(sxy AS DOUBLE) - CAST(mi.s AS DOUBLE) * CAST(mj.s AS DOUBLE)) /
      |  (sqrt(p.n * CAST(mi.q AS DOUBLE) - CAST(mi.s AS DOUBLE) * CAST(mi.s AS DOUBLE)) *
      |   sqrt(p.n * CAST(mj.q AS DOUBLE) - CAST(mj.s AS DOUBLE) * CAST(mj.s AS DOUBLE))) AS corr
      |FROM p JOIN m mi ON mi.dim = p.dim_i JOIN m mj ON mj.dim = p.dim_j
      |ORDER BY dim_i, dim_j""".stripMargin

  // ------------------------------------------- top principal component
  /** TOP PRINCIPAL COMPONENT — 12 exact-integer power iterations on the
    * covariance matrix: the "what direction dominates this embedding
    * space" answer behind whitening, ABF/OPQ rotation decisions, and
    * dead-dimension diagnosis. The 100 TB factorization is the point:
    * the DISTRIBUTED part is the covariance accumulation (the
    * [[covarianceSums]] scaffolding — row-local pair products, d²-bounded
    * shuffle, corpus never collected); the eigensolve then runs on d²
    * numbers — bounded by DIMENSION, not corpus — driver-side, exactly
    * like the probe ranking in [[Ivf.annCandidates]] is bounded by query
    * count. Every iteration is integer arithmetic (BigInt matrix-vector
    * products, rescale to max|v|=10⁶ by truncating division — BigInt `/`
    * and DuckDB `//` both truncate toward zero), so the full 12-step
    * trajectory and the final Rayleigh/trace ratio are bit-reproducible
    * cross-engine, and the ORACLE replays the identical iterations as 12
    * unrolled SQL stages. Output: the `topK` dims by |loading| with the
    * integer micro-loading and the explained-variance permille
    * (λ̂/trace(C), truncating). Convergence is NOT claimed — the output
    * is defined as "12 iterations from the all-ones start", which is the
    * deterministic contract both engines honor. */
  def topPrincipalComponent(spark: SparkSession, dir: String, iters: Int = 12,
      topK: Int = 10): DataFrame = {
    val (margDf, pairsDf) = covarianceSums(spark, dir)
    val ms = margDf.collect() // d rows — bounded by dimension, not corpus
    val ps = pairsDf.collect() // d(d-1)/2 rows
    val d = ms.length
    val n = BigInt(ms.head.getLong(1))
    val s = Array.ofDim[BigInt](d); val q = Array.ofDim[BigInt](d)
    ms.foreach { r =>
      s(r.getInt(0)) = BigInt(r.getDecimal(2).toBigInteger)
      q(r.getInt(0)) = BigInt(r.getDecimal(3).toBigInteger)
    }
    val c = Array.fill(d, d)(BigInt(0))
    (0 until d).foreach(i => c(i)(i) = n * q(i) - s(i) * s(i))
    ps.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val v = n * BigInt(r.getDecimal(3).toBigInteger) - s(i) * s(j)
      c(i)(j) = v; c(j)(i) = v
    }
    var v = Array.fill(d)(BigInt(1000000))
    (0 until iters).foreach { _ =>
      val mv = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
      val m = mv.map(_.abs).max
      if (m != 0) v = mv.map(x => x * 1000000 / m)
    }
    val num = (for (i <- 0 until d; j <- 0 until d) yield c(i)(j) * v(i) * v(j)).sum
    val den = v.map(x => x * x).sum
    val trace = (0 until d).map(i => c(i)(i)).sum
    val expl = (num * 1000 / (den * trace)).toLong
    val rows = (0 until d).map(i => (i, v(i)))
      .sortBy { case (i, x) => (-x.abs, BigInt(i)) }.take(topK)
      .zipWithIndex
      .map { case ((dim, load), r) => ((r + 1).toLong, dim, load.toLong, expl) }
    import spark.implicits._
    rows.toDF("rank", "dim", "loading_micro", "explained_permille")
  }

  /** Every CTE is MATERIALIZED: without it DuckDB inlines `cm` (and
    * transitively `x`) into each of the 12 unrolled iterations, expanding
    * the plan (and the parquet open count) exponentially. */
  def topPrincipalComponentOracle(iters: Int = 12, topK: Int = 10): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""mv$k AS MATERIALIZED (
         |  SELECT cm.i AS j, sum(cm.c * v${k - 1}.v) AS mv
         |  FROM cm JOIN v${k - 1} ON cm.j = v${k - 1}.j GROUP BY 1
         |), v$k AS MATERIALIZED (
         |  SELECT j, mv * 1000000 // (SELECT max(abs(mv)) FROM mv$k) AS v FROM mv$k
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |         CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) AS v
       |  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
       |        FROM embeddings)
       |), nv AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
       |m AS MATERIALIZED (SELECT dim, sum(v) AS s, sum(v * v) AS q FROM x GROUP BY dim),
       |p AS MATERIALIZED (
       |  SELECT a.dim AS i, b.dim AS j, sum(a.v * b.v) AS sxy
       |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim < b.dim
       |  GROUP BY 1, 2
       |), cm AS MATERIALIZED (
       |  SELECT i, j, (SELECT n FROM nv) * sxy - mi.s * mj.s AS c
       |  FROM p JOIN m mi ON mi.dim = p.i JOIN m mj ON mj.dim = p.j
       |  UNION ALL
       |  SELECT p.j, p.i, (SELECT n FROM nv) * sxy - mi.s * mj.s
       |  FROM p JOIN m mi ON mi.dim = p.i JOIN m mj ON mj.dim = p.j
       |  UNION ALL
       |  SELECT dim, dim, (SELECT n FROM nv) * q - s * s FROM m
       |), v0 AS MATERIALIZED (SELECT dim AS j, CAST(1000000 AS HUGEINT) AS v FROM m),
       |$iterCtes,
       |lam AS (
       |  SELECT sum(cm.c * va.v * vb.v) AS num
       |  FROM cm JOIN v$iters va ON va.j = cm.i JOIN v$iters vb ON vb.j = cm.j
       |), dn AS (SELECT sum(v * v) AS dd FROM v$iters),
       |tr AS (SELECT sum(c) AS t FROM cm WHERE i = j),
       |ranked AS (
       |  SELECT j AS dim, v, row_number() OVER (ORDER BY abs(v) DESC, j) AS rank
       |  FROM v$iters
       |)
       |SELECT CAST(rank AS BIGINT) AS rank, CAST(dim AS INTEGER) AS dim,
       |  CAST(v AS BIGINT) AS loading_micro,
       |  CAST((SELECT num FROM lam) * 1000 // ((SELECT dd FROM dn) * (SELECT t FROM tr)) AS BIGINT)
       |    AS explained_permille
       |FROM ranked WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  // ------------------------------------------- IVF incremental maintenance
  /** IVF INDEX MAINTENANCE — the ingest-time operation a 100 TB vector
    * store actually runs: new vectors (vec_id ≥ `baseMax`, the "arriving
    * batch") are assigned to the FROZEN seed centroids — no re-clustering —
    * and the report tells the operator when re-training is due. Per cell:
    * base/new member counts, growth permille, mean assignment distance of
    * base vs new members (exact integer micro-units), and the drift
    * permille (new mean ÷ base mean) — a cell whose new members sit much
    * farther from the centroid than its base members is drifting out of
    * its Voronoi region, and re-clustering is overdue.
    *
    * Shape: one broadcast of the centroid table, one scan of the corpus,
    * a per-vector argmin window, and a 16-group rollup — assignment cost
    * is O(batch·cells) with no shuffle beyond the per-vector window, which
    * is why incremental assign-and-monitor (not nightly re-KMeans) is the
    * production posture. Every cell is guaranteed non-empty in base (its
    * own centroid assigns to itself at distance 0). */
  def ivfIncremental(spark: SparkSession, dir: String, nCentroids: Int = 16,
      baseMax: Long = 400): DataFrame = {
    import graft.functions.VectorExpressions.vec_l2sq
    val e = table(spark, dir, "embeddings")
    val cents = e.filter(col("vec_id") >= 100 && col("vec_id") < 100 + nCentroids)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    e.join(broadcast(cents))
      .withColumn("dist", vec_l2sq(col("embedding"), col("cv")))
      .select(col("vec_id"), col("cell"), col("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("micro", expr("CAST(floor(dist * 1000000) AS BIGINT)"))
      .withColumn("is_new", col("vec_id") >= baseMax)
      .groupBy("cell")
      .agg(
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(!col("is_new"), col("micro")).otherwise(0L)).as("sb"),
        sum(when(col("is_new"), col("micro")).otherwise(0L)).as("sn"))
      .select(col("cell"), col("n_base"), col("n_new"),
        // n_base = 0 guards mirror StreamingIvfMaintenance exactly so the
        // stream==batch row-for-row parity claim holds expression-for-
        // expression (no-op in batch: each centroid sits in its own cell)
        expr("CASE WHEN n_base = 0 THEN 0 ELSE n_new * 1000 div n_base END")
          .as("growth_permille"),
        expr("CASE WHEN n_base = 0 THEN 0 ELSE sb div n_base END")
          .as("base_mean_micro"),
        expr("CASE WHEN n_new = 0 THEN 0 ELSE sn div n_new END").as("new_mean_micro"),
        expr("""CASE WHEN n_new = 0 OR n_base = 0 OR sb div n_base = 0 THEN 0
                |ELSE (sn div n_new) * 1000 div (sb div n_base) END""".stripMargin)
          .as("drift_permille"))
      .orderBy("cell")
  }

  def ivfIncrementalOracle(nCentroids: Int = 16, baseMax: Long = 400): String = {
    val distSql = l2Sql.format("e.embedding", "c.cv")
    s"""WITH cents AS (
       |  SELECT vec_id AS cell, embedding AS cv FROM embeddings
       |  WHERE vec_id >= 100 AND vec_id < ${100 + nCentroids}
       |), d AS (
       |  SELECT e.vec_id, c.cell, $distSql AS dist
       |  FROM embeddings e CROSS JOIN cents c
       |), ranked AS (
       |  SELECT vec_id, cell, dist,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |  FROM d
       |), assigned AS (
       |  SELECT vec_id, cell, CAST(floor(dist * 1000000) AS BIGINT) AS micro,
       |         vec_id >= $baseMax AS is_new
       |  FROM ranked WHERE rn = 1
       |), g AS (
       |  SELECT cell,
       |    CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
       |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |    CAST(sum(CASE WHEN is_new THEN 0 ELSE micro END) AS BIGINT) AS sb,
       |    CAST(sum(CASE WHEN is_new THEN micro ELSE 0 END) AS BIGINT) AS sn
       |  FROM assigned GROUP BY cell
       |)
       |SELECT cell, n_base, n_new,
       |  CAST(CASE WHEN n_base = 0 THEN 0 ELSE n_new * 1000 // n_base END AS BIGINT) AS growth_permille,
       |  CAST(CASE WHEN n_base = 0 THEN 0 ELSE sb // n_base END AS BIGINT) AS base_mean_micro,
       |  CAST(CASE WHEN n_new = 0 THEN 0 ELSE sn // n_new END AS BIGINT) AS new_mean_micro,
       |  CAST(CASE WHEN n_new = 0 OR n_base = 0 OR sb // n_base = 0 THEN 0
       |       ELSE (sn // n_new) * 1000 // (sb // n_base) END AS BIGINT) AS drift_permille
       |FROM g ORDER BY cell""".stripMargin
  }

  // ------------------------------------------- hard-negative mining (contrastive)
  /** HARD-NEGATIVE MINING — the contrastive-training data op: for each
    * query vector, the k most-similar candidates with a DIFFERENT label
    * ("hard" negatives — close in embedding space, wrong class), plus the
    * nearest same-label positive's cosine and a per-negative triplet
    * violation flag (`neg_cos > pos_cos` at margin 0). This is how
    * embedding-model training sets are mined (in-batch negatives are easy;
    * retrieval-mined hard negatives are what moves the metric) and the
    * violation count is the health signal: a well-separated space has few.
    *
    * 100 TB shape: same as [[recallEval]] — the query set is a bounded,
    * broadcast eval sample; candidates stream through one scan. The
    * production mining path swaps the exact scan for the IVF/LSH bucketed
    * probes (candidate generation is index-probe cost, not corpus cost);
    * the label anti-filter and per-query top-k window are unchanged.
    * Determinism: the strict-fold cosine is bit-identical cross-engine,
    * `max(cos)` over bit-identical doubles is order-independent, ties
    * break on cand_id, and queries with no same-label partner coalesce
    * `violation` to false (NULL pos_cos stays NULL — visible, sortable). */
  def hardNegatives(spark: SparkSession, dir: String, numQueries: Int = 20,
      k: Int = 5): DataFrame = {
    val e = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("label").as("qlabel"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("label").as("clabel"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val pos = scored.filter(col("clabel") === col("qlabel"))
      .groupBy("query_id").agg(max(col("cos")).as("pos_cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored.filter(col("clabel") =!= col("qlabel"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .join(pos, Seq("query_id"), "left")
      .select(col("query_id"), col("cand_id").as("neg_id"), col("rank"),
        col("cos").as("neg_cos"), col("pos_cos"),
        coalesce(col("cos") > col("pos_cos"), lit(false)).as("violation"))
      .orderBy("query_id", "rank")
  }

  def hardNegativesOracle(numQueries: Int = 20, k: Int = 5): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
       |  FROM embeddings WHERE vec_id < $numQueries
       |), c AS (
       |  SELECT vec_id AS cand_id, embedding AS cv, label AS clabel FROM embeddings
       |), scored AS (
       |  SELECT query_id, cand_id, qlabel, clabel, ${cosSql("qv", "cv")} AS cos
       |  FROM q JOIN c ON query_id != cand_id
       |), pos AS (
       |  SELECT query_id, max(cos) AS pos_cos
       |  FROM scored WHERE clabel = qlabel GROUP BY query_id
       |), negs AS (
       |  SELECT query_id, cand_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM scored WHERE clabel != qlabel
       |)
       |SELECT n.query_id, n.cand_id AS neg_id, n.rank, n.cos AS neg_cos,
       |       p.pos_cos, coalesce(n.cos > p.pos_cos, FALSE) AS violation
       |FROM negs n LEFT JOIN pos p USING (query_id)
       |WHERE n.rank <= $k
       |ORDER BY n.query_id, n.rank""".stripMargin

  // ------------------------------------------------ scalar-quantized ANN (SQ8)
  /** SQ8 ADC TOP-K — the scalar-quantization serving leg the family lacked
    * (PQ covers codebook quantization; this is its simpler, rerank-friendly
    * sibling): every vector is unit-normalized and quantized to int8 once
    * ([[quantizeInt8Vectors]]' exact floor(x·127+0.5) policy), the screen
    * ranks candidates by the INTEGER dot product of the int8 codes (pure
    * BIGINT arithmetic — order-independent, overflow-free at 64·127² ≈ 10⁶,
    * bit-identical cross-engine by construction, no float in the hot loop),
    * and the top `rerank` survivors per query are re-scored with the exact
    * float cosine. Asymmetric-distance flavor with 4× less memory traffic
    * than float32 and SIMD-able int MACs — the standard first-stage filter
    * when a full PQ codebook isn't warranted.
    *
    * 100 TB shape: quantization is one embarrassingly-parallel scan (stored
    * once, read many); the screen is the same broadcast-queries/one-scan
    * pass as [[cosineTopK]] but over 64 B codes instead of 256 B floats;
    * only numQueries·rerank rows reach the float rerank. On a real corpus
    * the screen composes with the IVF cell probe (scan a cell's codes, not
    * the corpus) — candidate cost is index-probe cost. */
  def sq8TopK(spark: SparkSession, dir: String, numQueries: Int = 5, k: Int = 3,
      rerank: Int = 12): DataFrame = {
    val nrm = norm(col("embedding"))
    val e = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => floor(x.cast("double") / nrm * 127 + 0.5).cast("long")).as("q8"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("q8").as("qq"), norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      col("q8").as("cq"), norm(col("embedding")).as("cn"))
    val adcCol = aggregate(zip_with(col("qq"), col("cq"), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("cand_id"))
    val wCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("adc", adcCol)
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= rerank)
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wCos).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col("adc"), col("cos"))
      .orderBy("query_id", "rank")
  }

  def sq8TopKOracle(numQueries: Int = 5, k: Int = 3, rerank: Int = 12): String = {
    val nrmSql = s"sqrt(${dotSql.format("embedding", "embedding")})"
    val q8Sql =
      s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / $nrmSql * 127 + 0.5) AS BIGINT))"
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $q8Sql AS q8 FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qv, q8 AS qq FROM e
       |  WHERE vec_id < $numQueries
       |), c AS (
       |  SELECT vec_id AS cand_id, embedding AS cv, q8 AS cq FROM e
       |), scored AS (
       |  SELECT query_id, cand_id, qv, cv,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(list_zip(qq, cq), x -> x[1] * x[2])),
       |      (acc, v) -> acc + v) AS adc
       |  FROM q JOIN c ON query_id != cand_id
       |), screened AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, cand_id) AS adc_rank
       |  FROM scored
       |), reranked AS (
       |  SELECT query_id, cand_id, adc, ${cosSql("qv", "cv")} AS cos
       |  FROM screened WHERE adc_rank <= $rerank
       |), ranked AS (
       |  SELECT query_id, cand_id, adc, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM reranked
       |)
       |SELECT query_id, cand_id, rank, adc, cos FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  def nprobeSweepOracle(numQueries: Int = 5, k: Int = 10): String = {
    def cfg(np: Int): String =
      s"""SELECT CAST($np AS BIGINT) AS nprobe, count(*) AS hits,
         |  CAST(count(*) * 1000 // ${numQueries * k} AS BIGINT) AS recall_permille
         |FROM (SELECT query_id, cand_id
         |      FROM (${ivfTopKOracle(numQueries, k, nprobe = np)}) t) i
         |JOIN gt USING (query_id, cand_id)""".stripMargin
    s"""WITH gt AS (
       |  SELECT query_id, cand_id FROM (${cosineTopKOracle(numQueries, k)}) t
       |)
       |SELECT * FROM (
       |(${Seq(1, 2, 4, 8).map(cfg).mkString(")\nUNION ALL\n(")})
       |) ORDER BY nprobe""".stripMargin
  }
}

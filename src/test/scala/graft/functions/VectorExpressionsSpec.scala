package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** The native expressions must be BIT-IDENTICAL to their built-ins-only
  * (HOF) twins — that equivalence is what carries DuckDB-oracle parity over
  * to the codegen'd fast path.
  */
class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val dir = SparkSuite.Sf0001

  test("native vec_dot is bit-identical to the HOF fold on real embeddings") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val pairs = a.join(b, col("idb") === col("ida") + 1)
    val diffs = pairs.select(
      Similarity.dot(col("va"), col("vb")).as("native"),
      Similarity.dotHof(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof")) // exact double comparison
      .count()
    assert(diffs == 0L)
  }

  test("native vec_dot self-dot equals HOF norm² on every vector") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val diffs = e.select(
      Similarity.dot(col("embedding"), col("embedding")).as("native"),
      Similarity.dotHof(col("embedding"), col("embedding")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0L)
  }

  test("native rolling_hash equals HOF rolling hash on all document texts") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val diffs = d.select(
      TextAnalysis.rollingHash(col("text")).as("native"),
      TextAnalysis.rollingHashHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0L)
    // and on words (the simhash path)
    val wdiffs = d.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(
        TextAnalysis.rollingHash(col("w")).as("native"),
        TextAnalysis.rollingHashHof(col("w")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(wdiffs == 0L)
  }

  test("native minhash signature equals the HOF minima on real shingles") {
    import graft.operators.Dedup
    val docs = Dedup.corpusWithNearDups(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("sh", Dedup.shingles(col("text")))
    val nHashes = 8
    val native = docs.select(col("doc_id"),
      VectorExpressions.minhash_sig(col("sh"), nHashes).as("sig"))
    val hofCols = (0 until nHashes).map(i => Dedup.minhashHof(col("sh"), i).as(s"h$i"))
    val hof = docs.select(col("doc_id") +: hofCols: _*)
    val joined = native.join(hof, "doc_id")
    val mismatches = (0 until nHashes).map(i =>
      joined.filter(element_at(col("sig"), i + 1) =!= col(s"h$i")).count()).sum
    assert(mismatches == 0L)
  }

  test("null handling: null input → null out") {
    val df = spark.sql("SELECT CAST(NULL AS STRING) AS s, CAST(NULL AS ARRAY<FLOAT>) AS v")
    val r = df.select(
      TextAnalysis.rollingHash(col("s")).as("h"),
      Similarity.dot(col("v"), col("v")).as("d")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("native one-pass simhash is bit-identical to the explode+agg twin (16 and 56 bit)") {
    Seq(16 -> 1000000007L).foreach { case (bits, _) =>
      val native = Dedup.simhashTable(spark, dir, bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val hof = Dedup.simhashTableHof(spark, dir, bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(native == hof, s"simhash($bits) native != hof")
    }
    // edge cases: multiple/leading/trailing spaces, unicode, single word
    val edge = spark.createDataFrame(Seq(
      (1L, "a  b   c"), (2L, " leading"), (3L, "trailing "), (4L, "solo"),
      (5L, "héllo wörld ✓"))).toDF("doc_id", "text")
    val n = edge.select(col("doc_id"),
      VectorExpressions.simhash_words(col("text"), 16, 1000000007L).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val h = {
      val exploded = edge
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .withColumn("hh", TextAnalysis.rollingHash(col("word")))
      val voteSums = (0 until 16).map { b =>
        sum(when(expr(s"(hh div ${1L << b}) % 2") === 1, 1L).otherwise(-1L)).as(s"v$b")
      }
      val recombine = (0 until 16)
        .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      exploded.groupBy("doc_id").agg(voteSums.head, voteSums.tail: _*)
        .select(col("doc_id"), recombine.as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(n == h)
  }

  test("native sign_lsh_buckets is bit-equal to the per-plane HOF buckets") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet").limit(200)
    val tables = 8
    val k = 4
    val native = e.select(col("vec_id"),
        VectorExpressions.sign_lsh_buckets(col("embedding"), tables, k).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = e.select(col("vec_id") +:
        (0 until tables).map(t =>
          Similarity.SignLsh.bucket(col("embedding"), 64, t, k).as(s"b$t")): _*)
      .collect().map(r => r.getLong(0) -> (1 to tables).map(r.getLong(_))).toMap
    assert(native.keySet == hof.keySet)
    native.foreach { case (id, bs) => assert(bs == hof(id), s"vec $id") }
  }

  test("fused group minhash (per-doc sig + elementwise min) equals MinHashAgg") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 3)
    val fused = docs
      .select(col("lang"), VectorExpressions.minhash_sig(Dedup.shingles(col("text")), 8).as("sig"))
      .groupBy("lang")
      .agg(concat_ws(",", (0 until 8).map(i => min(element_at(col("sig"), i + 1))): _*).as("sig"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val viaAgg = docs
      .select(col("lang"), explode(Dedup.shingles(col("text"))).as("shingle"))
      .groupBy("lang")
      .agg(array_join(MinHashAgg.minhash_agg(col("shingle"), 8), ",").as("sig"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(fused == viaAgg)
  }

  test("native trigram_distinct equals the HOF word-hash fold on all document texts") {
    val M = 1000000007L
    val ws = split(col("text"), " ")
    val wh = transform(ws, w => VectorExpressions.rolling_hash(w))
    val keys = transform(sequence(lit(1), size(ws) - 2), i =>
      (((element_at(wh, i) * 131 + element_at(wh, i + 1)) % M) * 131 +
        element_at(wh, i + 2)) % M)
    val diffs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(size(ws) >= 3)
      .select(
        VectorExpressions.trigram_distinct(col("text")).as("native"),
        size(array_distinct(keys)).cast("bigint").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0L)
  }

  test("vec_dot/vec_l2sq edge semantics match the HOF twin: unequal lengths and null elements → null") {
    // the HOF twin zip_with pads the shorter side with null, and a null
    // element poisons the fold — the native expressions must agree instead
    // of silently truncating to the common prefix (ADVICE r5)
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT), NULL),               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))
        |  AS t(a, b)""".stripMargin)
    val out = rows.select(
      Similarity.dot(col("a"), col("b")).as("dn"),
      Similarity.dotHof(col("a"), col("b")).as("dh"),
      VectorExpressions.vec_l2sq(col("a"), col("b")).as("ln"))
      .collect()
    // rows 1-2: both native and HOF → null
    assert(out(0).isNullAt(0) && out(0).isNullAt(1) && out(0).isNullAt(2))
    assert(out(1).isNullAt(0) && out(1).isNullAt(1) && out(1).isNullAt(2))
    // row 3: well-formed → equal non-null values
    assert(!out(2).isNullAt(0) && out(2).getDouble(0) == out(2).getDouble(1))
    assert(out(2).getDouble(2) == (1.0 - 3.0) * (1.0 - 3.0) + (2.0 - 4.0) * (2.0 - 4.0))
  }

  test("sorted_intersect_count equals size(array_intersect) on real sorted shingle sets") {
    // the production contract: both sides are sort_array(array_distinct(…))
    // — exactly what Dedup.shingleSets emits — and the merge-count kernel
    // must return array_intersect's INT on every real pair shape
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        sort_array(array_distinct(Dedup.shingles(col("text")))).as("shd"))
    val a = d.select(col("doc_id").as("ida"), col("shd").as("sa"))
    val b = d.select(col("doc_id").as("idb"), col("shd").as("sb"))
    // consecutive ids (overlapping near-dup shapes) AND a stride-97 slice
    // (mostly-disjoint shapes) — plus every self-pair (full overlap)
    val pairs = a.join(b,
      col("idb") === col("ida") + 1 || col("idb") === col("ida") + 97 ||
        col("idb") === col("ida"))
    assert(pairs.count() > 100)
    val diffs = pairs.select(
      VectorExpressions.sorted_intersect_count(col("sa"), col("sb")).as("native"),
      size(array_intersect(col("sa"), col("sb"))).as("builtin"))
      .filter(col("native") =!= col("builtin"))
      .count()
    assert(diffs == 0L)
  }

  test("top_gram_chars is bit-identical to the explode/groupBy/left-join pipeline (n=1 and n=2)") {
    // the OLD gopherRules formulation, verbatim — the native row-local
    // expression must reproduce it bit-for-bit including the null pattern
    // (left-join miss on sub-n-word docs → null)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val words = split(col("text"), " ")
    val uni = docs.select(col("doc_id"), explode(words).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(max(col("cnt") * length(col("word")).cast("bigint")).as("old_uni"))
    val bgArr = zip_with(
      slice(words, lit(1), size(words) - 1), slice(words, lit(2), size(words) - 1),
      (a, b) => concat(a, lit(" "), b))
    val bi = docs.select(col("doc_id"), explode(bgArr).as("bgram"))
      .groupBy("doc_id", "bgram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(max(col("cnt") * (length(col("bgram")).cast("bigint") - lit(1L))).as("old_bi"))
    val native = docs.select(col("doc_id"),
      VectorExpressions.top_gram_chars(words, 1).as("new_uni"),
      VectorExpressions.top_gram_chars(words, 2).as("new_bi"))
    val joined = native.join(uni, Seq("doc_id"), "left").join(bi, Seq("doc_id"), "left")
    val diffs = joined.filter(
      !(col("new_uni") <=> col("old_uni")) || !(col("new_bi") <=> col("old_bi"))).count()
    assert(diffs == 0L)
    assert(native.count() > 100)
    // synthetic edges: single word (bigram → null), empty-string word,
    // repeated words/bigrams
    val edge = spark.sql(
      """SELECT * FROM VALUES ('a'), (''), ('a a a'), ('x y x y x'), ('aa bb')
        |AS t(text)""".stripMargin)
    val got = edge.select(
      VectorExpressions.top_gram_chars(split(col("text"), " "), 1).as("u"),
      VectorExpressions.top_gram_chars(split(col("text"), " "), 2).as("b"))
      .collect()
    assert(got(0).getLong(0) == 1L && got(0).isNullAt(1)) // 'a': uni 1×1, no bigram
    assert(got(1).getLong(0) == 0L && got(1).isNullAt(1)) // '': one empty word, 0 chars
    assert(got(2).getLong(0) == 3L && got(2).getLong(1) == 2 * 2L) // 'a a a': uni a×3×1, bi 'a a'×2×(3-1)
    assert(got(3).getLong(0) == 3L && got(3).getLong(1) == 2 * 2L) // 'x y x y x'
    assert(got(4).getLong(0) == 2L && got(4).getLong(1) == 1 * 4L) // 'aa bb'
  }

  test("top_gram_chars skips windows containing a null word (ADVICE r16: the old pipeline never counted null grams)") {
    // arrays with null ELEMENTS are unreachable from split() output but the
    // kernel previously NPE'd on them (getUTF8String(null element) → null →
    // gram.numChars() throws). A null word now voids every window it sits
    // in — the same rows the explode pipeline dropped (length(null) is
    // null, ignored by max) — and an all-null array yields the no-grams
    // sentinel (null out).
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (array('a', CAST(NULL AS STRING), 'a', 'a')),
        |  (array(CAST(NULL AS STRING))),
        |  (array(CAST(NULL AS STRING), CAST(NULL AS STRING)))
        |  AS t(ws)""".stripMargin)
    val got = rows.select(
      VectorExpressions.top_gram_chars(col("ws"), 1).as("u"),
      VectorExpressions.top_gram_chars(col("ws"), 2).as("b")).collect()
    assert(got(0).getLong(0) == 3L)     // 'a' ×3 (null skipped), 1 char
    assert(got(0).getLong(1) == 2L)     // only window ('a','a') survives: 1×(3−1)
    assert(got(1).isNullAt(0) && got(1).isNullAt(1)) // every window null-voided
    assert(got(2).isNullAt(0) && got(2).isNullAt(1))
  }

  test("gram_tfs explode reproduces the explode→groupBy tf pipeline row-for-row (n=1,2,3)") {
    val docs = spark.read.parquet(s"${SparkSuite.Sf0001}/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    def oldTf(n: Int) = {
      val pairsExpr = if (n == 1) "transform(ts, w -> struct(w AS w1))"
        else s"transform(sequence(0, size(ts) - $n), i -> struct(" +
          (1 to n).map(k => s"ts[i + ${k - 1}] AS w$k").mkString(", ") + "))"
      docs.filter(size(col("ts")) >= n)
        .select(col("doc_id"), explode(expr(pairsExpr)).as("p"))
        .select(col("doc_id") +: (1 to n).map(k => col(s"p.w$k")): _*)
        .groupBy("doc_id", (1 to n).map(k => s"w$k"): _*)
        .agg(count(lit(1)).as("tf"))
    }
    def newTf(n: Int) =
      docs.filter(size(col("ts")) >= n)
        .select(col("doc_id"), explode(VectorExpressions.gram_tfs(col("ts"), n)).as("g"))
        .select(col("doc_id") +: ((1 to n).map(k => col(s"g.w$k")) :+ col("g.tf")): _*)
    (1 to 3).foreach { n =>
      val old = oldTf(n)
      val neu = newTf(n)
      assert(neu.count() == old.count(), s"n=$n row count")
      assert(neu.exceptAll(old).isEmpty && old.exceptAll(neu).isEmpty, s"n=$n rows differ")
    }
    // sub-n-word and null-array docs vanish identically (empty gram array)
    val edge = spark.sql(
      """SELECT * FROM VALUES (array('a')), (CAST(NULL AS ARRAY<STRING>))
        |AS t(ts)""".stripMargin)
    assert(edge.select(explode(VectorExpressions.gram_tfs(col("ts"), 2))).count() == 0)
  }

  test("sorted_intersect_count edge semantics: empty, null array, null elements") {
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (array('a', 'b', 'c'),                 array('b', 'c', 'd')),
        |  (CAST(array() AS ARRAY<STRING>),       array('a')),
        |  (CAST(NULL AS ARRAY<STRING>),          array('a')),
        |  (array(CAST(NULL AS STRING), 'a'),     array(CAST(NULL AS STRING), 'b')),
        |  (array('x'),                           array('x'))
        |  AS t(a, b)""".stripMargin)
    val out = rows.select(
      VectorExpressions.sorted_intersect_count(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).as("builtin"))
      .collect()
    assert(out(0).getInt(0) == 2 && out(0).getInt(1) == 2)
    assert(out(1).getInt(0) == 0 && out(1).getInt(1) == 0)
    assert(out(2).isNullAt(0)) // null array → null (builtin size() returns -1 under legacy off/null — native matches array_intersect-then-size only on non-null inputs)
    assert(out(3).getInt(0) == out(3).getInt(1)) // both contain null → counted once, matching array_intersect
    assert(out(4).getInt(0) == 1 && out(4).getInt(1) == 1)
  }

  /** The HOF n-gram form [[VectorExpressions.WordNgrams]] replaced, kept
    * only here as the reference: defined for arrays of at least n words. */
  private def wordNgramsHof(ws: org.apache.spark.sql.Column, n: Int) =
    transform(sequence(lit(1), size(ws) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(ws, i + o)): _*))

  test("word_ngrams equals the HOF n-gram form on every sf0.01 document (n=3 and n=5)") {
    val ws = split(col("text"), " ")
    // the documents plus their perturbed near-dup copies: the rows the
    // shingle and span queries see
    val docs = Dedup.corpusWithNearDups(spark, SparkSuite.Sf001)
    Seq(3, 5).foreach { n =>
      val rows = docs.filter(size(ws) >= n).select(
        VectorExpressions.word_ngrams(ws, n).as("native"),
        wordNgramsHof(ws, n).as("hof"))
      assert(rows.count() > 0L, s"n=$n: no document has $n words")
      assert(rows.filter(!(col("native") <=> col("hof"))).count() == 0L, s"n=$n grams differ")
    }
  }

  test("word_ngrams edge rows: spaces, UTF-8, exactly n, under n, null element, null input") {
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (0, split('a  b c d e', ' ')),
        |  (1, split(' a b c d ', ' ')),
        |  (2, split('naïve café 日本語 テキスト 🙂 x', ' ')),
        |  (3, split('one two three four five', ' ')),
        |  (4, array('p', CAST(NULL AS STRING), 'q', 'r', 's', 't')),
        |  (5, split('one two', ' ')),
        |  (6, CAST(NULL AS ARRAY<STRING>))
        |  AS t(id, ws)""".stripMargin)
    Seq(3, 5).foreach { n =>
      val full = rows.filter(size(col("ws")) >= n)
      val diffs = full.filter(!(VectorExpressions.word_ngrams(col("ws"), n) <=>
        wordNgramsHof(col("ws"), n)))
      assert(full.count() == 5L && diffs.count() == 0L, s"n=$n")
    }
    val got = rows.select(col("id"), VectorExpressions.word_ngrams(col("ws"), 5).as("g"))
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[String](1))).toMap
    assert(got(0).contains(Seq("a  b c d", " b c d e")))
    assert(got(1).contains(Seq(" a b c d", "a b c d ")))
    assert(got(2).contains(Seq("naïve café 日本語 テキスト 🙂", "café 日本語 テキスト 🙂 x")))
    assert(got(3).contains(Seq("one two three four five")))
    assert(got(4).contains(Seq("p q r s", "q r s t"))) // concat_ws skips the null word
    assert(got(5).contains(Seq.empty[String]))          // under n words: empty, not null
    assert(got(6).isEmpty)                               // null array → null
  }
}

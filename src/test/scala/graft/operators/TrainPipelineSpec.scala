package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Property gates for the training-data pipeline operators added in round 6
  * (decontamination, repetition, sequence packing, incremental dedup) —
  * value-exactness is separately gated by their DuckDB oracles.
  */
class TrainPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val dir = SparkSuite.Sf0001

  test("decontaminate catches every planted eval paraphrase") {
    val out = TextAnalysis.decontaminate(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) < 1000000L, "eval (reference) docs must not appear in the report")
      assert(r.getLong(1) >= 1L)
    }
    // eval set = perturbed copies with id % 97 == 0; their originals are
    // o ≡ (97 - 10⁶ mod 97) ≡ 70 (mod 97) and share all 5-grams past the
    // dropped first word — every such doc with ≥6 words MUST be flagged
    val planted = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 97 === 70 && size(split(col("text"), " ")) >= 6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flagged = out.map(_.getLong(0)).toSet
    assert(planted.subsetOf(flagged),
      s"missed planted contamination: ${(planted -- flagged).take(5)}")
  }

  test("substring screen catches every planted verbatim window") {
    val out = TextAnalysis.substringContamination(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) < 1000000L, "eval (reference) docs must not appear in the report")
      assert(r.getLong(1) >= 1L)
    }
    // eval copy = original minus its first word, so the copy's chars
    // [21, 80] are verbatim inside the original — every original whose
    // perturbed text still has ≥80 chars MUST be flagged
    val planted = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 97 === 70 &&
        length(expr("substring(text, instr(text, ' ') + 1)")) >= 80)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty, "fixture should plant qualifying eval windows")
    val flagged = out.map(_.getLong(0)).toSet
    assert(planted.subsetOf(flagged),
      s"missed planted verbatim leak: ${(planted -- flagged).take(5)}")
  }

  test("sequence packing tiles each language's token stream exactly") {
    val rows = TextAnalysis.packSequences(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (lang, docs) =>
      val ordered = docs.sortBy(_._2)
      // offsets are the exact prefix sums of token counts, starting at 0
      var expect = 0L
      ordered.foreach { case (_, id, tokens, offset, window) =>
        assert(offset == expect, s"$lang doc $id: offset $offset != prefix sum $expect")
        assert(window == offset / 2048, s"$lang doc $id: window $window")
        expect += tokens
      }
      // windows are non-decreasing and start at 0
      assert(ordered.head._4 == 0L)
      assert(ordered.map(_._5).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
    }
  }

  test("repetition ratio is a valid [0,1] fraction with distinct <= total") {
    val out = TextAnalysis.repetitionRatio(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, d, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d <= n && d >= 1)
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(ratio == (n - d).toDouble / n)
    }
  }

  test("incremental dedup drops most incoming docs (each has a planted reference near-dup)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 3).count()
    val r = Dedup.dedupIncremental(spark, dir).collect()(0)
    val (incoming, flagged, survivors) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(incoming == docs, s"n_incoming $incoming != $docs banded docs")
    assert(survivors == incoming - flagged)
    // every incoming doc has a perturbed near-dup in the reference corpus;
    // banded MinHash recall on the fixture is >= 90%, so few may survive
    assert(survivors <= (docs * 0.2).toInt,
      s"$survivors of $docs incoming docs survived — LSH collision filter too weak")
  }

  test("bloom prefilter: no false negatives on exact copies, near-zero FP on fresh text") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    val exactCopies = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 3 === 0).count()
    val r = Dedup.bloomPrefilter(spark, dir).collect()(0)
    val (incoming, flagged, pass) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(incoming == exactCopies + docs)
    assert(pass == incoming - flagged)
    // a Bloom filter admits NO false negatives: every exact copy flags
    assert(flagged >= exactCopies, s"missed exact duplicates: $flagged < $exactCopies")
    // at 500·4/2^20 load the FP probability is ~1e-10 per probe; allow a
    // token margin so a bigger fixture doesn't flake the suite
    assert(flagged - exactCopies <= (docs * 0.01).toLong + 1,
      s"${flagged - exactCopies} false positives — filter underdimensioned")
  }

  test("dedup funnel: internal identities hold and near-dedup buys real reduction") {
    val r = Dedup.dedupFunnel(spark, dir).collect()(0)
    val (raw, exact, graphDocs, clusters, near) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(exact <= raw && clusters <= graphDocs && graphDocs <= raw)
    assert(near == raw - (graphDocs - clusters), "survivor identity broken")
    // every doc has a planted near-dup: keep-one-per-cluster must remove
    // a substantial fraction of the doubled corpus
    assert(near < (raw * 3) / 4, s"near-dedup kept $near of $raw — planted dups not merged")
  }

  test("keep list: one survivor per cluster, unclustered docs kept, totals match the funnel") {
    val rows = Dedup.dedupKeepList(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val funnel = Dedup.dedupFunnel(spark, dir).collect()(0)
    assert(rows.length == funnel.getLong(0), "keep list must cover the corpus")
    assert(rows.count(_._3 == 1L) == funnel.getLong(4),
      "keep count must equal the funnel's near-dedup survivors")
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      val kept = members.filter(_._3 == 1L)
      assert(kept.length == 1, s"cluster $cluster keeps ${kept.length} docs")
      // the keep policy is deterministic: smallest doc_id survives
      assert(kept.head._1 == members.map(_._1).min, s"cluster $cluster kept a non-minimal doc")
    }
  }

  test("keep-best: retains every clustered ORIGINAL (perturbed copies have fewer tokens)") {
    val rows = Dedup.dedupKeepBest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val keepList = Dedup.dedupKeepList(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(rows.length == keepList.size, "keep-best must cover the same corpus as keep-first")
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      val kept = members.filter(_._4 == 1L)
      assert(kept.length == 1, s"cluster $cluster keeps ${kept.length} docs")
      // survivor has the max token count; doc_id breaks ties
      val best = members.map(m => (m._3, m._1)).minBy { case (t, id) => (-t, id) }
      assert(kept.head._1 == best._2, s"cluster $cluster kept a non-best doc")
      // the planted perturbed copy drops the first word: in any 2-member
      // original/copy cluster the ORIGINAL (smaller id, more tokens) wins
      if (members.length == 2 && members.map(_._1).max == members.map(_._1).min + Dedup.IdOffset)
        assert(kept.head._1 == members.map(_._1).min,
          s"cluster $cluster kept the truncated copy over the original")
    }
    // keep-first and keep-best agree on WHO is clustered, not always on who survives
    assert(rows.map(_._1).toSet == keepList.keySet)
  }

  test("ccnet buckets: per-language terciles with the exact integer cut rule") {
    val rows = TextAnalysis.unigramSurprisal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getString(4)))
    rows.groupBy(_._2).foreach { case (lang, docs) =>
      val n = docs.length
      val byScore = docs.sortBy(d => (d._3, d._1))
      // bucket boundaries follow rank: head is a prefix, tail a suffix
      val buckets = byScore.map(_._4)
      assert(buckets.takeWhile(_ == "head").length == buckets.count(_ == "head"),
        s"$lang: head docs are not the lowest-surprisal prefix")
      assert(buckets.reverse.takeWhile(_ == "tail").length == buckets.count(_ == "tail"),
        s"$lang: tail docs are not the highest-surprisal suffix")
      // integer cut rule: |head| = floor(3n/10), |head|+|middle| = floor(7n/10)
      assert(buckets.count(_ == "head") == (3 * n) / 10, s"$lang head size")
      assert(buckets.count(_ == "tail") == n - (7 * n) / 10, s"$lang tail size")
    }
  }

  test("bigram buckets: per-language terciles, and word-order damage lands in the tail") {
    val rows = TextAnalysis.bigramSurprisal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getString(4)))
    rows.groupBy(_._2).foreach { case (lang, docs) =>
      val byScore = docs.sortBy(d => (d._3, d._1))
      val buckets = byScore.map(_._4)
      assert(buckets.takeWhile(_ == "head").length == buckets.count(_ == "head"),
        s"$lang: head docs are not the lowest-surprisal prefix")
      assert(buckets.count(_ == "head") == (3 * docs.length) / 10, s"$lang head size")
    }
    // the property the unigram model CANNOT see: scramble a fluent doc's
    // word order — identical bag, so the unigram score ties exactly; the
    // conditional model must score the scramble strictly worse
    val fluent = "the quick brown fox jumps over the lazy dog"
    val scrambled = "dog the over quick lazy fox brown jumps the"
    val docs2 = (1 to 8).map(i => (i.toLong, fluent, "en")) ++
      Seq((100L, fluent, "en"), (101L, scrambled, "en"))
    val tmp = java.nio.file.Files.createTempDirectory("bigram_order").toString
    spark.createDataFrame(docs2).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val uni = TextAnalysis.unigramSurprisal(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val bi = TextAnalysis.bigramSurprisal(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(uni(100L) == uni(101L), "unigram must be blind to word order (same bag)")
    assert(bi(101L) > bi(100L),
      s"bigram must score the scramble worse: ${bi(100L)} vs ${bi(101L)}")
  }

  test("lm order agreement: full pair-domain coverage, cells partition the docs") {
    val rows = TextAnalysis.lmOrderAgreement(spark, dir).collect()
    val total = rows.map(_.getLong(2)).sum
    val withPairs = TextAnalysis.bigramSurprisal(spark, dir).count()
    assert(total == withPairs, "every doc with >=1 pair sits in exactly one cell")
    // bigram mean must be monotone in the bigram bucket within each uni bucket
    val bucketRank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    rows.groupBy(_.getString(0)).foreach { case (u, cells) =>
      val byBi = cells.sortBy(r => bucketRank(r.getString(1)))
      val means = byBi.map(_.getLong(4))
      assert(means.zip(means.tail).forall { case (a, b) => a <= b },
        s"uni=$u: bigram means not monotone across bigram buckets: ${means.toSeq}")
    }
  }

  test("paragraph dedup: planted boilerplate block is caught, shifted copy pins the alignment caveat") {
    val boiler = (1 to 8).map(j => s"b$j").mkString(" ")
    def filler(i: Int, n: Int) = (1 to n).map(j => s"u${i}w$j").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler ${filler(1, 8)}"), // boilerplate + unique: half dup
      (2L, s"$boiler ${filler(2, 8)}"),
      (3L, s"$boiler ${filler(3, 8)}"),
      (4L, s"$boiler ${filler(4, 8)}"),
      (5L, s"shift $boiler ${filler(5, 7)}"), // off the 8-word grid: NOT matched
      (6L, s"$boiler $boiler"), // pure boilerplate: cut
      (7L, filler(7, 16)), (8L, filler(8, 16)))
    val tmp = java.nio.file.Files.createTempDirectory("para_dedup").toString
    spark.createDataFrame(docs).toDF("doc_id", "text")
      .withColumn("lang", lit("xx")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.paragraphDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    (1L to 4L).foreach { i =>
      assert(out(i) == ((2L, 1L, 500000L, true)), s"doc $i: ${out(i)}")
    }
    // the documented recall limit of fixed-grid segmentation: a 1-word
    // shift moves every block off the grid (dupSpans is the shift-robust
    // complement)
    assert(out(5L)._2 == 0L && out(5L)._4, s"shifted: ${out(5L)}")
    assert(out(6L) == ((2L, 2L, 1000000L, false)), s"pure boilerplate: ${out(6L)}")
    Seq(7L, 8L).foreach(i => assert(out(i)._2 == 0L && out(i)._4))
  }

  test("trigram lm: held-out domain is exact and backoff shares partition the mass") {
    // domain: held-out (bucket >= 80) docs with >= 1 trigram in a language
    // the train split saw
    val split = TextAnalysis.trainSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        size(split_part_free(col("text"))).as("n_words")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val trainLangs = docs.filter(d => split(d._1) == "train").map(_._2).toSet
    val expected = docs.filter { case (id, lang, nw) =>
      split(id) != "train" && trainLangs(lang) &&
        // >= 1 non-empty trigram needs >= 3 words (fixture text has no
        // empty tokens between words)
        nw >= 3
    }.map(_._1).toSet
    val got = TextAnalysis.trigramSurprisal(spark, dir).collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"domain drift: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")

    val backoff = TextAnalysis.trigramBackoff(spark, dir).collect()
    backoff.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val shares = rows.map(_.getLong(3))
      // floors of exact micro shares: sum within 4 of 10^6 (<= 4 levels)
      assert(shares.sum <= 1000000L && shares.sum > 1000000L - 4,
        s"$lang: backoff shares don't partition the mass: ${shares.toSeq}")
      assert(rows.map(_.getLong(1)).distinct.length == rows.length)
    }
  }

  // the fixture text never contains empty tokens, so a plain split is the
  // tokenizer the operators use
  private def split_part_free(c: org.apache.spark.sql.Column) = split(c, " ")

  test("trigram lm: scrambled held-out text scores worse than verbatim train text") {
    // the split is a pure identity hash, so membership is knowable before
    // the corpus content is chosen: write ids 1..60, read the split, then
    // give one held-out doc the train template and another a scramble
    val ids = (1L to 60L)
    val tmpPre = java.nio.file.Files.createTempDirectory("tri_pre").toString
    spark.createDataFrame(ids.map(i => (i, "x", "xx"))).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmpPre/documents.parquet")
    val split = TextAnalysis.trainSplit(spark, tmpPre).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val eval2 = ids.filter(split(_) != "train").take(2)
    assert(eval2.length == 2, "need two held-out ids among 1..60")
    val template = "the quick brown fox jumps over the lazy dog"
    val scramble = "dog the over quick lazy fox jumps brown the"
    val docs = ids.map { i =>
      val text =
        if (i == eval2.head) template
        else if (i == eval2(1)) scramble
        else template
      (i, text, "xx")
    }
    val tmp = java.nio.file.Files.createTempDirectory("tri_scramble").toString
    spark.createDataFrame(docs).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val scores = TextAnalysis.trigramSurprisal(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(scores(eval2.head) < scores(eval2(1)),
      s"scramble must score worse: ${scores(eval2.head)} vs ${scores(eval2(1))}")
    // the verbatim doc's trigrams are all train-seen (level 0 only for it);
    // the scramble must push mass down the backoff chain
    val lvl = TextAnalysis.trigramBackoff(spark, tmp).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(lvl.getOrElse(0L, 0L) > 0L && lvl.keys.exists(_ > 0L),
      s"backoff chain unused: $lvl")
  }

  test("lm order agreement3 covers exactly the trigram model's domain") {
    val cells = TextAnalysis.lmOrderAgreement3(spark, dir).collect()
    val total = cells.map(_.getLong(2)).sum
    val triDocs = TextAnalysis.trigramSurprisal(spark, dir).count()
    assert(total == triDocs,
      s"every trigram-scored doc sits in exactly one cell: $total != $triDocs")
    // trigram mean must be monotone in the trigram bucket within each bigram bucket
    val bucketRank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    cells.groupBy(_.getString(0)).foreach { case (b, rows) =>
      val means = rows.sortBy(r => bucketRank(r.getString(1))).map(_.getLong(4))
      assert(means.zip(means.tail).forall { case (a, c) => a <= c },
        s"bi=$b: trigram means not monotone: ${means.toSeq}")
    }
  }

  test("lm deployed gates: threshold form reproduces the rank policy per language") {
    Seq(TextAnalysis.ccnetDeployed(spark, dir) -> TextAnalysis.unigramSurprisal(spark, dir),
      TextAnalysis.bigramDeployed(spark, dir) -> TextAnalysis.bigramSurprisal(spark, dir),
      TextAnalysis.trigramDeployed(spark, dir) -> TextAnalysis.trigramSurprisal(spark, dir))
      .foreach { case (deployedDf, bucketsDf) =>
        val deployed = deployedDf.collect()
        assert(deployed.nonEmpty)
        deployed.foreach { r =>
          assert(r.getBoolean(11), s"lang ${r.getString(0)}: rank/threshold drift: $r")
        }
        // the frozen boundaries must be the max score inside each rank band
        val buckets = bucketsDf.collect()
          .map(r => (r.getString(1), r.getLong(3), r.getString(4)))
        deployed.foreach { r =>
          val lang = r.getString(0)
          val headMax = buckets.collect { case (l, s, "head") if l == lang => s }
          if (headMax.nonEmpty) assert(r.getLong(2) == headMax.max,
            s"$lang: head boundary != max rank-head score")
          val hmMax = buckets.collect { case (l, s, b) if l == lang && b != "tail" => s }
          if (hmMax.nonEmpty) assert(r.getLong(3) == hmMax.max,
            s"$lang: middle boundary != max rank-head∪middle score")
        }
      }
  }

  test("lm deployed classify path is window-free (scan + broadcast boundaries only)") {
    val plan = TextAnalysis.ccnetDeployedClassify(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"deployed classify path regressed to the calibration rank window:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"boundary table not broadcast:\n$plan")
  }

  test("lm deployed: a 1-doc language carries NULL boundaries and classifies tail") {
    val docs = Seq((1L, "lone doc words here", "solo")) ++
      (10 to 19).map(i => (i.toLong, s"w$i common words and more text here", "big"))
    val tmp = java.nio.file.Files.createTempDirectory("lm_deployed_tiny").toString
    spark.createDataFrame(docs).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextAnalysis.ccnetDeployed(spark, tmp).collect()
      .map(r => r.getString(0) -> r).toMap
    val solo = rows("solo")
    assert(solo.isNullAt(2) && solo.isNullAt(3), "1-doc stratum must freeze NULL boundaries")
    assert(solo.getLong(5) == 0L && solo.getLong(8) == 0L,
      "NULL boundaries must admit nothing into head/middle")
    assert(solo.getLong(10) == 1L && solo.getBoolean(11),
      "the lone doc classifies tail on both forms — gate must hold")
    assert(rows("big").getBoolean(11))
  }

  test("ccnet buckets: tiny strata degrade sanely (n=1 lands tail, n=4 splits 1/1/2)") {
    // the integer cut rule at small n: head = floor(3n/10), middle up to
    // floor(7n/10) — a 1-doc language is all tail (conservative: nothing
    // is promoted to head without corpus mass behind it)
    val docs = (1 to 1).map(i => (i.toLong, "the a of b", "solo")) ++
      (10 to 13).map(i => (i.toLong, s"w$i x y common common", "quad"))
    val tmp = java.nio.file.Files.createTempDirectory("ccnet_tiny").toString
    spark.createDataFrame(docs).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextAnalysis.unigramSurprisal(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(4)))
    val solo = rows.filter(_._2 == "solo").map(_._3).toSeq
    assert(solo == Seq("tail"), s"1-doc stratum must be all tail, got $solo")
    val quad = rows.filter(_._2 == "quad").map(_._3)
    assert(quad.count(_ == "head") == 1 && quad.count(_ == "middle") == 1 &&
      quad.count(_ == "tail") == 2,
      s"n=4 must cut 1/1/2 (floor(12/10), floor(28/10)-1, rest): ${quad.toSeq}")
  }

  test("training manifest: a token-less doc still gets a row (tail, dropped with an audit trail)") {
    val docs = Seq((0L, "", "und"), (1L, "the a of b c", "en"), (2L, "x y z w v", "en"))
    val tmp = java.nio.file.Files.createTempDirectory("manifest_empty").toString
    spark.createDataFrame(docs).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextAnalysis.trainingManifest(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(5), r.getBoolean(9)))
    assert(rows.length == 3, s"manifest must cover every raw doc, got ${rows.length}")
    val empty = rows.find(_._1 == 0L).get
    assert(empty._2 == "tail" && !empty._3,
      s"token-less doc must land in tail with final_keep=false, got $empty")
  }

  test("target affinity: target source excluded, micro-fractions well-formed, rerun-identical") {
    val rows = TextAnalysis.targetAffinity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, source, nBi, nHl, aff) =>
      assert(source != "src0", "target docs must not be scored")
      assert(nHl >= 0 && nHl <= nBi, "high-lift count out of range")
      assert(aff == nHl * 1000000L / nBi, "affinity is not the exact micro-fraction")
    }
    // covers every non-target doc with >= 2 chars
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") =!= "src0" && length(col("text")) >= 2).count()
    assert(rows.length == expected)
    val rerun = TextAnalysis.targetAffinity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.sameElements(rerun), "affinity scoring must be deterministic")
  }

  test("label outliers: k rows, descending msd, and a planted far vector surfaces at rank 1") {
    import org.apache.spark.sql.types._
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    val dim = base.select(size(col("embedding"))).first().getInt(0)
    // plant one vector far from its label's centroid in a COPY of the table
    val planted = base.unionByName(
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          999999L, Array.fill(dim)(50.0f).toSeq, 0)),
        StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("label", IntegerType)))))
    val tmp = java.nio.file.Files.createTempDirectory("outlier_fixture").toString
    planted.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = Similarity.labelOutliers(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.length == 20)
    assert(rows.map(_._1).toSeq == (1L to 20L), "ranks must be 1..k")
    assert(rows.map(_._4).toSeq == rows.map(_._4).sortBy(-_).toSeq, "msd not descending")
    assert(rows.head._2 == 999999L, "planted far vector must rank first")
    // and on the clean fixture the operator is deterministic across reruns
    val a = Similarity.labelOutliers(spark, dir).collect().map(_.toSeq)
    val b = Similarity.labelOutliers(spark, dir).collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("ensemble dedup: planted copies score 'both'; single-signal pairs carry one score") {
    val rows = Dedup.dedupEnsemble(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)), r.getString(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, j, c, v) =>
      assert(a < b, "pair not canonicalized")
      v match {
        case "both"       => assert(j.isDefined && c.isDefined)
        case "text_only"  => assert(j.isDefined && c.isEmpty)
        case "embed_only" => assert(j.isEmpty && c.isDefined)
        case other        => fail(s"unknown verdict $other")
      }
    }
    // ids planted on BOTH sides (id, id+1e6 with the same offset scheme)
    // must merge into a single 'both' row wherever each side found its pair
    val text = Dedup.ngramJaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val embed = graft.operators.Similarity.embeddingNearDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val both = rows.filter(_._5 == "both").map(t => (t._1, t._2)).toSet
    assert(both == (text intersect embed), "verdict 'both' must be exactly the intersection")
    assert(rows.map(t => (t._1, t._2)).toSet == (text union embed), "ensemble must cover the union")
  }

  test("oov rate: exact micro-fractions, and vocab words are never OOV") {
    val rows = TextAnalysis.oovRate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 500)
    rows.foreach { case (_, n, oov, micro) =>
      assert(oov >= 0 && oov <= n)
      assert(micro == oov * 1000000L / n)
    }
    // a doc made ONLY of top-df words must score 0 OOV: the fixture's most
    // common words appear in nearly every doc, so at least one doc is all
    // in-vocab at vocabSize=50 (the corpus vocabulary is ~60 words)
    assert(rows.exists(_._3 == 0L), "no fully-in-vocab doc — vocabulary selection looks broken")
  }

  test("oov rate (file vocab): scoring matches an independent Scala recount against the fixture wordlist") {
    // the checked-in 10k-entry wordlist stands in for a published
    // tokenizer vocab.txt: 16 of the corpus's 31 words are in-vocab, the
    // other 15 plus every filler entry are not — so the file path must
    // produce real nonzero OOV, unlike the derived top-df vocabulary
    val vocabPath = getClass.getResource("/vocab_10k.txt").getPath
    val rows = TextAnalysis.oovRateFromFile(spark, dir, vocabPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(rows.length == 500)
    val vocab = {
      val src = scala.io.Source.fromFile(vocabPath)
      try src.getLines().filter(_.nonEmpty).toSet finally src.close()
    }
    assert(vocab.size == 10000)
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).split(" ").filter(_.nonEmpty)
        val oov = toks.count(w => !vocab.contains(w)).toLong
        (r.getLong(0), toks.length.toLong, oov, oov * 1000000L / toks.length)
      }.sortBy(_._1)
    assert(rows.toSeq == expected.toSeq, "file-vocab OOV diverges from the direct recount")
    assert(rows.exists(_._3 > 0L), "fixture must leave some words out-of-vocabulary")
  }

  test("training manifest: flags agree with the piecemeal operators and final_keep is their conjunction") {
    val rows = TextAnalysis.trainingManifest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getBoolean(3), r.getBoolean(4), r.getString(5),
        r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)))
    assert(rows.length == 500, "one manifest row per raw doc")
    rows.foreach { case (_, d, q, bucket, b, c, pg, f) =>
      assert(b == (bucket != "tail"))
      assert(f == (d && q && b && c && pg),
        "final_keep must be the conjunction of the five gates")
    }
    // flags must match the standalone operators doc-for-doc
    val dedupKeep = Dedup.dedupKeepList(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2) == 1L)).toMap
    val quality = TextAnalysis.qualityPrune(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val nbKeep = QualityClassifier.perDocScores(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1) > QualityClassifier.DecisionMicro)).toMap
    val paraKeep = TextAnalysis.paragraphDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    rows.foreach { case (id, d, q, _, _, c, pg, _) =>
      assert(d == dedupKeep(id), s"doc $id dedup flag diverges from dedupKeepList")
      assert(q == quality(id), s"doc $id quality flag diverges from qualityPrune")
      assert(c == nbKeep.getOrElse(id, false),
        s"doc $id classifier flag diverges from perDocScores' decision rule")
      // gate #5 abstains to KEEP for docs with no full paragraph block
      assert(pg == paraKeep.getOrElse(id, true),
        s"doc $id paragraph flag diverges from paragraphDedup's keep verdict")
    }
    // the pipeline must actually cut something on the planted fixture, but
    // never everything
    val kept = rows.count(_._8)
    assert(kept > 0 && kept < rows.length, s"degenerate manifest: kept $kept of ${rows.length}")
  }

  test("manifest rollup: reconciles doc-for-doc with the manifest and the token counts") {
    val rollup = TextAnalysis.manifestRollup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val manifest = TextAnalysis.trainingManifest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(9)))
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = manifest.groupBy(_._2).map { case (src, docs) =>
      val total = docs.map(d => toks(d._1)).sum
      val kept = docs.filter(_._3).map(d => toks(d._1)).sum
      src -> (docs.length.toLong, docs.count(_._3).toLong, total, kept, kept * 1000000L / total)
    }
    assert(rollup.map(_._1).toSet == expected.keySet)
    rollup.foreach { case (src, nd, nk, tt, tk, micro) =>
      assert((nd, nk, tt, tk, micro) == expected(src), s"rollup diverges for $src")
    }
    // the rollup must show real cuts without wiping any source
    rollup.foreach { case (src, _, nk, _, _, micro) =>
      assert(nk > 0, s"source $src fully dropped")
      assert(micro < 1000000L, s"source $src shows no cuts at all")
    }
  }

  test("degree histogram: handshake identity and a degree-1-dominated healthy corpus") {
    val hist = Dedup.degreeHistogram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nPairs = Dedup.ngramJaccardPairs(spark, dir).count()
    // sum of degrees counts every edge end exactly once per direction
    assert(hist.map { case (d, n) => d * n }.sum == 2 * nPairs, "handshake identity broken")
    val total = hist.map(_._2).sum
    val deg1 = hist.find(_._1 == 1L).map(_._2).getOrElse(0L)
    assert(deg1 * 2 > total, s"degree-1 docs are not the majority ($deg1 of $total)")
  }

  test("pagerank hubs: covers the graph's nodes; degree-1 mutual pairs sit at the fixed point") {
    val pairs = Dedup.ngramJaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val degree = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val pr = Dedup.pagerankHubs(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.keySet == degree.keySet, "rank table must cover exactly the graph's nodes")
    // teleport floor: no rank below 0.15 in micro-units
    pr.values.foreach(v => assert(v >= 150000L, s"rank $v below the teleport floor"))
    // a mutually-paired degree-1 couple passes its whole rank back and
    // forth: 150000 + (850 * (10^6 div 1)) div 1000 == 10^6 exactly, every
    // iteration — the integer fixed point
    val mutualSingles = pairs.filter(p => degree(p._1) == 1 && degree(p._2) == 1)
    assert(mutualSingles.nonEmpty)
    mutualSingles.foreach { case (a, b) =>
      assert(pr(a) == 1000000L && pr(b) == 1000000L,
        s"pair ($a,$b) drifted from the degree-1 fixed point: ${pr(a)}, ${pr(b)}")
    }
  }

  test("takedown manifest: one row per request, near-dups linked, shard matches the shuffle") {
    val requests = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 41 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val manifest = Dedup.takedownManifest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(manifest.map(_._1).toSet == requests, "manifest must cover exactly the request list")
    // every request has a planted suffix near-dup; banded-LSH recall on the
    // fixture is >= 90%, so at most a straggler may report zero links
    val unlinked = manifest.count(_._3 == 0L)
    assert(unlinked <= math.max(1, requests.size / 10),
      s"$unlinked of ${requests.size} requests found no near-dups to purge")
    // the named shard must be the one the deterministic shuffle assigns
    val shards = TextAnalysis.shuffleShards(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    manifest.foreach { case (id, shard, _) =>
      assert(shards(id) == shard, s"doc $id: manifest shard $shard != shuffle ${shards(id)}")
    }
  }

  test("semdedup keeps every natural vector and drops >= 90% of planted copies") {
    val out = Similarity.semDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val (natural, perturbed) = out.partition(_._1 < 1000000L)
    assert(natural.length == 500 && perturbed.length == 500)
    // fixture naturals are near-orthogonal (max cos ~0.5 << tau 0.9):
    // none may be sacrificed to the dedup
    assert(natural.forall(_._2 == 1L), "a natural vector was dropped")
    // each planted copy has cos ~0.99 to its source; it survives only when
    // the +0.01 shift pushes it across a quantizer cell boundary (the
    // documented SemDeDup recall limit — within-cluster pairs only)
    val dropped = perturbed.count(_._2 == 0L)
    assert(dropped >= 450, s"only $dropped/500 planted copies dropped")
  }

  test("semdedup cell-count policy: k grows with n, within-cell pair volume stays linear") {
    import Similarity.semDedupK
    // the gated query's derivations: 2x500 base vectors at sf0.001, 2x1000 at sf0.01
    assert(semDedupK(1000) == 8 && semDedupK(2000) == 16)
    // k tracks n/targetCellSize exactly (+-1 cell), so expected pair cost
    // n^2/k stays ~n*targetCellSize at ANY corpus size; the paper's LAION
    // setting (~1e8 points, ~1e5 clusters) falls out of the same policy
    Seq(1000L, 100000L, 100000000L, 10000000000L).foreach { n =>
      assert(math.abs(semDedupK(n).toLong * 125L - n) <= 125L, s"k(${n}) off-policy")
    }
    assert(semDedupK(0) == 1 && semDedupK(1) == 1) // degenerate corpora still quantize
    // realized (not just expected) bound on the fixture: the seeded
    // quantizer's cells may skew, but total within-cell pair volume must
    // stay within a small constant of the n*targetCellSize linear budget
    val cells = Similarity.semDedupCells(spark, dir, nCentroids = semDedupK(1000))
      .groupBy("cell").count().collect().map(_.getLong(1))
    val n = cells.sum
    val pairVol = cells.map(c => c * c).sum
    assert(pairVol <= 4L * n * 125L,
      s"within-cell pair volume $pairVol > 4*n*target=${4L * n * 125L} (cells: ${cells.sorted.mkString(",")})")
  }

  test("dup spans: every planted near-dup doc is 100% duplicated spans") {
    val out = TextAnalysis.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.foreach { case (id, nSpans, nDup, frac) =>
      assert(nSpans >= 1 && nDup >= 0 && nDup <= nSpans, s"doc $id counts")
      assert(frac == nDup.toDouble / nSpans, s"doc $id frac")
    }
    // a perturbed doc is a suffix of its source, so each of its 5-gram
    // spans appears verbatim in the source: dup_frac must be exactly 1
    val planted = out.filter(_._1 >= 1000000L)
    assert(planted.nonEmpty)
    planted.foreach { case (id, _, _, frac) =>
      assert(frac == 1.0, s"planted near-dup $id has dup_frac $frac != 1.0")
    }
  }

  test("span mask: planted suffix copies fully covered; sources keep at most token 1") {
    val out = TextAnalysis.spanMask(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.foreach { case (id, n, cov, frac) =>
      assert(cov >= 0 && cov <= n, s"doc $id coverage")
      assert(frac == (n - cov).toDouble / n, s"doc $id frac")
    }
    val (planted, sources) = out.partition(_._1 >= 1000000L)
    assert(planted.nonEmpty && sources.nonEmpty)
    // a perturbed doc is a suffix of its source: every one of its spans is
    // duplicated, and their union covers every token position
    planted.foreach { case (id, n, cov, frac) =>
      assert(cov == n && frac == 0.0, s"suffix copy $id not fully covered ($cov/$n)")
    }
    // the source shares all spans from position 2 on; only its leading
    // token can escape (iff its first span is globally unique)
    sources.foreach { case (id, n, cov, _) =>
      assert(cov >= n - 1, s"source $id covered only $cov of $n tokens")
    }
  }

  test("determinism: shard/mixture/mask/rank outputs survive input permutation + repartitioning") {
    val perm = java.nio.file.Files.createTempDirectory("perm_docs").toString
    spark.read.parquet(s"$dir/documents.parquet")
      .repartition(13).orderBy(rand(7))
      .write.mode("overwrite").parquet(s"$perm/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toVector).toVector
    assert(rows(TextAnalysis.shuffleShards(spark, dir)) == rows(TextAnalysis.shuffleShards(spark, perm)),
      "shuffle shards depend on input layout")
    assert(rows(TextAnalysis.mixtureBudget(spark, dir)) == rows(TextAnalysis.mixtureBudget(spark, perm)),
      "mixture budget depends on input layout")
    assert(rows(TextAnalysis.spanMask(spark, dir)) == rows(TextAnalysis.spanMask(spark, perm)),
      "span mask depends on input layout")
    assert(rows(Dedup.pagerankHubs(spark, dir)) == rows(Dedup.pagerankHubs(spark, perm)),
      "pagerank depends on input layout")
  }

  test("interval-union fold equals brute-force coverage on randomized span sets") {
    import spark.implicits._
    val rng = new scala.util.Random(20260813L)
    val cases = (0 until 60).map { i =>
      val n = 1 + rng.nextInt(40)
      // duplicates + adjacent + far-apart starts, the shapes that break folds
      val ps = Seq.fill(n)(1L + rng.nextInt(120)).distinct.sorted
      (i.toLong, ps)
    }
    val foldExpr =
      """aggregate(ps, CAST(0 AS BIGINT),
        |  (a, p) -> ((a div 1000000) + greatest(CAST(0 AS BIGINT), p + 4 - greatest(a % 1000000, p - 1))) * 1000000
        |            + greatest(a % 1000000, p + 4),
        |  a -> a div 1000000)""".stripMargin
    val got = cases.toDF("id", "ps")
      .selectExpr("id", s"$foldExpr AS covered")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (id, ps) =>
      val brute = ps.flatMap(p => p to p + 4).distinct.size.toLong
      assert(got(id) == brute, s"case $id: fold ${got(id)} != brute $brute for $ps")
    }
  }

  test("novelty: planted suffix copies own none of their spans; fresh content scores high") {
    val out = TextAnalysis.ngramNovelty(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.foreach { case (id, n, novel, score) =>
      assert(novel >= 0 && novel <= n, s"doc $id counts")
      assert(score == novel.toDouble / n, s"doc $id score")
    }
    val (planted, sources) = out.partition(_._1 >= 1000000L)
    assert(planted.nonEmpty && sources.nonEmpty)
    // a suffix copy's every span first appears in its lower-id source
    planted.foreach { case (id, _, novel, _) =>
      assert(novel == 0L, s"planted copy $id owns $novel spans")
    }
    // the raw corpus is mostly fresh content
    val meanSourceNovelty = sources.map(_._4).sum / sources.length
    assert(meanSourceNovelty > 0.5, s"mean source novelty $meanSourceNovelty")
  }

  test("stratified sample hits each stratum's target rate within 4 sigma") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TextAnalysis.stratifiedSample(spark, dir).collect()
      .map(r => r.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    byLang.foreach { case (lang, n) =>
      val f = if (lang == "en") 0.2 else 0.1
      val sigma = math.sqrt(n * f * (1 - f))
      val realized = kept.getOrElse(lang, 0)
      // the plain (un-md5'd) hash FAILED this: en sampled at 40% vs 20%
      assert(math.abs(realized - f * n) <= math.max(3.0, 4 * sigma),
        s"$lang realized $realized of $n vs target ${f * n} (4-sigma ${4 * sigma})")
    }
  }

  test("shuffled order decorrelates from crawl order (no long monotone runs)") {
    // with the plain fold the permutation was near-affine in doc_id; a
    // well-mixed key makes long id-monotone runs in shard-position order
    // vanishingly unlikely
    val ordered = TextAnalysis.shuffleShards(spark, dir).collect()
      .sortBy(r => (r.getLong(1), r.getLong(2))).map(_.getLong(0))
    val maxRun = ordered.foldLeft((0L, 0, 0)) { case ((prev, run, best), id) =>
      val r = if (id > prev) run + 1 else 1
      (id, r, math.max(best, r))
    }._3
    assert(maxRun <= 12, s"longest ascending doc_id run is $maxRun — order still correlated")
  }

  test("shuffle shards: a deterministic permutation with dense per-shard positions") {
    val rows = TextAnalysis.shuffleShards(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == total, "shuffle must be a permutation (no loss, no dup)")
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.groupBy(_._2).foreach { case (shard, members) =>
      assert(shard >= 0 && shard < 8)
      // positions within a shard are exactly 1..n
      assert(members.map(_._3).sorted.sameElements(1L to members.length),
        s"shard $shard positions are not dense")
    }
    // content-independent hash key => bit-identical on rerun
    val again = TextAnalysis.shuffleShards(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sameElements(again), "shuffle is not deterministic across runs")
  }

  test("drift chi-square: contingency identities hold and the uniform fixture stays calm") {
    val out = EventOps.driftChisq(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    val tWd = out.map(_._2).sum
    val tWe = out.map(_._3).sum
    out.foreach { case (t, nWd, nWe, eWd, contrib) =>
      assert(contrib >= 0.0, s"$t negative chi2 contribution")
      assert(eWd == tWd.toDouble * (nWd + nWe) / (tWd + tWe), s"$t expected-count identity")
    }
    // expected weekday counts redistribute the weekday total exactly
    assert(math.abs(out.map(_._4).sum - tWd) < 1e-6)
    // the fixture's type mix is time-uniform: the statistic must sit far
    // below the 0.1% critical value for dof=4 (18.47) — a regression that
    // skews the cells (bad dow math, lost rows) blows straight past it
    val chi2 = out.map(_._5).sum
    assert(chi2 < 18.47, s"chi2 $chi2 on a uniform fixture — cell math is broken")
  }

  test("KS drift: valid statistic, samples partition the rows, uniform fixture stays calm") {
    val r = EventOps.driftKs(spark, dir).collect()(0)
    val (ks, tWd, tWe) = (r.getDouble(0), r.getLong(2), r.getLong(3))
    assert(ks >= 0.0 && ks <= 1.0)
    val nonNull = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("value").isNotNull).count()
    assert(tWd + tWe == nonNull, "weekday/weekend samples must partition the rows")
    // two-sample KS 1% critical value: 1.63 * sqrt((n1+n2)/(n1*n2)); the
    // fixture draws value identically for all days, so a breach means the
    // CDF accumulation (ordering, totals, gap math) is broken
    val critical = 1.63 * math.sqrt((tWd + tWe).toDouble / (tWd.toDouble * tWe))
    assert(ks < critical, s"KS $ks >= 1% critical $critical on an identically-drawn fixture")
  }

  test("z-order layout: buckets partition the table into <=256x256 rectangles") {
    val out = EventOps.zorderLayout(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val total = spark.read.parquet(s"$dir/events.parquet").count()
    assert(out.map(_._2).sum == total, "buckets must partition the table")
    // bucket = zkey div 2^16 fixes bits 8+ of BOTH interleaved coordinates,
    // so each bucket's (user, hour) bounding box is at most 256 x 256 — the
    // two-dimensional locality a plain sort cannot give
    out.foreach { case (bucket, _, minU, maxU, minH, maxH) =>
      assert(maxU - minU < 256, s"bucket $bucket user span ${maxU - minU}")
      assert(maxH - minH < 256, s"bucket $bucket hour span ${maxH - minH}")
      assert(maxU >> 8 == minU >> 8 && maxH >> 8 == minH >> 8,
        s"bucket $bucket crosses a 256-aligned boundary — interleave is broken")
    }
  }

  test("mixture budget: shares sum to 1 and repeat factors hit the target exactly") {
    val rows = TextAnalysis.mixtureBudget(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))
    assert(rows.length == 20)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
    val totalTokens = rows.map(_._3).sum.toDouble
    rows.foreach { case (src, nDocs, nTokens, share, repeat, epochs) =>
      assert(nDocs > 0 && nTokens > 0, src)
      // the defining identity: repeated source tokens == target share of total
      assert(repeat == share * totalTokens / nTokens, s"$src repeat factor")
      assert(epochs == math.ceil(repeat).toLong, s"$src epochs")
    }
  }

  test("quality prune keeps exactly the top 70% per source, never a lower-scored doc") {
    val out = TextAnalysis.qualityPrune(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    val bySource = out.groupBy(_._2)
    bySource.foreach { case (src, docs) =>
      val n = docs.length
      val kept = docs.filter(_._5)
      // the integer keep rule is exactly rnk <= floor(0.7 * n)
      assert(kept.length == (n * 700) / 1000, s"$src kept ${kept.length} of $n")
      // no dropped doc outscores a kept one (rank is (score desc, doc_id))
      if (kept.length < n) {
        val minKept = kept.map(_._3).min
        val maxDropped = docs.filterNot(_._5).map(_._3).max
        assert(maxDropped <= minKept, s"$src dropped a higher-scored doc")
      }
    }
  }

  test("train split is 80/10/10-ish, content-independent, and rerun-identical") {
    val a = TextAnalysis.trainSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val b = TextAnalysis.trainSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(a.toSeq == b.toSeq, "split assignment must be rerun-identical")
    val frac = a.groupBy(_._3).view.mapValues(_.length.toDouble / a.length).toMap
    assert(math.abs(frac("train") - 0.8) < 0.08, s"train frac ${frac("train")}")
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.1) < 0.05, s"val frac ${frac.get("val")}")
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.1) < 0.05, s"test frac ${frac.get("test")}")
    a.foreach { case (_, bucket, split) =>
      val expect = if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
      assert(split == expect)
    }
  }

  test("split leakage reports exactly the near-dup pairs that cross split boundaries") {
    val leaks = TextAnalysis.splitLeakage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(leaks.nonEmpty, "fixture plants cross-split near-dups; audit found none")
    leaks.foreach { case (a, b, sa, sb) =>
      assert(a < b, "pairs must be canonically ordered")
      assert(sa != sb, s"pair ($a,$b) does not cross splits")
    }
    // a planted (source, perturbed-copy) pair whose hash split them apart
    // must be reported: recompute the expected set for the planted ids
    def splitOf(id: Long): String = {
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split|$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = graft.functions.VectorExpressions.rollingHashJava(md5hex) % 100
      if (h < 80) "train" else if (h < 90) "val" else "test"
    }
    val planted = leaks.filter { case (a, b, _, _) => b == a + 1000000L }
    assert(planted.nonEmpty, "no planted source/copy pair crossed splits (hash should scatter them)")
    planted.foreach { case (a, b, sa, sb) =>
      assert(splitOf(a) == sa && splitOf(b) == sb, s"pair ($a,$b) splits ($sa,$sb) mismatch")
    }
  }

  test("mixture expansion hits each source's repeat factor within one doc") {
    val rf = TextAnalysis.mixtureBudget(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    val perDoc = TextAnalysis.mixtureExpand(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // copy_idx is dense 1..n per doc
    perDoc.groupBy(_._1).foreach { case (id, copies) =>
      assert(copies.map(_._3).sorted.toSeq == (1L to copies.length).toSeq, s"doc $id gaps")
    }
    // per-source realized copies track rf * n_docs within a binomial-style
    // 4-sigma envelope: the md5-permille selection is deterministic but
    // behaves statistically like an independent f-coin per doc (the plain
    // un-md5'd fold FAILED this bound — permilles cluster when a source's
    // ids form an arithmetic progression)
    val nDocs = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perDoc.groupBy(_._2).foreach { case (src, rows) =>
      val n = nDocs(src).toDouble
      val f = rf(src) - math.floor(rf(src))
      val target = rf(src) * n
      val sigma = math.sqrt(n * f * (1 - f))
      assert(math.abs(rows.length - target) <= math.max(3.0, 4 * sigma),
        s"$src realized ${rows.length} vs target $target (4-sigma ${4 * sigma})")
    }
    // rerun-identical (no RNG anywhere)
    val again = TextAnalysis.mixtureExpand(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(perDoc.toSeq == again.toSeq)
  }

  test("source overlap matrix is canonical, complete, and diagonal-dominated") {
    val m = Dedup.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(m.nonEmpty)
    m.foreach { case (a, b, n) =>
      assert(a <= b, "matrix must be upper-triangular (least, greatest)")
      assert(n > 0)
    }
    // every verified pair lands in exactly one cell
    val totalPairs = Dedup.sharedVerifiedPairs(spark, dir).count()
    assert(m.map(_._3).sum == totalPairs, "matrix must partition the pair set")
    // planted copies inherit their original's source, so same-source cells
    // (the diagonal) must carry the majority of the fixture's pairs
    val diag = m.filter(c => c._1 == c._2).map(_._3).sum
    assert(diag * 2 > totalPairs, s"diagonal $diag of $totalPairs")
  }

  test("mixture budget fails loudly on a corpus with <= 3 sources (no tail to budget)") {
    import spark.implicits._
    val tiny = java.nio.file.Files.createTempDirectory("mix3").toString
    // srcX is a TAIL source: with n_sources = 3 its share is 0.7/0 — the
    // silent-Inf case the guard must turn into an error (all-head corpora
    // never compute a tail share, so the guard correctly stays quiet there)
    Seq((1L, "src0", "a b c"), (2L, "src1", "d e f"), (3L, "srcX", "g h i"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tiny/documents.parquet")
    val e = intercept[Exception] {
      TextAnalysis.mixtureBudget(spark, tiny).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("needs > 3 sources")),
      s"expected the tail-share guard, got: ${messages(e).mkString(" | ")}")
  }
}

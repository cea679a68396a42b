package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Gates on the WRITTEN training-shard artifact (VERDICT r7 #2): the
  * pipeline's product is a parquet directory, so the checks here run
  * against what lands on disk — layout, completeness vs the manifest,
  * pack-order arithmetic, and bit-identical rerun — while value-level
  * equivalence of the read-back summary is driver-gated by
  * `docs_shard_write`'s DuckDB oracle. */
class TrainShardWriteSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val dir = SparkSuite.Sf0001

  private def snapshot(out: String): Seq[(Long, Long, Long, Long, Long, Long, String)] =
    spark.read.parquet(out)
      .select(col("shard").cast("long"), col("pos"), col("doc_id"), col("tokens"),
        col("stream_offset"), col("window_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6)))
      .sortBy(t => (t._1, t._2))

  test("shard write: Hive layout, manifest completeness, pack arithmetic, deterministic rerun") {
    val out = TextAnalysis.shardWrite(spark, dir)
    // directory-per-shard Hive layout — the pruning lever a trainer's
    // per-shard reader relies on
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(shardDirs.length == 8, s"expected 8 shard directories, got: ${shardDirs.mkString(",")}")
    val rows = snapshot(out)
    // exactly the manifest's final_keep docs, each exactly once
    val kept = TextAnalysis.trainingManifest(spark, dir)
      .filter(col("final_keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_._3).toSet == kept, "written docs != manifest final_keep set")
    assert(rows.length == kept.size, "a doc was written more than once")
    assert(kept.nonEmpty && kept.size < 500, "fixture should keep a strict subset")
    // within each shard: pos is 1..n dense, offsets are exact prefix sums
    // of token counts from 0, and window_id = offset div 2048
    rows.groupBy(_._1).foreach { case (shard, docs) =>
      assert(docs.map(_._2).toSeq == (1L to docs.length).toSeq, s"shard $shard pos not dense")
      var expect = 0L
      docs.foreach { case (_, _, id, toks, off, win, _) =>
        assert(off == expect, s"shard $shard doc $id offset $off != running sum $expect")
        assert(win == off / 2048, s"shard $shard doc $id window_id mismatch")
        expect += toks
      }
    }
    // rerun determinism: a second write (fresh manifest build — the memo
    // is cleared — and an overwrite-mode write) must produce bit-identical
    // content, or resumed/repeated production runs silently diverge
    StageMemo.clear()
    val out2 = TextAnalysis.shardWrite(spark, dir)
    assert(out2 == out)
    assert(snapshot(out2) == rows, "rerun produced different shard content")
  }

  test("shard write gate: read-back summary is consistent with the written rows") {
    val out = TextAnalysis.shardWritePath(dir)
    val gate = TextAnalysis.shardWriteGate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(gate.map(_._1).toSeq == gate.map(_._1).toSeq.sorted)
    val rows = snapshot(out)
    val byShard = rows.groupBy(_._1)
    assert(gate.map(_._1).toSet == byShard.keySet)
    gate.foreach { case (shard, nDocs, nWindows, nTokens, _) =>
      val docs = byShard(shard)
      assert(nDocs == docs.length)
      assert(nTokens == docs.map(_._4).sum)
      // windows COVERED by the contiguous packed stream = ceil(Σtokens/w).
      // NOT max(window_id)+1: window_id marks each doc's START window, and
      // a tail doc crossing a boundary spills into windows no doc starts
      // in (this fixture does exactly that — the old formula read 1 where
      // the stream covers 2).
      assert(nWindows == (docs.map(_._4).sum + 2047) / 2048)
      assert(nWindows >= docs.map(_._6).max + 1)
    }
  }

  test("manifest sidecar: written beside the artifact and true of the written rows") {
    // shardManifest runs the write (which emits the sidecar) then reads
    // the sidecar back — value-exactness vs the raw-table recompute is
    // driver-gated (docs_shard_manifest oracle); here we pin the SIDECAR
    // properties: it exists on disk next to the data, and each summary
    // row is true of the artifact rows it describes
    val man = TextAnalysis.shardManifest(spark, dir).collect()
    assert(new java.io.File(TextAnalysis.shardManifestPath(dir)).isDirectory,
      "manifest sidecar parquet not written beside the shard artifact")
    val rows = snapshot(TextAnalysis.shardWritePath(dir))
    val byShard = rows.groupBy(_._1)
    assert(man.map(_.getLong(0)).toSet == byShard.keySet)
    man.foreach { r =>
      val docs = byShard(r.getLong(0))
      assert(r.getLong(1) == docs.length) // n_docs
      assert(r.getLong(2) == docs.map(_._4).sum) // n_tokens
      assert(r.getLong(3) == (docs.map(_._4).sum + 2047) / 2048) // n_windows
      assert(r.getLong(6) == docs.map(_._4).min) // min_tokens
      // post-dedup artifact: no shard may hold two identical texts
      assert(r.getLong(7) == docs.length - docs.map(_._7).distinct.length,
        s"shard ${r.getLong(0)} n_dup_texts wrong")
      assert(r.getLong(7) == 0L, "kept set contains exact-duplicate texts")
    }
  }

  test("release report: internal consistency of the sign-off metrics") {
    val m = TextAnalysis.releaseReport(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set("docs_total", "docs_kept", "tokens_total",
      "tokens_kept", "tokens_kept_ppm", "kept_contaminated", "kept_takedown",
      "leaked_pairs"))
    assert(m("docs_kept") > 0 && m("docs_kept") < m("docs_total"))
    assert(m("tokens_kept") > 0 && m("tokens_kept") < m("tokens_total"))
    assert(m("tokens_kept_ppm") ==
      m("tokens_kept") * 1000000L / m("tokens_total"))
    // audits are subsets of the kept set / pair graph
    assert(m("kept_contaminated") <= m("docs_kept"))
    assert(m("kept_takedown") <= m("docs_kept"))
    // fixture plants contamination (originals of every 97th perturbed copy)
    // and takedown requests (doc_id % 41) — a release report that reads 0
    // everywhere would mean the audits are disconnected from the data
    assert(m("kept_contaminated") > 0, "planted contamination not surfaced")
    assert(m("kept_takedown") > 0, "planted takedown requests not surfaced")
  }

  test("release e2e: every artifact-derived metric matches the artifact itself") {
    val m = TextAnalysis.pipelineReleaseE2e(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set("shards_written", "docs_released", "tokens_released",
      "windows_scheduled", "sidecar_content_hash", "artifact_sidecar_docs_delta",
      "released_contaminated", "released_takedown"))
    // the artifact the run just wrote is the referee: read it back and
    // recount independently of the report's own plan
    val art = spark.read.parquet(TextAnalysis.shardWritePath(dir)).collect()
    assert(m("docs_released") == art.length.toLong)
    assert(m("shards_written") ==
      art.map(_.getInt(art.head.fieldIndex("shard"))).distinct.length.toLong)
    assert(m("tokens_released") ==
      art.map(r => r.getLong(r.fieldIndex("tokens"))).sum)
    // artifact and sidecar must agree exactly
    assert(m("artifact_sidecar_docs_delta") == 0L, "sidecar drifted from the artifact")
    // windows: per-shard ceil(tokens/2048) summed
    val byShard = art.groupBy(_.getInt(art.head.fieldIndex("shard")))
    assert(m("windows_scheduled") == byShard.values
      .map(rs => (rs.map(r => r.getLong(r.fieldIndex("tokens"))).sum + 2047) / 2048).sum)
    // the released set equals the manifest's kept set — the e2e property
    val kept = TextAnalysis.trainingManifest(spark, dir).collect()
      .filter(r => r.getBoolean(r.fieldIndex("final_keep")))
      .map(_.getLong(0)).toSet
    assert(art.map(_.getLong(0)).toSet == kept, "artifact != kept set")
    assert(m("released_takedown") > 0, "planted takedown requests not surfaced")
  }

  test("banding pick: the recommendation follows the stated decision rule") {
    val curve = Dedup.bandingCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val pick = Dedup.bandingPick(spark, dir).collect()
    assert(pick.length == 1)
    val p = pick.head
    val maxPlanted = curve.map(_._6).max
    val qualified = curve.filter(_._6 == maxPlanted)
    val expected = qualified.maxBy(c => (c._5, c._2)) // precision, then strictness
    assert((p.getLong(0), p.getLong(1)) == ((expected._1, expected._2)),
      s"picked (${p.getLong(0)},${p.getLong(1)}), rule says (${expected._1},${expected._2})")
    assert(p.getLong(5) == maxPlanted, "recall gate violated")
    // verification cost is the exact half-down integer of candidates/true
    assert(p.getLong(6) == p.getLong(2) * 1000 / p.getLong(3))
  }
}

package graft.cli

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Per-query diff of two bench artifacts: `BenchDiff <old.json> <new.json>
  * [ratioGate]` reads two `bench_full.json` files (or `BENCH_r*.json` files
  * whose `parsed` field holds the same object), matches queries by name,
  * and prints
  *   - both totals, and the total and ratio over the common queries,
  *   - each artifact's JVM GC seconds,
  *   - added / removed queries,
  *   - every line whose time moved by more than `ratioGate` (default 1.5×)
  *     either way, slowest regressions first. When both artifacts carry a
  *     per-query `record`, the line also shows its executor CPU, jobs and
  *     stages on each side: a line whose wall time moved while its CPU and
  *     stage counts did not ran on a busier box, not a slower plan.
  *
  * Plain JVM (no Spark); jackson rides the Spark classpath.
  */
object BenchDiff {

  private final case class Artifact(total: Double, queries: Map[String, Double],
      gcSec: Option[Double], record: Map[String, JsonNode])

  private def parse(text: String, what: String): Artifact = {
    val root0 = new ObjectMapper().readTree(text)
    // `BENCH_r*.json` files wrap the bench line under "parsed" (null when
    // the stdout capture failed — fall back to the raw object if present)
    val root = if (root0.has("parsed") && !root0.get("parsed").isNull) root0.get("parsed") else root0
    require(root.has("queries"), s"$what has no queries map (a parsed: null wrapper?)")
    val qs = root.get("queries").properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
    val record = Option(root.get("record")).toSeq
      .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue)).toMap
    Artifact(if (root.has("value")) root.get("value").asDouble() else qs.values.sum, qs,
      Option(root.path("jvm").get("gc_sec")).map(_.asDouble()), record)
  }

  /** The report lines for artifacts `oldText` → `newText`. */
  def diff(oldText: String, newText: String, gate: Double = 1.5): Seq[String] = {
    val (o, n) = (parse(oldText, "old artifact"), parse(newText, "new artifact"))
    val out = Seq.newBuilder[String]
    out += f"total: ${o.total}%.1f s / ${o.queries.size} q  ->  ${n.total}%.1f s / ${n.queries.size} q" +
      f"  (mean ${o.total / o.queries.size}%.3f -> ${n.total / n.queries.size}%.3f s/q)"
    val common = (o.queries.keySet & n.queries.keySet).toSeq.sorted
    val (so, sn) = (common.map(o.queries).sum, common.map(n.queries).sum)
    out += f"common ${common.size} q: ${so}%.1f -> ${sn}%.1f s  (ratio ${sn / math.max(so, 1e-9)}%.3f)"
    def gc(a: Artifact) = a.gcSec.fold("-")(g => f"$g%.1f s")
    out += s"gc: ${gc(o)} -> ${gc(n)}"
    val added = (n.queries.keySet -- o.queries.keySet).toSeq.sorted
    val removed = (o.queries.keySet -- n.queries.keySet).toSeq.sorted
    if (added.nonEmpty) out += s"added (${added.size}): ${added.mkString(", ")}"
    if (removed.nonEmpty) out += s"removed (${removed.size}): ${removed.mkString(", ")}"
    val moved = common
      .map { q => (q, o.queries(q), n.queries(q), n.queries(q) / math.max(o.queries(q), 1e-9)) }
      .filter { case (_, a, b, r) => (r >= gate || r <= 1.0 / gate) && math.max(a, b) >= 0.2 }
      .sortBy(-_._4)
    if (moved.isEmpty) out += s"no line moved beyond ${gate}x (ignoring sub-0.2s noise)"
    moved.foreach { case (q, a, b, r) =>
      val cost = (o.record.get(q), n.record.get(q)) match {
        case (Some(x), Some(y)) =>
          def d(k: String) = s"$k ${x.path(k).asText("-")} -> ${y.path(k).asText("-")}"
          s"  ${d("cpu_s")} s  ${d("jobs")}  ${d("stages")}"
        case _ => ""
      }
      out += f"$q%-36s ${a}%7.2f -> ${b}%7.2f s  (${r}%5.2fx)$cost"
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchDiff <old.json> <new.json> [ratioGate]")
    def read(p: String) = new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    diff(read(args(0)), read(args(1)), if (args.length > 2) args(2).toDouble else 1.5)
      .foreach(println)
  }
}

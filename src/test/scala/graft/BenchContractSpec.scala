package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Gates the driver stdout contract on [[Bench.compactTotalLine]]: the LAST
  * line Bench prints must stay well inside the driver's ~2 KB stdout-tail
  * window (sbt's `[success] Total time…` trailer also lands in that window).
  * This contract regressed silently in rounds 9-10 — the "compact" line grew
  * the full rerun-adjudication map and `BENCH_r09/r10.json` recorded
  * `parsed: null` — so the size is now test-gated, not comment-gated.
  */
class BenchContractSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  // realistic worst case: 322 long-named queries, 3 long error names, the
  // widest load/jvm sub-objects Bench can emit
  private val results = (1 to 322).map(i => (f"profile_fd_discovery_exact_extra_long_$i%03d", i * 0.917))
  private val errors = Seq.fill(7)("multimodal_image_dhash_groups_verylongname")
  private val loadJson = """"load":{"start":31.938,"end":29.417,"cpus":32}"""
  private val jvmJson =
    """"jvm":{"code_cache_used_mb":511,"code_cache_max_mb":512,"gc_sec":1234.567}"""
  private val line = Bench.compactTotalLine(
    272.912, results, errors, loadJson, jvmJson,
    "/root/testdata/sf0.1")

  test("final line is valid standalone JSON") {
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("value").asDouble() > 272.0)
    assert(node.get("n_queries").asInt() == 322)
    assert(node.get("n_errors").asInt() == 7)
    assert(node.get("errors").size() == 3) // truncated head, count is separate
    // byte-budgeted queries map (VERDICT r16 #2): even at this worst case
    // (40-char names) at least 20 per-query entries ride the final line,
    // and the count + omitted always reconcile to n_queries
    assert(node.get("queries").size() >= 20)
    assert(node.get("queries").size() + node.get("queries_omitted").asInt() == 322)
    assert(node.get("full").asText() == "bench_full.json")
  }

  test("queries map holds the SLOWEST entries (driver compares round-over-round on these)") {
    val node = mapper.readTree(line)
    val vals = {
      val it = node.get("queries").elements()
      val b = Seq.newBuilder[Double]
      while (it.hasNext) b += it.next().asDouble()
      b.result()
    }
    // times are i * 0.917: the included minimum must beat every excluded
    // value, i.e. the map holds exactly the top-K by time
    val k = vals.size
    assert(vals.min > (322 - k) * 0.917 - 1e-9,
      s"expected only the slowest $k lines, got min ${vals.min}")
  }

  test("final line fits the driver tail window with margin") {
    // ~2048-byte tail minus sbt trailer (~100 B) minus the newline: require
    // a hard ceiling below it so name growth can't creep back over
    assert(line.getBytes("UTF-8").length <= 1800,
      s"compact total line is ${line.getBytes("UTF-8").length} B: $line")
  }

  test("realistic name lengths carry at least 25 per-query entries") {
    val typical = (1 to 387).map(i => (f"dedup_banding_curve_$i%03d", i * 0.31))
    val l = Bench.compactTotalLine(272.912, typical, Seq.empty, loadJson,
      jvmJson, "/root/testdata/sf0.1")
    val node = mapper.readTree(l)
    assert(node.get("queries").size() >= 25, s"only ${node.get("queries").size()} entries: $l")
    assert(l.getBytes("UTF-8").length <= 1800)
  }

  test("single line, no embedded newlines") {
    assert(!line.contains("\n"))
  }
}

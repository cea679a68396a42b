package graft.cli

import org.scalatest.funsuite.AnyFunSuite

/** [[BenchDiff]] on synthetic artifacts: an old-format artifact (no
  * `record`) still diffs, and a moved line shows its CPU and job counts
  * when both sides carry a record. */
class BenchDiffSpec extends AnyFunSuite {
  private val oldFormat =
    """{"metric":"total","value":6.5,"unit":"sec","queries":{"a":1.0,"b":4.0,"gone":1.5},"jvm":{"gc_sec":2.0},"rerun":{}}"""
  private val withRecord =
    """{"metric":"total","value":11.0,"unit":"sec","queries":{"a":1.0,"b":8.0,"new":2.0},"jvm":{"gc_sec":3.0},""" +
      """"record":{"a":{"wall_s":1.0,"cpu_s":0.5,"jobs":2,"stages":3},"b":{"wall_s":8.0,"cpu_s":1.25,"jobs":4,"stages":6}}}"""
  private val withRecordOld = withRecord
    .replace("\"b\":8.0", "\"b\":4.0").replace("\"cpu_s\":1.25,\"jobs\":4", "\"cpu_s\":1.20,\"jobs\":4")

  test("an artifact without a record still diffs") {
    val out = BenchDiff.diff(oldFormat, withRecord)
    assert(out.head.startsWith("total: 6.5 s / 3 q  ->  11.0 s / 3 q"), out.head)
    assert(out.contains("common 2 q: 5.0 -> 9.0 s  (ratio 1.800)"), out.mkString("\n"))
    assert(out.contains("gc: 2.0 s -> 3.0 s"), out.mkString("\n"))
    assert(out.contains("added (1): new") && out.contains("removed (1): gone"), out.mkString("\n"))
    val moved = out.filter(_.startsWith("b "))
    assert(moved.size == 1 && moved.head.contains("4.00 ->    8.00 s  ( 2.00x)"), moved.toString)
    assert(!moved.head.contains("cpu_s"), "cost columns need a record on both sides")
  }

  test("with a record on both sides a moved line shows its CPU and job counts") {
    val out = BenchDiff.diff(withRecordOld, withRecord)
    val moved = out.filter(_.startsWith("b "))
    assert(moved.size == 1, out.mkString("\n"))
    assert(moved.head.contains("cpu_s 1.2 -> 1.25 s") && moved.head.contains("jobs 4 -> 4") &&
      moved.head.contains("stages 6 -> 6"), moved.head)
    assert(!out.exists(_.startsWith("a ")), "an unmoved line is listed")
  }
}

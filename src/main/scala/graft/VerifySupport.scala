package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Shared plumbing for [[Verify]] (the driver's full correctness dump) and
  * [[graft.cli.VerifySubset]] (the dev-loop subset form) — ONE copy of the
  * dump-and-isolate loop and the load-bearing JSON escaper, so the subset
  * tool can never drift from the real verify path it claims to mirror.
  * Both build their session with [[GraftSession.local]].
  */
object VerifySupport {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** HARD RULE (the round-3 `embedding_quantize_int8` lesson, reintroduced
    * by the round-9 sketch split and machine-enforced since round 10): a
    * driver-facing query must emit only ATOMIC columns. Array/Map/Struct
    * outputs crash the driver's pandas `sort_values` adjudication harness,
    * so the row reads as an error even when values are correct. Library
    * APIs may return complex types; their `SparkEntry.queries` twin must
    * project a scalar digest (md5 of the joined list), exploded rows, or
    * per-element scalar columns instead. */
  def complexColumns(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq

  /** Queries deliberately registered WITHOUT a DuckDB oracle, each with a
    * one-line justification; every entry carries a brute-force or property
    * spec plus an oracle-gated scalar twin. Lives in main (not the spec) so
    * the generated operator index (`graft.cli.OperatorsIndex`) can report
    * the gate type per query from the same single source of truth the
    * `DriverSurfaceSpec` allowlist test enforces bidirectionally. */
  val rowsOnlyJustified: Map[String, String] = Map(
    "dedup_cluster_sizes" -> ("iterative min-label fixpoint (connected components) isn't " +
      "SQL-expressible; brute-force-verified in ConnectedComponentsSpec, scalar twin dedup_cluster_sizes_gate"),
    "dedup_kcore" -> ("iterative peel fixpoint isn't SQL-expressible; " +
      "brute-force-verified in KCoreSpec, scalar twin dedup_kcore_gate"),
    "profile_compaction_plan" -> ("sequential first-fit-decreasing bin-packing is order-dependent, " +
      "not SQL-expressible; invariants property-spec'd in CompactionPlanSpec, scalar twin profile_compaction_plan_gate"),
    "profile_fk_discovery" -> ("HLL containment estimates are engine-specific; the known-pair " +
      "detection guarantee is oracle-gated as profile_fk_discovery_gate"),
    "profile_heavy_values" -> ("Misra-Gries borderline entries depend on partial-merge order; " +
      "the MG guarantee is oracle-gated as profile_heavy_values_gate"),
    "profile_sketch_lineitem" -> ("HLL/KLL estimates are engine-specific; exact-stat columns + " +
      "estimate booleans are oracle-gated as profile_sketch_gate_lineitem"),
    "profile_sketch_events" -> ("HLL/KLL estimates are engine-specific; exact-stat columns + " +
      "estimate booleans are oracle-gated as profile_sketch_gate_events"))

  /** Dump each named query's result to `outDir/<name>` parquet, isolating
    * per-query failures (one bad query must not zero the round). Queries
    * violating the atomic-columns rule ([[complexColumns]]) are REJECTED
    * before writing — they would crash the driver's pandas harness. */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
      names: Iterable[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val complex = complexColumns(df)
        require(complex.isEmpty,
          s"driver-facing query emits non-atomic columns [${complex.mkString("; ")}] — " +
            "project a scalar digest/exploded rows instead (round-3 lesson)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
  }

  /** Write `outDir/oracle_sql.json` for the named subset (names without an
    * oracle entry are omitted — the driver's weaker rows-only path). */
  def writeOracleJson(outDir: String, names: Iterable[String]): Unit = {
    val keep = names.toSet
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}

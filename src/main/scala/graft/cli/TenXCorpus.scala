package graft.cli

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Builds the FULL 10-table fixture at `factor`× the base SF using the
  * [[ScaleProbe]] rotated-replica constructions (VERDICT r11 #2: one
  * whole-suite corpus above sf0.1, so the complete ledger and bench can run
  * end-to-end at ~10× instead of resting on per-family probes alone).
  *
  * Replication policy per table — the lake-growth shape (facts accumulate,
  * dimension domains saturate):
  *   - documents: id-shift + per-replica letter rotation (near-dup
  *     structure preserved per replica, ~zero cross-replica overlap);
  *   - embeddings: id-shift + label offset + cyclic dimension rotation;
  *   - lineitem / orders: fact keys (l_orderkey / o_orderkey) shift with
  *     the SAME spacing so the FK chain stays intact per replica;
  *     o_custkey and l_partkey/l_suppkey stay → dimension FKs saturate;
  *   - events: event/user ids shift, ts and type domains stay;
  *   - customer / supplier / part / nation / region: copied unreplicated.
  *
  * Usage: runMain graft.cli.TenXCorpus [baseSfDir] [outDir] [factor]
  */
object TenXCorpus {

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf10x")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1 && factor <= 26, "factor must be in [1, 26]")
    val spark = GraftSession.local()
    val par = spark.sparkContext.defaultParallelism

    def base(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")
    def write(t: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      df.repartition(par).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      val n = spark.read.parquet(s"$outDir/$t.parquet").count()
      println(s"[tenx] $t: $n rows")
    }

    write("documents")(ScaleProbe.replicate(base("documents"), factor))
    write("embeddings")(ScaleProbe.replicateEmb(base("embeddings"), factor))
    write("lineitem")(ScaleProbe.replicateLineitem(base("lineitem"), factor))
    write("orders")((0 until factor).map(k =>
        base("orders").withColumn("o_orderkey",
          col("o_orderkey") + lit(k * ScaleProbe.ReplicaSpacing)))
      .reduce(_ unionAll _))
    write("events")(ScaleProbe.replicateEvents(base("events"), factor))
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      write(t)(base(t))
    }
    println(s"[tenx] corpus at $outDir (${factor}x $baseDir)")
    spark.stop()
  }
}

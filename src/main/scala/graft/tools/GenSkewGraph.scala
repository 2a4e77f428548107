package graft.tools

import org.apache.spark.sql.functions._

/** Builds the SKEWED co-purchase variant of a lineitem table for the
  * triangle-orientation A/B: a slice of part keys is funneled onto a few
  * HUB ids, so the support-thresholded co-purchase graph — near-regular on
  * the real data, which is why the round-7 Schank–Wagner A/B came back
  * negative — grows genuine high-degree nodes.
  *
  * With hub ids at the BOTTOM of the id range, id-orientation points every
  * hub edge OUT of the hub (wedge fan-out C(deg, 2) explodes exactly like a
  * popular item in a real co-purchase graph at 100 TB), while
  * (degree, id)-orientation points hub edges INTO the hub (out-degree ≈ 0):
  * the scenario the degree-ordered variant exists for.
  *
  * Writes only lineitem.parquet — the graph queries read nothing else.
  * Scratch output under /tmp, never committed, oracle never sees it.
  *
  * Usage: runMain graft.tools.GenSkewGraph [src] [out] [hubs] [pct]
  */
object GenSkewGraph {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/tmp/sf1proxy"
    val out = if (args.length > 1) args(1) else "/tmp/skewgraph"
    val hubs = if (args.length > 2) args(2).toInt else 10
    val pct = if (args.length > 3) args(3).toInt else 1 // % of rows remapped

    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // pinned at 32 whatever the core count (the factory sizes it to the cores)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.sparkContext.setLogLevel("WARN")

    spark.read.parquet(s"$src/lineitem.parquet")
      .withColumn("l_partkey",
        // hub id from pk/100 so the remapped slice SPREADS over the hubs
        // (pk % 100 == 0 implies pk % hubs == 0 for hubs | 100 — a direct
        // modulus would funnel everything into one mega-hub)
        when(pmod(col("l_partkey"), lit(100)) < pct,
          pmod(expr("l_partkey div 100"), lit(hubs)))
          .otherwise(col("l_partkey")))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    println(s"[genskew] wrote $out/lineitem.parquet (hubs=$hubs, pct=$pct%)")
    spark.stop()
  }
}

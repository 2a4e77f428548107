package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds an sf-N *scaling proxy* from the driver's sf0.1 tables: N
  * key-shifted copies unioned, written to a scratch dir (default
  * /tmp/sf1proxy, never committed, never under /root/testdata).
  *
  * Purpose is the BASELINE.md scaling TREND only — is per-row cost flat
  * from sf0.1 → sf1? — not correctness (the DuckDB oracle never sees this
  * data). Join/group keys are shifted per copy so cardinalities scale
  * linearly (10× orders joining 10× lineitem, not a 100× cross blow-up);
  * dimension tables (region/nation) stay fixed like real TPC-H. Document
  * text gets a per-copy suffix and embeddings a per-copy ±1e-3 first-dim
  * nudge, so dedup/ANN workloads keep their duplicate/neighbor density
  * instead of every row gaining N-1 exact twins.
  */
object GenScaleProxy {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1proxy"
    val copies = if (args.length > 2) args(2).toInt else 10

    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // pinned at 32 whatever the core count (the factory sizes it to the cores)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.sparkContext.setLogLevel("WARN")

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // key shift: copy i adds i·stride to every instance of the key family;
    // strides are constants comfortably above each table's max key
    val K = 100000000L

    def scaled(name: String, shifts: Map[String, Long], extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = tbl(name)
      val parts = (0 until copies).map { i =>
        val shifted = shifts.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }
        extra(shifted, i)
      }
      parts.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale-proxy] $name ×$copies")
    }

    // dims stay fixed (one copy), like real TPC-H scaling
    for (d <- Seq("region", "nation")) {
      tbl(d).write.mode("overwrite").parquet(s"$out/$d.parquet")
      println(s"[scale-proxy] $d ×1 (dim)")
    }

    scaled("customer", Map("c_custkey" -> K))
    scaled("supplier", Map("s_suppkey" -> K))
    scaled("part", Map("p_partkey" -> K))
    scaled("orders", Map("o_orderkey" -> K, "o_custkey" -> K))
    scaled("lineitem", Map("l_orderkey" -> K, "l_partkey" -> K, "l_suppkey" -> K))
    scaled("events", Map("event_id" -> K, "user_id" -> K))
    scaled("documents", Map("doc_id" -> K), (df, i) =>
      // keep duplicate density: same text per copy would give every doc
      // N-1 exact twins and distort dedup workloads
      df.withColumn("text", concat(col("text"), lit(s" c$i")))
        .withColumn("n_chars", col("n_chars") + lit(3)))
    scaled("embeddings", Map("vec_id" -> K), (df, i) =>
      df.withColumn("embedding",
        transform(col("embedding"),
          (x, j) => when(j === 0, x + lit(i * 1e-3f)).otherwise(x))))

    println(s"[scale-proxy] wrote $out")
    spark.stop()
  }
}

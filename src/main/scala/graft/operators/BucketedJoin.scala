package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.ScratchDirs

/** Shuffle-free co-located join via bucketed tables — the WRITE-TIME answer
  * to the shuffle problem that `join_salted` (runtime skew-break) and
  * `join_bloom` (runtime row-prune) attack at read time.
  *
  * At 100 TB the dominant cost of a fact-fact equi-join is the shuffle of
  * both sides. Bucketing moves that cost to write time, once: both tables
  * are hash-partitioned into the same number of buckets on the join key
  * when they are WRITTEN, so every subsequent join on that key reads
  * co-located buckets and Catalyst plans a SortMergeJoin with NO Exchange
  * on either side (`outputPartitioning` = `HashPartitioning(key, n)`
  * already satisfies the join's distribution requirement). A pipeline that
  * joins the same fact pair daily amortizes one shuffle across every run.
  *
  * Mechanics pinned here (and asserted by BucketedJoinSpec):
  *  - both sides `bucketBy(NBuckets, key)` with the SAME bucket count —
  *    mismatched counts shuffle the smaller side;
  *  - each side is `repartition(NBuckets, key)` BEFORE the write: Spark
  *    writes one file per (task, bucket) pair, and repartition uses the
  *    same Murmur3 hash as the bucket spec, so every task holds exactly
  *    one bucket → one file per bucket, no small-file spray;
  *  - the tables live in a dedicated database with an explicit LOCATION
  *    under [[ScratchDirs.root]] (bucket metadata needs the catalog — a
  *    plain parquet path has nowhere to record the bucket spec);
  *  - the build is one [[ScratchDirs.perSession]] entry per (session,
  *    sfDir): the first caller pays the one-time bucketed write, later
  *    callers (and bench reps) pay only the read.
  *
  * The query result must be INDISTINGUISHABLE from the plain join — like
  * salting, bucketing is pure execution strategy — which is exactly what
  * the `join_bucketed` oracle checks.
  */
object BucketedJoin {

  /** Bucket count for both sides. Sized for the test scales; at 100 TB the
    * operative rule is buckets ≈ total size / target partition size
    * (128-256 MB), fixed once at write time and shared by every consumer.
    */
  val NBuckets = 8

  /** Bucketed (lineitem, orders) table names for `sfDir`, writing them on
    * first use. Only the join-relevant columns are bucketed — at scale the
    * bucketed copy is a curated join index, not a second full copy.
    */
  def tables(s: SparkSession, d: String): (String, String) =
    ScratchDirs.perSession(s, "bucketed_tables", d) {
      val db = s"graft_bkt_${ScratchDirs.tag(d)}"
      val loc = new java.io.File(ScratchDirs.root, db).getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      // defensive: two NON-shared sessions in one JVM have separate
      // catalogs but share the root — drop any stale table AND its dir so
      // the managed-table write never sees a pre-existing location
      for (tbl <- Seq("lineitem_b", "orders_b")) {
        s.sql(s"DROP TABLE IF EXISTS $db.$tbl")
        ScratchDirs.deleteRecursively(new java.io.File(loc, tbl))
      }
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      val ord = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.repartition(NBuckets, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(NBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"$db.lineitem_b")
      ord.repartition(NBuckets, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(NBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"$db.orders_b")
      (s"$db.lineitem_b", s"$db.orders_b")
    }

  /** The co-located join itself, pre-aggregation — exposed so the plan spec
    * can assert the absence of Exchange under the SortMergeJoin. The MERGE
    * hint pins the join strategy: at fixture scale the dim side is under
    * the broadcast threshold and a BroadcastHashJoin would silently bypass
    * the bucket machinery this operator exists to demonstrate.
    */
  def joined(s: SparkSession, d: String): DataFrame = {
    val (liB, ordB) = tables(s, d)
    s.table(liB).hint("merge").join(s.table(ordB),
      col("l_orderkey") === col("o_orderkey"))
  }
}

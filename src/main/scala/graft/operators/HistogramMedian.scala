package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact grouped median (and MAD) from a value-count histogram — the
  * 100 TB form of `median()` over LOW-cardinality groups (round 18).
  *
  * Spark's `median`/`percentile` aggregate buffers EVERY group row in one
  * final task (an OpenHashMap of value → count per group, merged on a
  * single reducer per group): with a handful of groups over a 100 TB
  * stream that task holds n/|groups| values — an OOM cliff, and |groups|
  * tasks of parallelism while the rest of the cluster idles. When the
  * value domain is bounded (integer cents here — the fixed-point trick
  * anomaly_mad already uses for cross-engine exactness), the multiset
  * collapses to a (group, value, count) histogram whose size is
  * O(|groups| · |distinct values|), independent of row count. The median
  * of the multiset is then a cumulative-count walk over the tiny
  * histogram frame: fully parallel, nothing buffers more than the
  * distinct-value frame, and the interpolation
  * `a + (b − a) * 0.5` over the two middle elements is the SAME IEEE op
  * sequence `percentile(x, 0.5)` applies, so results are bit-identical
  * (exact on integer/half-integer operands — both engines agree, which is
  * the anomaly_mad fixed-point contract).
  *
  * Row-identity vs the buffered form is pinned by Round18Spec (which keeps
  * that form as its reference) and the sf0.01 oracle gate.
  */
object HistogramMedian {

  /** Per-group exact median off a (groups, value, cnt) histogram.
    * NULL values must already be absent (percentile ignores them —
    * callers filter). Output: one row per group set, column `out`.
    */
  def medianOfCounts(
      h: DataFrame,
      groups: Seq[String],
      value: String,
      cnt: String,
      out: String): DataFrame = {
    val byG = Window.partitionBy(groups.map(col): _*).orderBy(col(value))
    val all = Window.partitionBy(groups.map(col): _*)
    // cumulative count (inclusive) and group total over the histogram rows
    val cum = h
      .withColumn("__cum", sum(col(cnt)).over(byG))
      .withColumn("__n", sum(col(cnt)).over(all))
    // 0-based ranks of the two middle elements: lo = (n-1) div 2,
    // hi = n div 2 (equal when n is odd). The element at 0-based rank r is
    // the first histogram value whose inclusive cumulative count exceeds r.
    cum
      .groupBy(groups.map(col): _*)
      .agg(
        min(when(col("__cum") >= expr("(__n - 1) div 2") + 1, col(value))).as("__a"),
        min(when(col("__cum") >= expr("__n div 2") + 1, col(value))).as("__b"))
      .select(
        groups.map(col) :+
          (col("__a") + (col("__b") - col("__a")) * lit(0.5)).as(out): _*)
  }

  /** (group, med, mad) for an integer-valued column: median via the
    * histogram, then MAD off the SAME histogram (deviations |v − med|
    * re-aggregate the counts — the second full pass over the data the
    * buffered form paid disappears entirely). One scan of `e`, one
    * histogram-sized shuffle, everything downstream tiny.
    */
  def mad(e: DataFrame, group: String, value: String): DataFrame = {
    val h = e
      .filter(col(value).isNotNull) // percentile ignores nulls; so do we
      .groupBy(col(group), col(value))
      .agg(count(lit(1)).as("__cnt"))
      // both the median walk and the deviation histogram read this frame;
      // the barrier keeps the scan + histogram aggregate to ONE run
      .localCheckpoint(eager = false)
    val med = medianOfCounts(h, Seq(group), value, "__cnt", "med")
    val dev = h
      .join(broadcast(med), group)
      .select(col(group), col("med"),
        abs(col(value) - col("med")).as("__dev"), col("__cnt"))
      .groupBy(col(group), col("med"), col("__dev"))
      .agg(sum(col("__cnt")).as("__dcnt"))
    medianOfCounts(dev, Seq(group, "med"), "__dev", "__dcnt", "mad")
  }
}

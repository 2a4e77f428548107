package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.AsOfJoinNative

/** Skew-mitigated as-of join: time-bucket salting composed over the native
  * [[graft.plans.AsOfJoinExec]] (its scaladoc's declared skew caveat —
  * AQE's OptimizeSkewedJoin only rewrites SortMergeJoin/ShuffledHashJoin
  * nodes, never custom execs, so a hot key must be split manually).
  *
  * The salt is the time bucket `ts DIV bucketWidth`: pass 1 as-of joins on
  * the COMPOSITE key (key, bucket), so one hot key's rows spread across as
  * many partitions as it spans buckets, and each bucket pair merges
  * independently. A left row whose backward match lives in an EARLIER
  * bucket finds it in pass 2: rights are pre-aggregated to one
  * running-latest row per (key, bucket) — a shuffle of bucket-cardinality,
  * not row-cardinality — and the leftover lefts as-of join on the bucket
  * index itself. Bucket arithmetic guarantees pass-2 strictness for free
  * (an earlier bucket's rows are all strictly earlier), so the union of the
  * two passes is row-identical to the unsalted join.
  *
  * Semantics matched to AsOfJoinExec: backward inner, strict `<` (not ≤),
  * greatest `tiebreak` among equal timestamps. Times must be non-negative
  * integral (µs here) — `DIV` truncates toward zero.
  *
  * Pass-1 leftover detection has two modes:
  *   - default (`leftIdCol = None`): a null-safe anti-join keyed on EVERY
  *     left column. No uniqueness assumption, but two limitations follow
  *     from the join keys being the whole row: (a) a left frame containing
  *     a map-typed column throws (`EqualNullSafe` join keys don't support
  *     `MapType`); (b) wide left columns (full document text) travel
  *     through the shuffle as join keys, against the slim-shuffle
  *     discipline used elsewhere in this repo.
  *   - `leftIdCol = Some(id)`: the probe keys on `id` alone — slim shuffle,
  *     any column types elsewhere. Only valid when the caller guarantees
  *     `id` is UNIQUE and NON-NULL per left row; a duplicated id would drop
  *     every copy of a row when any one copy matched in pass 1.
  */
object AsOfSkew {

  def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftTime: String,
      rightTime: String,
      tiebreak: String,
      bucketWidth: Long,
      leftIdCol: Option[String] = None): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val leftCols = left.columns.toSeq
    val rightCols = right.columns.toSeq
    // the salt columns are internal; withColumn would silently OVERWRITE a
    // pre-existing column of the same name and corrupt the caller's data
    require(!leftCols.contains("__lb") && !rightCols.contains("__rb"),
      "AsOfSkew: __lb/__rb are reserved salt column names")
    val outCols = (leftCols ++ rightCols).map(col)

    val lb = left.withColumn("__lb", expr(s"$leftTime DIV $bucketWidth"))
    val rb = right.withColumn("__rb", expr(s"$rightTime DIV $bucketWidth"))

    // pass 1: merge within each (key, bucket) pair — the salted shuffle
    val m1 = AsOfJoinNative.join(
      lb, rb,
      keys = keys :+ ("__lb" -> "__rb"),
      leftTime = leftTime, rightTime = rightTime,
      tiebreak = Seq(tiebreak))

    // pass-1 leftovers. Default: NULL-SAFE anti-join on ALL left columns —
    // no uniqueness assumption on any id column (identical duplicate left
    // rows behave identically in pass 1, so all copies stay or all go), and
    // <=> keeps rows with NULL attributes removable (plain = would
    // resurrect a matched row whose non-key column is NULL). EqualNullSafe
    // is still an equi-join key, so this plans as a hash/SMJ anti-join, not
    // a loop. With `leftIdCol`, the probe keys on the caller-guaranteed
    // unique id only (slim shuffle; see object scaladoc for the contract).
    // rename the probe side up front: m1 derives from lb, so referring to
    // both sides' columns by name would lean on Spark's self-join
    // disambiguation (and its "trivially true predicate" warning)
    val probeCols = leftIdCol match {
      case Some(id) =>
        require(leftCols.contains(id), s"AsOfSkew: leftIdCol '$id' not in left columns")
        Seq(id)
      case None => leftCols
    }
    val m1Left = m1.select(probeCols.map(c => col(c).as(s"__m1_$c")): _*)
    val unmatched = lb
      .join(m1Left, probeCols.map(c => col(c) <=> col(s"__m1_$c")).reduce(_ && _), "left_anti")

    // pass 2: one running-latest right ROW per (key, bucket) — (ts, tiebreak)
    // lead the struct so max() picks exactly the row the unsalted join would
    val rKeyCols = keys.map(_._2)
    val rowStruct = struct(
      (Seq(col(rightTime), col(tiebreak)) ++
        rightCols.filterNot(c => c == rightTime || c == tiebreak).map(col)): _*)
    val perBucket = rb
      .groupBy((rKeyCols :+ "__rb").map(col): _*)
      .agg(max(rowStruct).as("__last"))
    val cumW = Window
      .partitionBy(rKeyCols.map(col): _*)
      .orderBy(col("__rb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perBucket
      .withColumn("__cum", max(col("__last")).over(cumW))
      .drop("__last")

    // leftover lefts as-of join on the BUCKET INDEX: latest earlier bucket's
    // cumulative row is the global backward match (strict by construction)
    val m2 = AsOfJoinNative.join(
      unmatched, cum,
      keys = keys,
      leftTime = "__lb", rightTime = "__rb",
      tiebreak = Nil)
    val m2Unpacked = m2.select(
      (leftCols.map(col) ++
        Seq(col(s"__cum.$rightTime").as(rightTime), col(s"__cum.$tiebreak").as(tiebreak)) ++
        rightCols.filterNot(c => c == rightTime || c == tiebreak)
          .map(c => col(s"__cum.$c").as(c))): _*)

    m1.select(outCols: _*).unionByName(m2Unpacked.select(outCols: _*))
  }
}

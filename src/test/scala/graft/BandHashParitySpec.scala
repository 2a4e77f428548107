package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen

/** Bit-parity gate for the round-19 [[graft.plans.BandHashes]] kernel
  * against the slice/cast/concat_ws/xxhash64 composition it replaces in
  * MinHashLsh's banding stage: same Long.toString digits, same concat_ws
  * null-skipping (no doubled separator), same seed-42 xxhash64 over the
  * joined bytes, NULL signature → xxhash64("") per band, positions past a
  * short signature's end absent as `slice` leaves them. Every case runs
  * compiled and interpreted.
  */
class BandHashParitySpec extends SparkSpec {

  private val bands = 9
  private val r = 3

  private def kernel(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.BandHashes(
        org.apache.spark.sql.GraftSqlShim.expression(c), bands, r))

  private def assertParity(sigs: Seq[Seq[java.lang.Long]]): Unit = {
    import spark.implicits._
    val df = spark.createDataset(
      sigs.zipWithIndex.map { case (s, i) => (i.toLong, s.map(Option(_).map(_.longValue))) })
      .toDF("id", "sig")
      .select(col("id"), col("sig").cast("array<bigint>").as("sig"))
    forEachCodegenMode { mode =>
      val rows = df
        .select(col("id"),
          kernel(col("sig")).as("k"),
          ReferenceForms.bandHashesExpr(col("sig"), bands, r).as("b"))
        .collect()
      rows.foreach { row =>
        assert(row.getSeq[Long](1) == row.getSeq[Long](2),
          s"$mode: kernel=${row.getSeq[Long](1)} expr=${row.getSeq[Long](2)} " +
            s"sig=${sigs(row.getLong(0).toInt)}")
      }
    }
  }

  test("literal signatures: dense, zero, max, negative values") {
    val L = (x: Long) => java.lang.Long.valueOf(x)
    assertParity(Seq(
      (1L to 27L).map(L),
      Seq.fill(27)(L(0L)),
      (0 until 27).map(i => L(1000000006L - i)),
      (0 until 27).map(i => L(if (i % 2 == 0) -i.toLong else i.toLong)),
      (0 until 27).map(i => L(Long.MaxValue - i))))
  }

  test("null elements skip without doubling the separator") {
    val L = (x: Long) => java.lang.Long.valueOf(x)
    assertParity(Seq(
      (0 until 27).map(i => if (i % 3 == 0) null else L(i.toLong)),
      Seq.fill(27)(null: java.lang.Long),
      (0 until 27).map(i => if (i < 3) null else L(i.toLong))))
  }

  test("short signatures hash their missing positions as absent, like slice") {
    val L = (x: Long) => java.lang.Long.valueOf(x)
    assertParity(Seq(
      Seq.empty,
      Seq(L(5L)),
      (1L to 8L).map(L), // ends inside band 3
      (1L to 26L).map(L), // one short of the last band
      (0 until 10).map(i => if (i % 4 == 0) null else L(i.toLong)),
      Seq(null, null, L(7L), null)))
  }

  test("a NULL signature hashes every band as the empty string") {
    import spark.implicits._
    val df = Seq[Option[Seq[Long]]](None, Some(Seq(1L, 2L, 3L))).toDF("sig")
    forEachCodegenMode { mode =>
      val rows = df
        .select(kernel(col("sig")).as("k"),
          ReferenceForms.bandHashesExpr(col("sig"), bands, r).as("b"))
        .collect()
      rows.foreach(row => assert(row.getSeq[Long](0) == row.getSeq[Long](1), mode))
      assert(rows(0).getSeq[Long](0).distinct.size == 1, mode)
    }
  }

  test("generated signatures") {
    val gen = Gen.listOfN(27,
      Gen.frequency(
        (9, Gen.chooseNum(0L, 1000000006L).map(java.lang.Long.valueOf)),
        (1, Gen.const(null: java.lang.Long))))
    val samples = Gen.listOfN(200, gen).sample.getOrElse(Nil)
    assert(samples.nonEmpty)
    assertParity(samples)
  }

  test("corpus signatures at sf0.001: banded frames identical") {
    import org.apache.spark.sql.functions._
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        graft.operators.MinHashLsh.shingles(
          Tables.spaceSplit(Tables.normText(col("text"))), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", graft.operators.MinHashLsh.signature(col("sh"), 27))
    val diff = docs
      .select(col("doc_id"),
        kernel(col("sig")).as("k"),
        ReferenceForms.bandHashesExpr(col("sig"), bands, r).as("b"))
      .filter(not(col("k") <=> col("b")))
      .count()
    assert(diff == 0L)
  }
}

package graft

import org.apache.spark.sql.{GraftSqlShim, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, XxHash64Function}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.plans._

/** The NULL rule of every native kernel, interpreted and compiled: one row
  * per kernel (two for `space_token_count`, one per `sizeOfNull` rule), each
  * run on a NULL input and on an empty one (`""` or an empty array) under
  * both codegen modes. Both modes must give the same value, the value must
  * be the kernel's declared one, and a kernel whose `nullable` is false must
  * not return NULL.
  */
class KernelNullSpec extends SparkSpec {

  private sealed trait Out
  private case class Value(v: Any) extends Out
  private case class Fails(message: String) extends Out

  /** `kernel` over one input column of `sqlType`; the expected outputs for
    * a NULL and an empty input.
    */
  private case class Case(
      name: String,
      sqlType: String,
      kernel: Expression => Expression,
      onNull: Out,
      onEmpty: Out)

  private def xxhash(seed: Long): Long =
    XxHash64Function.hash(UTF8String.EMPTY_UTF8, StringType, seed)

  private val vocab = Seq("a" -> 1.0, "b" -> 2.0)
  private val strs = "array<string>"
  private val dbls = "array<double>"

  private val cases = Seq(
    Case("minhash_sig", strs, MinHashSig(_, Seq(3L, 5L), Seq(7L, 11L), 13L),
      Value(Seq(null, null)), Value(Seq(null, null))),
    Case("ngrams", strs, NGrams(_, 2, distinct = true), Value(Seq()), Value(Seq())),
    Case("token_entropy", strs, TokenEntropy(_), Value(null), Value(null)),
    Case("norm_text", "string", NormText(_), Value(null), Value("")),
    Case("space_split", "string", SpaceSplit(_), Value(null), Value(Seq(""))),
    Case("band_hashes", "array<bigint>", BandHashes(_, 2, 2),
      Value(Seq(xxhash(42L), xxhash(42L))), Value(Seq(xxhash(42L), xxhash(42L)))),
    Case("space_token_count", "string", SpaceTokenCount(_, legacySizeOfNull = false),
      Value(null), Value(1)),
    Case("space_token_count (legacy sizeOfNull)", "string",
      SpaceTokenCount(_, legacySizeOfNull = true), Value(-1), Value(1)),
    Case("punct_count", "string", PunctCount(_), Value(null), Value(0L)),
    Case("set_hash_sum", strs, SetHashSum(_, 7L), Value(0L), Value(0L)),
    Case("char_ngrams", "string", CharNGrams(_, 3), Value(Seq()), Value(Seq())),
    Case("count_in_set", strs, CountInSet(_, Seq("a")), Value(null), Value(0L)),
    Case("sum_map_vals", strs, SumMapVals(_, vocab), Value(null), Value(0.0)),
    Case("word_segments", strs, WordSegments(_, 2), Value(null), Value(Seq("", ""))),
    Case("keep_in_set", strs, KeepInSet(_, Seq("a")), Value(null), Value(Seq())),
    Case("token_hash_sums", "string", TokenHashSums(_, 3L, 5L),
      Value(Row(0L, 0L)), Value(Row(xxhash(3L), xxhash(5L)))),
    Case("match_tokens", "string", MatchTokens(_, Seq("a")), Value(null), Value(Row(1, Seq()))),
    Case("shingle_set_hash", "string", ShingleSetHash(_, 1, 3L, 5L),
      Value(null), Value(Row(xxhash(3L), xxhash(5L)))),
    Case("dot_product", dbls, e => DotProduct(e, e), Value(null), Value(0.0)),
    Case("l2_norm", dbls, L2Norm(_), Value(null), Value(0.0)),
    Case("lsh_buckets", dbls, LshBuckets(_, Seq(Seq(1.0, -1.0)), 1),
      Value(null), Fails("lsh_buckets: expected 2-dim vector, got 0")),
    Case("adc_score", "array<int>", AdcScore(_, Literal(7L), Seq(7L -> Seq(1.0, 2.0)), 2),
      Value(null), Fails("adc_score: 0 codes vs 1-subspace LUT")),
    Case("sq_dist_long", "array<bigint>", e => SqDistLong(e, e), Value(null), Value(0L)),
    Case("pq_assign_encode", dbls,
      PqAssignEncode(_, Seq(Seq(1.0)), Seq(), 0, Seq(Seq(Seq(1.0)))),
      Fails("pq_assign_encode: null vector"),
      Fails("pq_assign_encode: expected 1-dim vector, got 0")),
    Case("ppdb_split", "string", PpdbSplitLine(_), Value(null), Value(Seq(""))),
    Case("ppdb_score_token", "string", PpdbScoreToken(_), Value(null), Value(null)))

  test("the table covers every native kernel") {
    assert(cases.map(_.name.takeWhile(_ != ' ')).distinct.size === 25)
  }

  /** The kernel over a one-row range whose input column is NULL or empty:
    * the `if` keeps the input nullable and out of constant folding.
    */
  private def run(c: Case, isNull: Boolean): (Out, Boolean) = {
    val empty = if (c.sqlType == "string") "''" else s"cast(array() as ${c.sqlType})"
    val nul = s"cast(null as ${c.sqlType})"
    val input = if (isNull) s"if(id = 0, $nul, $empty)" else s"if(id = 0, $empty, $nul)"
    val df = spark.range(1).select(
      GraftSqlShim.column(c.kernel(GraftSqlShim.expression(expr(input)))))
    val nullable = df.schema.head.nullable
    val out =
      try Value(df.collect().head.get(0))
      catch {
        case e: Exception =>
          Fails(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(t => String.valueOf(t.getMessage)).mkString("\n"))
      }
    (out, nullable)
  }

  private def check(c: Case, what: String, expected: Out, got: Out, nullable: Boolean): Unit =
    (expected, got) match {
      case (Value(e), Value(g)) =>
        assert(g == e, s"${c.name}($what) = $g, expected $e")
        assert(g != null || nullable, s"${c.name} is not nullable but returned NULL on $what")
      case (Fails(e), Fails(g)) =>
        assert(g.contains(e), s"${c.name}($what) failed with\n$g\nexpected '$e'")
      case _ => fail(s"${c.name}($what) = $got, expected $expected")
    }

  // each mode is checked against the declared value, so the two agree
  for (c <- cases) test(s"${c.name}: NULL and empty input, both codegen modes") {
    Seq(true -> c.onNull, false -> c.onEmpty).foreach { case (isNull, expected) =>
      forEachCodegenMode { mode =>
        val (got, nullable) = run(c, isNull)
        check(c, s"${if (isNull) "NULL" else "empty"}, $mode", expected, got, nullable)
      }
    }
  }

  test("pq_assign_encode and the PQ encoder refuse a short vector, both codegen modes") {
    // 2 subspaces of 2 dims: a 4-d point; a 3-d one must not be encoded by
    // its prefix
    val centers = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    val books = Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val short = expr("if(id = 0, array(1.0d, 2.0d, 3.0d), cast(null as array<double>))")
    def failure(df: org.apache.spark.sql.DataFrame): String = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
    }
    forEachCodegenMode { mode =>
      val kernel = spark.range(1).select(GraftSqlShim.column(
        PqAssignEncode(GraftSqlShim.expression(short), centers, Seq(), 0, books)))
      val encoder = spark.range(1).select(graft.operators.AnnPq.encoder(
        books.map(_.map(_.toArray).toArray).toArray)(short))
      for ((what, df) <- Seq("kernel" -> kernel, "encoder" -> encoder)) {
        val msg = failure(df)
        assert(msg.contains("pq_assign_encode: expected 4-dim vector, got 3"), s"$what, $mode:\n$msg")
      }
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver testdata (TESTDATA.md): one parquet file per table
  * under `$sfDir/`. All queries go through here so scan behavior (vectorized
  * parquet reader, pushdown, pruning) is uniform.
  */
object Tables {
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Schema-adaptive events reader. `events.parquet` has shipped with two
    * on-disk types for `ts` across testdata generations:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark 4.1.2 rejects it with
    *    PARQUET_TYPE_ILLEGAL unless `spark.sql.legacy.parquet.nanosAsLong`
    *    is set, which surfaces it as a raw BIGINT of nanoseconds. `ts_us`
    *    is then `ts div 1000` (integer floor-div) — exactly the µs value
    *    DuckDB sees when it truncates ns→µs on read.
    *  - `timestamp[us]` (TIMESTAMP_NTZ in Spark): `ts_us` is the µs count
    *    since the NTZ epoch via `timestampdiff(MICROSECOND, …)` — a
    *    timezone-INDEPENDENT derivation (an NTZ→LTZ cast would shift by the
    *    session zone, silently diverging from DuckDB's `epoch_us(ts)` for a
    *    library user running non-UTC).
    *
    * Every event-time comparison/ordering/output in the engine uses `ts_us`
    * (BIGINT µs), never the raw column, so oracle parity holds at µs
    * precision regardless of which schema the file carries. The nanosAsLong
    * conf is set unconditionally (runtime-settable, harmless on µs files)
    * because the driver's Verify/Bench sessions do not set it.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(spark, sfDir, "events")
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      case _ => unix_micros(col("ts"))
    }
    df.withColumn("ts_us", tsUs)
  }

  /** Normalized document text: lower → trim → collapse internal whitespace.
    * Twin of the DuckDB oracle `regexp_replace(trim(lower(text)), '\s+', ' ', 'g')`.
    *
    * Round 13: runs as the one-byte-pass [[graft.plans.NormText]] kernel —
    * bit-identical to the builtin `regexp_replace(trim(lower(c)), "\\s+", " ")`
    * (NormTextSpec pins it on adversarial Unicode + ScalaCheck strings), so
    * DuckDB parity carries over unchanged, and the three transient strings
    * per row the builtin
    * composition built (lowercase copy, trimmed slice, regex buffer) are
    * gone from every text query's hottest stage.
    */
  def normText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.NormText(org.apache.spark.sql.GraftSqlShim.expression(c)))

  /** `split(c, " ")` as the native zero-copy byte kernel — bit-parity with
    * the builtin (SpaceSplitSpec pins it). The tokenize half of every
    * text-key `split(normText(text), " ")` chain (round 18): the builtin
    * decodes to UTF-16 and re-encodes every token; the kernel emits
    * zero-copy slices.
    */
  def spaceSplit(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.SpaceSplit(org.apache.spark.sql.GraftSqlShim.expression(c)))

  /** `size(split(c, " "))` without materializing the token array — the
    * round-19 kernel for every site that splits only to COUNT (the split
    * always yields #spaces + 1 elements, for any input). INT and NULL rule
    * like `size()`; SpaceTokenCountSpec pins the identity.
    */
  def spaceTokenCount(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlShim.column(
      new graft.plans.SpaceTokenCount(org.apache.spark.sql.GraftSqlShim.expression(c)))

  /** Oracle-side twin of [[normText]]. */
  def normTextSql(c: String): String =
    s"regexp_replace(trim(lower($c)), '\\s+', ' ', 'g')"

  /** Punctuation count (non-\p{L}\p{N}\s code points) as the native
    * codegen kernel — bit-identical to
    * `length(regexp_replace(c, "[\\p{L}\\p{N}\\s]", ""))` (the oracle keeps
    * that composition; PunctParitySpec pins the two).
    */
  def punctCount(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.PunctCount(org.apache.spark.sql.GraftSqlShim.expression(c)))

  /** Parity-safe rounding for PER-ROW doubles: floor(x·10ⁿ + 0.5)/10ⁿ.
    *
    * Spark's `round` rounds the shortest decimal representation
    * (BigDecimal.valueOf → HALF_UP) while DuckDB rounds the binary value, so
    * a product that prints as 38969.325 rounds to .33 on one engine and .32
    * on the other. This formula is the same IEEE op sequence on both
    * engines, hence bit-identical when the operands are bit-identical (true
    * for all per-row expressions). Aggregate outputs keep builtin `round` —
    * their operands already differ by summation order across engines, so no
    * rounding scheme removes that (tolerance comes from the round digits).
    */
  def rd(c: org.apache.spark.sql.Column, digits: Int): org.apache.spark.sql.Column = {
    val m = math.pow(10, digits)
    floor(c * m + 0.5) / m
  }

  /** Oracle-side twin of [[rd]]. The multiplier is emitted in SCIENTIFIC
    * notation (`1e4`) because that parses as DOUBLE in both DuckDB and
    * Spark SQL, while `10000.0` parses as DECIMAL in Spark — running the
    * same oracle string through spark.sql then yields DECIMAL-typed output
    * that breaks verbatim dual-surface parity (SqlSurfaceSpec). Same IEEE
    * value either way.
    */
  def rdSql(x: String, digits: Int): String =
    s"floor(($x) * 1e$digits + 0.5) / 1e$digits"

  /** Exact money-sum aggregate: accumulate in DECIMAL(30,8), round to cents,
    * return DOUBLE (round 15). A double sum over price-magnitude columns is
    * summation-ORDER-sensitive: at the 60M-row rung, ~1e12 sums carry
    * ~1e-3 of reorder noise (ulp 2.4e-4 × tree-merge depth), so the value
    * `round(sum(double), 2)` lands on flips with shuffle order — four keys
    * failed the sf10 sweep by exactly one trailing cent before this. Decimal
    * accumulation is order-independent and bit-identical across engines:
    * both see the same exact decimal sum, positive-value HALF_UP rounding
    * agrees, and the rounded cents fit a double exactly (< 2^53). The
    * double→decimal(·,8) input cast agrees across engines for these inputs,
    * with one caveat (advisor, r15): Spark rounds the double's SHORTEST
    * DECIMAL STRING to 8 dp (Decimal.set → BigDecimal.valueOf →
    * Double.toString) while DuckDB rounds the binary value arithmetically,
    * so a double whose shortest representation is an exact 9-dp tie (e.g.
    * one printing as 0.123456785) could legally round differently.
    * MoneySumSpec exhibits the divergence class on constructed ties and
    * verifies Spark's cast equals exact-binary HALF_UP rounding (DuckDB's
    * semantics) on testdata-sampled price products — so the contract here
    * is "agrees for price-magnitude operands", not bit-identical for every
    * double. Headroom: DECIMAL(30,8) sums into Spark's
    * DECIMAL(38,8) ⇒ ~1e29 — about 1e12 rows of 1e5-magnitude prices
    * beyond the 100 TB point. Oracle twin: [[moneySumSql]].
    */
  def moneySum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(sum(c.cast(org.apache.spark.sql.types.DecimalType(30, 8))), 2)
      .cast("double")

  /** Oracle-side twin of [[moneySum]] (same decimal-accumulate semantics in
    * DuckDB's dialect).
    */
  def moneySumSql(x: String): String =
    s"CAST(round(sum(CAST(($x) AS DECIMAL(30,8))), 2) AS DOUBLE)"

  /** Exact money-sum for CENT-GRAINED columns: recover the integer cents
    * per row (`round(x*100)` → BIGINT), sum as long, divide once (round 16).
    *
    * Same order-independence and engine-parity guarantees as [[moneySum]]
    * but stays in codegen'd long arithmetic instead of Decimal's object
    * path — the decimal form cost 1.5–1.8× on the four heavy join keys at
    * sf10 (bench_sf10real_r13 vs r15). Parity argument: every stored cent
    * value's double is within ~1e-9·x of the exact cents, so `x*100` is
    * within 1e-4 of an integer and both engines' `round` (Spark HALF_UP on
    * shortest-string, DuckDB on the binary value) land on the SAME integer
    * — no ties anywhere near .5. The long sum is exact; `/100.0` is one
    * IEEE division on a sum < 2^53 (sf10 global sum 2.3e14 cents; 2^53 ≈
    * 9.0e15), identical on both engines.
    *
    * PRECONDITION (spec-pinned in MoneySumSpec): input is cent-grained
    * (true of l_extendedprice / o_totalprice at every rung — checked
    * 0 non-cent rows of 60M at sf10). NOT for product expressions like
    * `price*(1-disc)`: rounding each term to cents before the sum is a
    * different aggregate than rounding the sum — those sites keep
    * [[moneySum]]'s DECIMAL(30,8) accumulation.
    *
    * Overflow margin: long holds 9.2e18 cents = 9.2e16 dollars; at 1e12
    * rows (100 TB-class lineitem) × avg 3.8e4 dollars the global sum is
    * ~3.8e16 — a 2.4× margin, and per-group sums are far smaller. Beyond
    * that, fall back to [[moneySum]].
    */
  def moneySumCents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(round(c * 100).cast("long")) / 100.0

  /** Oracle-side twin of [[moneySumCents]]. DuckDB sums BIGINT into
    * HUGEINT; the final division promotes to DOUBLE with the identical
    * IEEE op (sum < 2^53 exact in both). The divisor is `1e2`, not
    * `100.0`, because `100.0` parses as DECIMAL in Spark SQL and would
    * break verbatim dual-surface parity (same trap as [[rdSql]]).
    */
  def moneySumCentsSql(x: String): String =
    s"sum(CAST(round(($x) * 100) AS BIGINT)) / 1e2"
}

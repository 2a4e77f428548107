package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{normText, normTextSql, t}

/** Round-7 training-data preparation operators (SURVEY.md §2.16b): sequence
  * packing, deterministic corpus splitting, URL-canonicalization dedup, and
  * embedding int8 quantization.
  *
  * Scale notes (100 TB):
  * - `doc_pack_sequences` packs per LANGUAGE, and the per-language running
  *   token sum is the distributed two-pass prefix scan
  *   (operators.PrefixScan over doc_id-range blocks) — with a handful of
  *   languages a per-lang window would serialize each language onto one
  *   task; blockwise local sums + a broadcast-merged per-block offset frame
  *   keep every stage partition-parallel. The bin id is a prefix-sum
  *   bucket, the deterministic distributed packing (true greedy bin packing
  *   is inherently sequential; the prefix form wastes at most one doc's
  *   tokens per boundary). Below PrefixScan.CrossoverRows the key runs the
  *   single per-language window instead (cheaper than the two-pass
  *   constant at that size); both forms are row-identical.
  * - `sample_split` is the md5-coin split: stable under reruns, insertions
  *   and repartitioning, no global state — the only split discipline that
  *   survives distributed regeneration.
  * - `dedup_url_norm` shuffles only (canonical-url, id) pairs — URL dedup
  *   is the cheapest, highest-yield dedup pass in real web-corpus
  *   pipelines and runs before any content hashing.
  * - `embedding_quantize` learns per-dimension ranges via the (dim, value)
  *   pivot (64-row aggregate, broadcast back) — no driver-side stats, no
  *   per-executor dense accumulators.
  */
object TrainPrep {

  type Q = (SparkSession, String) => DataFrame

  /** Context-window capacity (tokens) for sequence packing. */
  private val PackCapacity = 512

  /** Minimum doc_id-range block width for the packing prefix scan
    * (PrefixScan contract: monotone in the doc_id order, unique ids →
    * trivially order-aligned). 256 keeps several blocks live even at
    * sf0.001 so the cross-block merge path is always exercised; the
    * EFFECTIVE width grows with the input via `PrefixScan.idBlockWidth`
    * (round 9 — a fixed constant would grow the broadcast offset frame as
    * rows/256 at 100 TB; derived sizing caps it at ~16k rows at any scale).
    */
  private val PackBlock = 256L

  /** Per-(lang, doc_id) token counts — the shared packing input. */
  private[graft] def packTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        graft.Tables.spaceTokenCount(normText(col("text"))).cast("long").as("n_tok"))

  private[graft] def packReport(withCum: DataFrame): DataFrame =
    withCum
      .withColumn("bin", expr(s"cum0 div $PackCapacity"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("lang", "bin")

  /** Exclusive running token sum per language: the two-pass PrefixScan
    * when `blocked`, the single per-language window otherwise. */
  private[graft] def packCum(toks: DataFrame, blocked: Boolean): DataFrame =
    if (blocked)
      graft.operators.PrefixScan.exclusive(
        toks,
        partitionCols = Seq("lang"),
        block = expr(s"doc_id div ${graft.operators.PrefixScan.idBlockWidth(toks, PackBlock)}"),
        order = Seq(col("doc_id")),
        value = col("n_tok"),
        agg = c => sum(c),
        merge = (l, o) => coalesce(l, lit(0L)) + coalesce(o, lit(0L)),
        out = "cum0")
    else
      graft.operators.PrefixScan.single(
        toks,
        partitionCols = Seq("lang"),
        order = Seq(col("doc_id")),
        value = col("n_tok"),
        agg = c => sum(c),
        merge = (l, o) => coalesce(l, lit(0L)) + coalesce(o, lit(0L)),
        out = "cum0")

  val queries: Map[String, Q] = Map(
    // Sequence packing: docs in doc_id order per language, bin = exclusive
    // prefix token sum DIV capacity. The running sum picks its form from
    // the input's estimated size (round 9 auto-crossover): below
    // PrefixScan.CrossoverRows the per-language window wins; above it the
    // distributed two-pass prefix scan (local sums per (lang, doc_id-block),
    // broadcast-merged per-block offsets, block width derived from input
    // size). Both forms are row-identical (Round8Spec pins it).
    "doc_pack_sequences" -> ((s, d) => {
      val toks = packTokens(s, d)
      packReport(packCum(toks,
        blocked = graft.operators.PrefixScan.estimatedRows(toks) >=
          graft.operators.PrefixScan.CrossoverRows))
    }),

    // Deterministic per-group reservoir (§2.17): exactly k docs per
    // language, chosen by md5-rank — the distributed, reproducible
    // "reservoir sample" (hash order is stable under reruns, insertions
    // elsewhere, and repartitioning, unlike RNG-based TABLESAMPLE).
    // Languages are a LOW-cardinality key, so a single per-lang window
    // would sort each language's whole corpus on one task — the standard
    // two-phase top-k applies: local top-10 within (lang, doc_id%64)
    // sub-partitions first (row-identical by construction: the global
    // top-10 is a subset of the union of sub-partition top-10s), then the
    // final window ranks ≤ 640 survivors per language.
    "sample_reservoir" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("lang"), col("doc_id"))
        .withColumn("hk", md5(concat(lit("rsv|"), col("doc_id").cast("string"))))
      val wLocal = Window.partitionBy(col("lang"), pmod(col("doc_id"), lit(64)))
        .orderBy(col("hk"), col("doc_id"))
      val wGlobal = Window.partitionBy("lang").orderBy(col("hk"), col("doc_id"))
      base
        .withColumn("lr", row_number().over(wLocal))
        .filter(col("lr") <= 10)
        .withColumn("rn", row_number().over(wGlobal))
        .filter(col("rn") <= 10)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    }),

    // Deterministic 75/12.5/12.5 corpus split on the md5 coin (same
    // portable-coin family as sample_hash): first hex nibble 0-b → train,
    // c-d → val, e-f → test.
    "sample_split" -> ((s, d) => {
      t(s, d, "documents")
        .withColumn("h",
          substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 1))
        .withColumn("split",
          when(col("h").between("0", "b"), "train")
            .when(col("h").isin("c", "d"), "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    }),

    // URL-canonicalization dedup: three messy variants of each group's URL
    // (upper-cased host + utm param / trailing slash / fragment) collapse
    // to one canonical form — lowercased host, trailing-slash-stripped
    // path, tracked params dropped, fragment gone. Spark side uses the real
    // URL parser (`parse_url`); the oracle re-derives via regex.
    "dedup_url_norm" -> ((s, d) => {
      val grp = expr("doc_id div 3")
      val url = when(col("doc_id") % 3 === 0,
        concat(lit("https://CDN.Example.com/docs/"), grp, lit("?utm_source=feed&q="), grp % 5))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://cdn.example.com/docs/"), grp, lit("/?q="), grp % 5))
        .otherwise(
          concat(lit("https://cdn.example.com/docs/"), grp, lit("?q="), grp % 5, lit("#sec")))
      t(s, d, "documents")
        .withColumn("url", url)
        .withColumn("canon", concat(
          lower(parse_url(col("url"), lit("HOST"))),
          rtrim(parse_url(col("url"), lit("PATH")), "/"),
          lit("?q="), parse_url(col("url"), lit("QUERY"), lit("q"))))
        .groupBy(col("canon"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dupes"))
        .select(col("canon"), col("keeper"), col("dupes"))
        .orderBy("keeper")
    }),

    // Embedding int8 quantization: per-dimension min/max learned from the
    // (dim, value) pivot, q = floor((v-min)/scale + 0.5) — integer-exact
    // cross-engine because scale derives from order-independent min/max.
    // The reconstruction error ships FIXED-POINT (round 9): each element's
    // |err| is a deterministic double (identical op sequence in both
    // engines), floored to integer micro-units BEFORE the sum, so the
    // aggregate is an order-independent integer sum — full 6-digit
    // discrimination with zero summation-order exposure, instead of the
    // round-8 2dp rounding that traded precision for boundary safety.
    "embedding_quantize" -> ((s, d) => {
      val x = t(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
        .select(col("vec_id"), col("pos"), col("col").as("v"))
      val mm = x.groupBy("pos").agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      x.join(broadcast(mm), "pos")
        .withColumn("sc", (col("mx") - col("mn")) / 255.0)
        .withColumn("qi",
          when(col("mx") > col("mn"),
            floor((col("v") - col("mn")) / col("sc") + 0.5)).otherwise(0L))
        .groupBy(col("vec_id"))
        .agg(
          sum(floor(abs(col("v") - (col("mn") + col("qi") * col("sc"))) * 1000000))
            .as("mae_e6"),
          max(col("qi")).as("max_q"))
        .orderBy("vec_id")
    }))

  private val norm = normTextSql("text")

  val oracle: Map[String, String] = Map(
    "doc_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id, lang, len(string_split($norm, ' ')) AS n_tok
         |           FROM documents),
         |c AS (SELECT doc_id, lang, n_tok,
         |             coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
         |      FROM d)
         |SELECT lang, CAST(cum0 // $PackCapacity AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "sample_reservoir" ->
      // subquery + STRING cast: verbatim-portable to Spark SQL (r11)
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(concat('rsv|', CAST(doc_id AS STRING))), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10
        |ORDER BY lang, doc_id""".stripMargin,
    "sample_split" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |                  substr(md5(concat('split|', CAST(doc_id AS STRING))), 1, 1) AS h
        |           FROM documents)
        |SELECT CASE WHEN h BETWEEN '0' AND 'b' THEN 'train'
        |            WHEN h IN ('c', 'd') THEN 'val' ELSE 'test' END AS split,
        |       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d GROUP BY 1 ORDER BY split""".stripMargin,
    "dedup_url_norm" ->
      """WITH u AS (SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN concat('https://CDN.Example.com/docs/', CAST(floor(doc_id / 3) AS BIGINT),
        |                       '?utm_source=feed&q=', CAST(CAST(floor(doc_id / 3) AS BIGINT) % 5 AS STRING))
        |    WHEN 1 THEN concat('https://cdn.example.com/docs/', CAST(floor(doc_id / 3) AS BIGINT),
        |                       '/?q=', CAST(CAST(floor(doc_id / 3) AS BIGINT) % 5 AS STRING))
        |    ELSE concat('https://cdn.example.com/docs/', CAST(floor(doc_id / 3) AS BIGINT),
        |                '?q=', CAST(CAST(floor(doc_id / 3) AS BIGINT) % 5 AS STRING), '#sec') END AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  concat(lower(regexp_extract(url, 'https://([^/]+)/', 1)),
        |         TRIM(TRAILING '/' FROM regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1)),
        |         '?q=', regexp_extract(url, '[?&]q=([^&#]*)', 1)) AS canon
        |  FROM u)
        |SELECT canon, min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS dupes
        |FROM c GROUP BY canon ORDER BY keeper""".stripMargin,
    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        |x AS (SELECT vec_id, i, vec[i] AS v
        |      FROM e, LATERAL (SELECT unnest(range(1, len(vec) + 1)) AS i)),
        |mm AS (SELECT i, min(v) AS mn, max(v) AS mx FROM x GROUP BY i),
        |q AS (SELECT vec_id, v, mn, (mx - mn) / 255.0 AS sc,
        |             CASE WHEN mx > mn
        |                  THEN floor((v - mn) / ((mx - mn) / 255.0) + 0.5)
        |                  ELSE 0 END AS qi
        |      FROM x JOIN mm ON x.i = mm.i)
        |SELECT vec_id,
        |       CAST(sum(floor(abs(v - (mn + qi * sc)) * 1000000)) AS BIGINT) AS mae_e6,
        |       CAST(max(qi) AS BIGINT) AS max_q
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin)
}

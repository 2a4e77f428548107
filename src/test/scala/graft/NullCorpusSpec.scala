package graft

/** Null-input robustness sweep (round 11, the EmptyCorpusSpec companion):
  * every declared query runs against a corpus whose non-key value columns
  * carry scattered NULLs and must produce a result rather than crash. At
  * 100 TB nulls are not an edge case — failed scrapes null out `text`,
  * absent metadata nulls `lang`/`source`, partial records null numeric
  * measures — and Spark 4's default ANSI mode turns several
  * null-adjacent slips (casts of malformed fallbacks, element_at misses)
  * into hard runtime errors this sweep would surface. Result VALUES under
  * nulls are each operator's own contract (most aggregates skip nulls;
  * the oracle gate pins semantics on the real data); what this sweep pins
  * is that no operator dies.
  */
class NullCorpusSpec extends SparkSpec {

  /** The ANN index family REFUSES null vectors by contract (AnnLsh /
    * AnnIvf scaladoc: a null cannot be hashed or quantized, and silently
    * dropping it from the index or probe set is invisible recall loss at
    * scale — fail-loud beats fail-silent). For these keys the sweep pins
    * the CLEAR refusal message instead of success.
    */
  private val refusesNullVectors =
    Set("sim_ann_lsh", "sim_ann_ivf", "sim_ann_pq", "sim_ann_ivfpq",
      "sim_ann_index_serve", "dedup_embedding_ann", "dedup_embedding")

  private def causeChain(e: Throwable): String = {
    val sb = new StringBuilder
    var t: Throwable = e
    var depth = 0
    while (t != null && depth < 20) {
      sb.append(t.toString).append('\n')
      t.getSuppressed.foreach(s => sb.append(s.toString).append('\n'))
      t = t.getCause
      depth += 1
    }
    sb.toString
  }

  test("every IVF/PQ entry point refuses a NULL corpus and a NULL query vector with its operator's message") {
    import graft.operators.{AnnIndex, AnnIvf, AnnIvfPq, AnnPq}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, when}
    // 64 deterministic 8-d vectors (dim divisible by every m below and by
    // the adaptive index's m = 8)
    val clean = spark.range(0, 64).selectExpr("id as vec_id",
      "array(sin(id), cos(id), sin(2 * id), cos(2 * id), sin(3 * id), cos(3 * id)," +
        " sin(5 * id), cos(5 * id)) as vec")
    def withNull(df: DataFrame, c: String): DataFrame =
      df.withColumn(c, when(col(df.columns.head) === 3L, lit(null)).otherwise(col(c)))
    def queriesOf(emb: DataFrame): DataFrame =
      emb.filter(col("vec_id") < 6).select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val built = SparkSpec.tempDir("graft-ann-null")
    AnnIndex.buildAdaptive(clean, built)
    // (operator in the message, entry point over (corpus, queries))
    val entryPoints: Seq[(String, String, (DataFrame, DataFrame) => Unit)] = Seq(
      ("AnnIvf.topK", "AnnIvf",
        (e, q) => AnnIvf.topK(e, q, k = 2, nLists = 4, nProbe = 2).collect()),
      ("AnnIvf.topK2Level", "AnnIvf",
        (e, q) => AnnIvf.topK2Level(e, q, k = 2, l1 = 2, k2 = 2).collect()),
      ("AnnPq.topK", "AnnPq",
        (e, q) => AnnPq.topK(e, q, k = 2, m = 2, kSub = 4, rerank = 8).collect()),
      ("AnnIvfPq.topK", "AnnIvfPq",
        (e, q) => AnnIvfPq.topK(e, q, k = 2, nLists = 4, nProbe = 2, m = 2, kSub = 4,
          rerank = 8).collect()),
      ("AnnIvfPq.topK2Level", "AnnIvfPq",
        (e, q) => AnnIvfPq.topK2Level(e, q, k = 2, l1 = 2, k2 = 2, m = 2, kSub = 4,
          rerank = 8).collect()),
      // the build reads no queries: the query side of the index is serve's
      ("AnnIndex.buildAdaptive", "AnnIndex",
        (e, _) => AnnIndex.buildAdaptive(e,
          SparkSpec.tempDir("graft-ann-null"))),
      ("AnnIndex.serve", "AnnIndex",
        (e, q) => AnnIndex.serve(spark, built, e, q, 2).collect()))
    for ((entry, op, run) <- entryPoints; side <- Seq("corpus", "query")
         if !(entry == "AnnIndex.buildAdaptive" && side == "query")) {
      val (e, q) =
        if (side == "corpus") (withNull(clean, "vec"), queriesOf(clean))
        else (clean, withNull(queriesOf(clean), "qvec"))
      val msg = s"$op: null $side vector (ANN input contract: filter null embeddings upstream)"
      val thrown = intercept[Throwable](run(e, q))
      assert(causeChain(thrown).contains(msg), s"$entry, NULL $side vector:\n${causeChain(thrown).take(600)}")
    }
    // the same inputs without the NULL run through
    entryPoints.foreach { case (_, _, run) => run(clean, queriesOf(clean)) }
  }

  test("every declared query survives a null-riddled corpus (ANN keys refuse loudly)") {
    val d = TestTables.dirNulls(spark)
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        fn(spark, d).count()
        if (refusesNullVectors(name))
          failures += ((name, "expected a loud null-vector refusal, query succeeded"))
      } catch { case e: Throwable =>
        val chain = causeChain(e)
        if (!(refusesNullVectors(name) && chain.contains("null") && chain.contains("vector")))
          failures += ((name, e.toString.linesIterator.next().take(160)))
      }
    }
    assert(failures.isEmpty,
      failures.map { case (n, m) => s"\n  $n: $m" }.mkString(
        s"${failures.size} queries violate the null-corpus contract:", "", ""))
  }
}

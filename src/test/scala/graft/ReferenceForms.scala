package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables.{events, normText, rd, spaceSplit, t}

/** Reference forms the specs compare shipped operators against: earlier or
  * differently-built formulations of the same answer. None of them runs on
  * a declared key; each is row-identical (or bit-identical) to the shipped
  * form by construction, so a spec that finds a difference has found a
  * defect in one of the two.
  */
object ReferenceForms {

  /** graph_triangles with DEGREE-ordered orientation (Schank–Wagner): edges
    * point from the (degree, id)-smaller endpoint, so wedge fan-out is
    * bounded by oriented out-degree; the closing probe canonicalizes back
    * to the id-oriented edge list. One row: n_triangles.
    */
  def graphTrianglesDegree(s: SparkSession, d: String): DataFrame = {
    val e = graft.queries.Graphs.copurchaseEdges(s, d).localCheckpoint()
    val sym = e.union(e.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val deg = sym.groupBy(col("a_id").as("node")).agg(count(lit(1)).as("dg"))
    val withDeg = e
      .join(deg.select(col("node").as("a_id"), col("dg").as("da")), "a_id")
      .join(deg.select(col("node").as("b_id"), col("dg").as("db")), "b_id")
    def key(dg: String, id: String) = struct(col(dg).as("d"), col(id).as("i"))
    val o = withDeg.select(
      when(key("da", "a_id") < key("db", "b_id"),
        struct(col("a_id").as("s"), col("b_id").as("t"), key("db", "b_id").as("tk")))
        .otherwise(
          struct(col("b_id").as("s"), col("a_id").as("t"), key("da", "a_id").as("tk"))).as("x"))
      .select(col("x.s").as("s"), col("x.t").as("t"), col("x.tk").as("tk"))
      .localCheckpoint()
    val o2 = o.select(col("s").as("s2"), col("t").as("t2"), col("tk").as("tk2"))
    val wedges = o.join(o2, col("s") === col("s2") && col("tk") < col("tk2"))
    val closing = e.select(
      least(col("a_id"), col("b_id")).as("ca"),
      greatest(col("a_id"), col("b_id")).as("cb"))
    wedges
      .join(closing,
        least(col("t"), col("t2")) === col("ca") &&
          greatest(col("t"), col("t2")) === col("cb"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** doc_pack_sequences with its running sum pinned to one form: the
    * two-pass PrefixScan when `blocked`, the per-language window otherwise.
    */
  def docPackSequences(s: SparkSession, d: String, blocked: Boolean): DataFrame = {
    import graft.queries.TrainPrep.{packCum, packReport, packTokens}
    packReport(packCum(packTokens(s, d), blocked))
  }

  /** anomaly_mad with buffered `median()` aggregates and a med→MAD re-scan,
    * the form operators.HistogramMedian replaced.
    */
  def anomalyMadBufferedMedian(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(col("event_id"), col("event_type"), col("value"),
        floor(col("value") * 100 + 0.5).as("c"))
    val med = e.groupBy("event_type").agg(median(col("c")).as("med"))
    val stats = e.join(broadcast(med), "event_type")
      .groupBy(col("event_type"), col("med"))
      .agg(median(abs(col("c") - col("med"))).as("mad"))
    e.join(broadcast(stats), "event_type")
      .withColumn("mz",
        when(col("mad") > 0, lit(0.6745) * (col("c") - col("med")) / col("mad")))
      .filter(abs(col("mz")) > 3.5)
      .select(col("event_id"), col("event_type"), col("value"), rd(col("mz"), 4).as("mz"))
      .orderBy("event_id")
  }

  /** rank_bm25 over a (doc_id, dl, tokens) frame whose token array holds at
    * least every query-term occurrence; the tf pass keeps only query terms.
    */
  private def bm25(docs: DataFrame): DataFrame = {
    val terms = graft.queries.Selection.Bm25Terms
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("tokens")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("s",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") /
            (col("tot_dl").cast("double") / col("n_docs").cast("double")))))
    val termCols = terms.map(tm => coalesce(max(when(col("token") === tm, col("s"))), lit(0.0)))
    scored
      .groupBy(col("doc_id"))
      .agg(termCols.reduce(_ + _).as("score0"), count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("n_terms"), rd(col("score0"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** rank_bm25 that tokenizes the corpus once per branch (stats and tf). */
  def rankBm25Recompute(s: SparkSession, d: String): DataFrame =
    bm25(t(s, d, "documents")
      .select(col("doc_id"), spaceSplit(normText(col("text"))).as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"), col("w").as("tokens")))

  /** rank_bm25 through a slim checkpoint of (doc_id, dl, matching tokens),
    * tokenized with the builtin split and filtered with a lambda.
    */
  def rankBm25SlimCheckpoint(s: SparkSession, d: String): DataFrame = {
    val terms = graft.queries.Selection.Bm25Terms
    bm25(t(s, d, "documents")
      .select(col("doc_id"), split(normText(col("text")), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        filter(col("w"), tk => tk.isin(terms: _*)).as("tokens"))
      .localCheckpoint())
  }

  /** text_unigram_lm's literal-map regime as the interpreted
    * `aggregate`/`element_at` fold that plans.SumMapVals replaced.
    */
  def textUnigramLmLitmapFold(s: SparkSession, d: String): DataFrame = {
    val toksC = split(normText(col("text")), " ")
    val counts = t(s, d, "documents")
      .select(col("doc_id"), explode(toksC).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val vocabMax = graft.queries.Pipeline3.VocabLitMax
    val head = counts.limit(vocabMax + 1).collect()
    require(head.length <= vocabMax, "the literal-map fold needs vocab <= VocabLitMax")
    val total = head.map(_.getLong(1)).sum
    val logp = head.map(r => r.getString(0) -> math.log(r.getLong(1).toDouble / total)).toMap
    t(s, d, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), toksC.as("w"))
      .withColumn("m", typedlit(logp))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_toks"),
        round(expr("aggregate(w, 0.0D, (acc, tk) -> acc + element_at(m, tk))")
          / size(col("w")), 4).as("lm_score"))
      .orderBy("doc_id")
  }

  private def setHashSum(arr: Column, seed: Long): Column =
    GraftSqlShim.column(graft.plans.SetHashSum(GraftSqlShim.expression(arr), seed))

  /** pipeline_corpus_clean written out with the composed Jaccard-1.0
    * fingerprint — split → distinct 3-shingles → two seeded set_hash_sums —
    * in place of the fused plans.ShingleSetHash kernel, and shingle-less
    * docs routed by the empty shingle array instead of the token count.
    * Output (doc_id, n_tok) like the declared key.
    */
  def corpusCleanComposedFingerprint(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val quality = docs
      .withColumn("norm", normText(col("text")))
      .withColumn("n_tok", size(split(col("norm"), " ")))
      .filter(col("n_tok") >= 5 &&
        Tables.punctCount(col("text")).cast("double") /
          greatest(length(col("text")), lit(1)).cast("double") <= 0.3)
    val keeperIds = quality.groupBy(md5(col("norm"))).agg(min(col("doc_id")).as("doc_id"))
    val keepers = quality.join(keeperIds.select("doc_id"), Seq("doc_id"), "left_semi")
    val sh = keepers.select(col("doc_id"),
      graft.operators.MinHashLsh.shingles(split(col("norm"), " "), shingleSize = 3).as("sh"))
    val keepIds = sh.filter(size(col("sh")) > 0)
      .groupBy(setHashSum(col("sh"), 42L), setHashSum(col("sh"), 7L))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val shingleless = sh.filter(size(col("sh")) === 0).select(col("doc_id"))
    keepers.join(keepIds.union(shingleless), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"))
      .orderBy("doc_id")
  }

  /** dedup_embedding_ann from a broadcast all-pairs cosine over the whole
    * table, keeping the pairs that collide in at least one LSH table — the
    * bucketed operator's output wherever its bucket-size cap does not bind.
    */
  def dedupEmbeddingAnnBruteForce(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val npl = graft.operators.AnnDedup.adaptivePlanes(emb.count())
    val all = graft.operators.CosinePairs.allPairs(s, emb, threshold = 0.45, maxBuildRows = 1000000)
    val bks = emb.select(col("id"),
      graft.operators.AnnLsh.tableBuckets(col("vec"), npl, 64,
        graft.queries.Extras.AnnDedupTables).as("bks"))
    all
      .join(bks.select(col("id").as("a_id"), col("bks").as("ba")), "a_id")
      .join(bks.select(col("id").as("b_id"), col("bks").as("bb")), "b_id")
      .filter(arrays_overlap(col("ba"), col("bb")))
      .select(col("a_id"), col("b_id"), rd(col("cos"), 4).as("cos_sim"))
      .orderBy("a_id", "b_id")
  }

  /** AnnDedup.pairs with each side's L2 norm computed per candidate pair,
    * inside the cosine, as the operator did before it computed each
    * vector's norm once below the bucket explode.
    */
  def annDedupPairsPerPairNorm(
      emb: DataFrame, threshold: Double, dim: Int, nTables: Int,
      maxBucketSize: Long): DataFrame = {
    import graft.functions.Vec.{dotNative, l2Native}
    val npl = graft.operators.AnnDedup.adaptivePlanes(emb.count())
    val bucketed = emb
      .repartition(emb.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"), col("vec"),
        explode(graft.operators.AnnLsh.tableBuckets(col("vec"), npl, dim, nTables)).as("bucket"))
    val ok = bucketed.groupBy("bucket").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucketSize)
      .select("bucket")
    val pruned = bucketed.join(ok, Seq("bucket"), "left_semi")
    val a = pruned.select(col("bucket"), col("id").as("a_id"), col("vec").as("va"))
    val b = pruned.select(col("bucket"), col("id").as("b_id"), col("vec").as("vb"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", dotNative("va", "vb") / (l2Native("va") * l2Native("vb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
      .dropDuplicates("a_id", "b_id")
  }

  /** The builtin composition the native plans.NormText kernel
    * (`Tables.normText`) replaced.
    */
  def normTextBuiltin(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** The pure-expression shingle form the native plans.NGrams kernel
    * (`MinHashLsh.shingles`) replaced: `shingleSize` shifted slices folded
    * with zip_with, then array_distinct, with a when-guard for docs shorter
    * than the shingle size.
    */
  def minhashShinglesExpr(tokens: Column, shingleSize: Int): Column = {
    val n = size(tokens)
    val len = n - (shingleSize - 1)
    val shifted = (1 to shingleSize).map(j => slice(tokens, lit(j), len))
    val joined = shifted.reduceLeft((acc, s) =>
      zip_with(acc, s, (x, y) => concat(x, lit(" "), y)))
    array_distinct(
      when(n >= shingleSize, joined).otherwise(typedLit(Array.empty[String])))
  }

  /** The pure-expression signature the native plans.MinHashSig kernel
    * (`MinHashLsh.signature`) replaced, with the same hash parameters. The
    * shingle hashes are materialized once via a named lambda variable
    * because array elements do not CSE (measured ~2× on the sf0.1
    * dedup_minhash bench).
    */
  def minhashSignatureExpr(shingleCol: Column, numHashes: Int): Column = {
    import graft.operators.MinHashLsh.{hashParams, P}
    val (a, b) = hashParams(numHashes)
    val perHash = (base: Column) => (0 until numHashes).map { i =>
      array_min(transform(base, h => pmod(h * lit(a(i)) + lit(b(i)), lit(P))))
    }
    // transform(array(<base>), b -> array(mins…)) names the base array as a
    // lambda variable so it is computed exactly once per row
    element_at(
      transform(
        array(transform(shingleCol, s => pmod(xxhash64(s), lit(P)))),
        base => array(perHash(base): _*)),
      1)
  }

  /** The pure-expression band-hash chain the native plans.BandHashes
    * kernel replaced (slice → cast → concat_ws → xxhash64 per band).
    */
  def bandHashesExpr(sig: Column, bands: Int, r: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      j => xxhash64(concat_ws(",",
        transform(slice(sig, j * r + lit(1), lit(r)), x => x.cast("string")))))

  /** The lambda-fold dot product the native plans.DotProduct kernel
    * (`Vec.dotNative`, SQL `dot_product`) replaced: the same left-associated
    * IEEE sum, one interpreted closure call per element. A ragged pair or a
    * null element gives NULL where the kernel throws.
    */
  def vecDotLambda(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")

  /** The lambda-fold L2 norm the native plans.L2Norm kernel replaced. */
  def vecL2Lambda(a: String): Column =
    expr(s"sqrt(aggregate(transform($a, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))")

  /** The unrolled dot product: a fixed `dim`-term codegen'd sum
    * (`a[1]*b[1] + … + a[dim]*b[dim]`, left-associated). It needs vectors
    * of length ≥ `dim` (`element_at` throws under ANSI out of bounds).
    */
  def vecDotUnrolled(a: String, b: String, dim: Int): Column =
    (1 to dim)
      .map(i => expr(s"element_at($a, $i) * element_at($b, $i)"))
      .reduce(_ + _)

  /** Co-purchase edges that fan out the FULL basket first and only then keep
    * pairs inside the MaxBasket smallest part keys (pks is sorted and a < b,
    * so that is b ≤ pks[MaxBasket]).
    */
  def copurchaseEdgesPostFilter(s: SparkSession, d: String): DataFrame = {
    import graft.queries.Graphs.{MaxBasket, MinSupport}
    t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("pks"))
      .select(col("pks"), explode(flatten(transform(col("pks"), (x, i) =>
        transform(slice(col("pks"), i + lit(2), size(col("pks"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .filter(size(col("pks")) <= MaxBasket || col("p.b") <= element_at(col("pks"), MaxBasket))
      .groupBy(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= MinSupport)
      .select(col("a_id"), col("b_id"))
  }

  /** The closure-UDF ADC scorer the native plans.AdcScore kernel replaced,
    * over the same flattened LUTs.
    */
  def adcScorerUdf(queries: DataFrame, books: Array[Array[Array[Double]]]) = {
    val kSub = books(0).length
    val luts: Map[Long, Array[Double]] = graft.operators.AnnPq.lutSeq(queries, books)
      .map { case (qid, flat) => qid -> flat.toArray }.toMap
    udf((codes: Seq[Int], qid: Long) => {
      val flat = luts(qid)
      var sc = 0.0; var mi = 0
      while (mi < codes.length) { sc += flat(mi * kSub + codes(mi)); mi += 1 }
      sc
    })
  }

  /** Farthest-point sampling that re-derives every vector's min distance
    * against the WHOLE selected set each round (k-row fan-out + groupBy),
    * with the interpreted `aggregate`/`zip_with` squared distance.
    */
  def coresetFpsRecompute(s: SparkSession, d: String): DataFrame = {
    import graft.queries.Corpus.{CoreK, kmEmb}
    val sqDist = expr("aggregate(zip_with(e, se, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
    val emb = kmEmb(s, d)
    var sel = emb.sort(col("vec_id")).limit(1)
      .select(col("vec_id"), lit(1L).as("sel_order"), lit(0L).as("d2"), col("e"))
      .localCheckpoint(eager = false)
    var i = 2
    while (i <= CoreK) {
      val pick = emb
        .crossJoin(broadcast(sel.select(col("e").as("se"))))
        .select(col("vec_id"), sqDist.as("pd2"))
        .groupBy(col("vec_id"))
        .agg(min(col("pd2")).as("md2"))
        .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .agg(min(struct((lit(0L) - col("md2")).as("neg"), col("vec_id"))).as("m"))
        .select(col("m.vec_id").as("vec_id"), lit(i.toLong).as("sel_order"),
          (lit(0L) - col("m.neg")).as("d2"))
      sel = sel.unionByName(pick.join(emb, "vec_id")
          .select(col("vec_id"), col("sel_order"), col("d2"), col("e")))
        .localCheckpoint(eager = false)
      i += 1
    }
    sel.select(col("sel_order"), col("vec_id"), col("d2")).orderBy("sel_order")
  }

  /** `PpdbSplitLine.split` testing every byte: the delimiter is matched at
    * each position left to right, a match consuming its five bytes.
    */
  def ppdbSplitBytewise(line: UTF8String): ArrayData = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val n = line.numBytes()
    var parts = new Array[Any](8)
    var k = 0
    var start = 0
    var i = 0
    while (i <= n - 5) {
      if (line.getByte(i) == ' ' && line.getByte(i + 1) == '|' &&
          line.getByte(i + 2) == '|' && line.getByte(i + 3) == '|' &&
          line.getByte(i + 4) == ' ') {
        if (k == parts.length) {
          val grown = new Array[Any](k * 2)
          System.arraycopy(parts, 0, grown, 0, k)
          parts = grown
        }
        parts(k) = UTF8String.fromAddress(base, off + start, i - start)
        k += 1
        i += 5
        start = i
      } else i += 1
    }
    val out = new Array[Any](k + 1)
    System.arraycopy(parts, 0, out, 0, k)
    out(k) = UTF8String.fromAddress(base, off + start, n - start)
    new GenericArrayData(out)
  }

  private val ScoreKey = "PPDB2.0Score=".getBytes("UTF-8")

  /** `PpdbScoreToken.token` testing every position from the end: the value
    * of the last boundary-aligned score key, up to the next space.
    */
  def ppdbScoreTokenBytewise(feat: UTF8String): UTF8String = {
    def keyAt(i: Int): Boolean = {
      var j = 0
      while (j < ScoreKey.length && feat.getByte(i + j) == ScoreKey(j)) j += 1
      j == ScoreKey.length
    }
    val n = feat.numBytes()
    var i = n - ScoreKey.length
    while (i >= 0) {
      if ((i == 0 || feat.getByte(i - 1) == ' ') && keyAt(i)) {
        val s = i + ScoreKey.length
        var e = s
        while (e < n && feat.getByte(e) != ' ') e += 1
        return UTF8String.fromAddress(feat.getBaseObject, feat.getBaseOffset + s, e - s)
      }
      i -= 1
    }
    null
  }
}

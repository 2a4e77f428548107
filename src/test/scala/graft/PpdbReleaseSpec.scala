package graft

import graft.sources.PpdbRelease

/** Ingestion path: gzip release → partitioned zstd parquet → pruned lookup. */
class PpdbReleaseSpec extends SparkSpec {

  test("ingest round-trips the release and lookup ranks correctly") {
    val out = SparkSpec.tempDir("ppdb-ingest") + "/release"
    PpdbRelease.ingest(spark, graft.ppdb.Ppdb.FixturePath, out, numPartitions = 2)

    val ingested = PpdbRelease.readIngested(spark, out)
    assert(ingested.count() === 12)
    assert(ingested.columns.contains("ppdb2score"))

    val rows = PpdbRelease.lookup(spark, out, "happy").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("glad", "content", "cheerful"))
  }

  // ---- release-size ladder (round 11): ppdb_release_stats ----

  test("release ladder parses via one glob with per-file pack lineage") {
    val df = graft.ppdb.Ppdb.parseWithPack(spark)
    val packs = df.select("pack").distinct().collect().map(_.getString(0)).toSet
    assert(packs === Set("s", "m", "l", "xl"))
    // all four pack files flow through the ONE glob scan (Spark bin-packs
    // the tiny fixture files into shared partitions; at release size each
    // unsplittable .gz would get its own task — Round5Spec pins that)
    assert(df.count() === 3 + 6 + 9 + 12)
  }

  test("ppdb_release_stats pins the ladder nesting invariants") {
    val rows = SparkEntry.queries("ppdb_release_stats")(spark, "ignored")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    // ladder order by n_rules: s(3) ⊂ m(6) ⊂ l(9) ⊂ xl(12)
    assert(rows.map(t => (t._1, t._2)).toSeq ===
      Seq(("s", 3L), ("m", 6L), ("l", 9L), ("xl", 12L)))
    // packs are score-pruned prefixes: min_score non-increasing down the
    // ladder, max_score constant (every pack contains the top rule)
    val minScores = rows.map(_._3)
    assert(minScores.zip(minScores.tail).forall { case (a, b) => a >= b },
      s"min_score must be non-increasing down the ladder: ${minScores.toSeq}")
    assert(rows.map(_._4).distinct.length === 1, "all packs share the top rule")
  }
}

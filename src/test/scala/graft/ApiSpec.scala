package graft

import graft.ppdb.Ppdb

/** Library API surface: session factory config and feature widening. */
class ApiSpec extends SparkSpec {

  test("GraftSession.configure pins the engine configuration") {
    val b = GraftSession.configure(
      org.apache.spark.sql.SparkSession.builder().master("local[1]"), parallelism = 3)
    // a static conf cannot be read back from a session that reuses the shared
    // context (the builder's static options are dropped there), so read the
    // builder's own options
    val options = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(options.get("spark.sql.codegen.cache.maxEntries") ===
      Some(GraftSession.CodegenCacheEntries.toString))
    assert(options.get("spark.sql.codegen.useIdInClassName") === Some("false"))
    // reuse the shared session's context: getOrCreate returns a session whose
    // *session-level* confs reflect the builder options
    val s = b.getOrCreate()
    try {
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") === "3")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    } finally {
      // restore the shared test session's partitions
      s.conf.set("spark.sql.shuffle.partitions", "2")
      s.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }

  test("withFeatureColumns widens map keys into typed double columns") {
    val df = Ppdb.withFeatureColumns(Ppdb.parse(spark), Seq("PPDB2.0Score", "p(e|f)"))
    assert(df.columns.contains("PPDB2_0Score"))
    assert(df.columns.contains("p_e_f_"))
    val r = df.filter(org.apache.spark.sql.functions.col("phrase") === "glad").head()
    assert(r.getAs[Double]("PPDB2_0Score") === 4.77)
    assert(r.getAs[Double]("p_e_f_") === 1.43)
    assert(df.schema("PPDB2_0Score").dataType.typeName === "double")
  }
}

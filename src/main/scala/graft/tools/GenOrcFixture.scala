package graft.tools

/** One-shot generator for the committed ORC fixture (`fixtures/docs_orc/`)
  * and its row-identical parquet twin (`fixtures/docs_orc_twin.parquet`).
  *
  * DuckDB cannot read ORC, so `scan_orc`'s oracle reads the parquet TWIN;
  * the twin is written from the exact same in-memory frame in the same
  * single-partition order, and FormatSpec additionally asserts (in Spark)
  * that the ORC directory and the twin are row-identical — together that
  * pins the ORC read path against the cross-engine hash gate.
  *
  * Deterministic by construction: arithmetic row content, no clock, no RNG,
  * one output partition.
  */
object GenOrcFixture {

  val OrcPath = "/root/repo/fixtures/docs_orc"
  val TwinPath = "/root/repo/fixtures/docs_orc_twin.parquet"

  private val Langs = Array("en", "de", "fr", "es", "it")

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(2)
    import spark.implicits._

    val rows = (0L until 100L).map { id =>
      val lang = Langs((id % Langs.length).toInt)
      val nChars = 40 + (id * 37 % 400)
      val score = (id * 7 % 100) / 100.0
      val title = s"doc $id $lang"
      (id, lang, nChars, score, title)
    }
    val df = rows.toDF("id", "lang", "n_chars", "score", "title").coalesce(1)
    df.write.mode("overwrite").orc(OrcPath)
    df.write.mode("overwrite").parquet(TwinPath)
    println(s"[gen-orc] wrote ${rows.length} rows -> $OrcPath + $TwinPath")
    spark.stop()
  }
}

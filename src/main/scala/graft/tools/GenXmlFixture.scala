package graft.tools

/** One-shot generator for the committed XML fixture (`fixtures/docs_xml/`)
  * and its row-identical parquet twin (`fixtures/docs_xml_twin.parquet`).
  *
  * Spark 4 ships the XML data source in spark-sql itself (SPARK-44265), so
  * `scan_xml` exercises a third built-in file format beyond parquet/ORC —
  * the shape a feed-ingest pipeline meets when an upstream system exports
  * `<doc>…</doc>` records. DuckDB cannot read XML, so the oracle reads the
  * parquet TWIN written from the exact same in-memory frame (the scan_orc
  * triangle: XML ≡ twin pinned in Spark by FormatSpec, twin ≡ oracle by the
  * driver hash gate).
  *
  * Deterministic by construction: arithmetic row content, no clock, no RNG,
  * one output partition. Content deliberately exercises XML-specific paths:
  * `title` carries `&`/`<` characters that must round-trip through entity
  * escaping.
  */
object GenXmlFixture {

  val XmlPath = "/root/repo/fixtures/docs_xml"
  val TwinPath = "/root/repo/fixtures/docs_xml_twin.parquet"

  private val Langs = Array("en", "de", "fr", "es", "it")

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(2)
    import spark.implicits._

    val rows = (0L until 100L).map { id =>
      val lang = Langs((id % Langs.length).toInt)
      val nChars = 60 + (id * 31 % 500)
      val score = (id * 13 % 100) / 100.0
      // & and < force entity escaping through the writer→reader round trip
      val title = s"feed $id <$lang> & more"
      (id, lang, nChars, score, title)
    }
    val df = rows.toDF("id", "lang", "n_chars", "score", "title").coalesce(1)
    df.write.mode("overwrite").option("rowTag", "doc").format("xml").save(XmlPath)
    df.write.mode("overwrite").parquet(TwinPath)
    println(s"[gen-xml] wrote ${rows.length} rows -> $XmlPath + $TwinPath")
    spark.stop()
  }
}

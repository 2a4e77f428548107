package graft.tools

/** Scratch probe for the verbatim-SQL dual surface (VERDICT r10 item 7):
  * runs EVERY oracle string through spark.sql over temp views of the sf-dir
  * tables and classifies each key PASS (row-identical to the DataFrame
  * form) / DIFF / ERROR(head of message), so widening the portable list
  * works from measurement. Not part of any gate.
  *
  *   SPARK_GRAFT_SF_DIR: the sf dir to read
  *   SPARK_GRAFT_ONLY: optional comma-separated key subset
  *   SPARK_GRAFT_CPUS: local cores (default: all available)
  */
object ProbeSqlPortable {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val keys = graft.SparkEntry.selectKeys(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(graft.GraftSession.local())(n => graft.GraftSession.local(n.toInt))
    spark.sparkContext.setLogLevel("ERROR")
    Seq("lineitem", "orders", "customer", "supplier", "nation", "region",
      "part", "documents", "embeddings", "events")
      .foreach(n => graft.Tables.t(spark, sfDir, n).createOrReplaceTempView(n))
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, sql) =>
      if (keys(k)) {
        val res = try {
          val sqlRows = spark.sql(sql).collect().toSeq
          val dfq = graft.SparkEntry.queries(k)(spark, sfDir)
          val dfRows = dfq.collect().toSeq
          val sqlCols = spark.sql(sql).columns.toSeq
          if (sqlCols != dfq.columns.toSeq) s"DIFF cols: $sqlCols vs ${dfq.columns.toSeq}"
          else if (sqlRows == dfRows) "PASS"
          else {
            val firstDiff = sqlRows.zip(dfRows).zipWithIndex
              .collectFirst { case ((a, b), i) if a != b => s"row $i: SQL=$a DF=$b" }
              .getOrElse(s"lengths ${sqlRows.length} vs ${dfRows.length}")
            s"DIFF rows (${sqlRows.length} vs ${dfRows.length}) | ${firstDiff.take(300)}"
          }
        } catch {
          case e: Throwable =>
            "ERROR " + Option(e.getMessage).getOrElse(e.toString)
              .replaceAll("\\s+", " ").take(140)
        }
        println(s"[probe] $k\t$res")
      }
    }
    spark.stop()
  }
}

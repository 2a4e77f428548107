package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump the formatted physical plan of every declared query to one file
  * per key (`<outDir>/<key>_<suffix>.txt`). The session comes from
  * [[graft.GraftSession.local]], the factory the benchmark harness uses,
  * so the dumped plans are the plans the benchmark runs. A plan diff for
  * a change is two dumps, one per checkout, compared after stripping the
  * `#<n>` expression ids. Verification infrastructure — NOT part of the
  * engine.
  *
  * Usage: runMain graft.tools.DumpPlans <sfDir> <outDir> [suffix] [keys]
  *   keys: optional comma-separated subset (default: all declared queries);
  *         one key gives a single-query plan probe
  *   SPARK_GRAFT_CPUS: local cores (default: all available)
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    val only = graft.SparkEntry.selectKeys(args.lift(3))
    val spark = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(graft.GraftSession.local())(n => graft.GraftSession.local(n.toInt))
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    var nOk = 0
    var nErr = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val df  = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(mode)
          Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          nOk += 1
        } catch { case e: Throwable =>
          nErr += 1
          System.err.println(s"[dump-plans] $name FAILED: ${graft.Verify.describe(e)}")
        }
      }
    println(s"[dump-plans] wrote $nOk plans to $outDir (suffix=$suffix, failed=$nErr)")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise), built by the
  * engine's factory so every spec runs under the shipped configuration,
  * graft extension included, from its first query.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` once with every expression compiled (`CODEGEN_ONLY`,
    * whole-stage codegen on) and once interpreted (`NO_CODEGEN`,
    * whole-stage codegen off), passing the mode name. Local relations are
    * not folded at planning time (`ConvertToLocalRelation` is excluded), so
    * `Seq(...).toDF` inputs reach the mode under test too.
    */
  def forEachCodegenMode(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach(mode => inCodegenMode(mode)(body(mode)))

  /** Runs `body` in one of the two modes of [[forEachCodegenMode]]. */
  def inCodegenMode(mode: String)(body: => Unit): Unit =
    withConf(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString,
      "spark.sql.optimizer.excludedRules" -> SparkSpec.ConvertToLocalRelation)(body)

  /** Runs `body` with the given session confs set, then restores them. */
  def withConf[T](settings: (String, String)*)(body: => T): T = {
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  val ConvertToLocalRelation = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  /** A new directory `<prefix><n>` under [[graft.util.ScratchDirs.root]],
    * removed with the root at JVM exit: every spec's temp directory comes
    * from here, so a test run leaves nothing in `java.io.tmpdir`.
    */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.util.ScratchDirs.root), prefix).toString

  lazy val session: SparkSession = {
    val s = GraftSession.local(2)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

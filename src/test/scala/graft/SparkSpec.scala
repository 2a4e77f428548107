package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise).
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
  def inCodegenMode(mode: String)(body: => Unit): Unit = {
    val settings = Seq(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString,
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
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
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      // static: sizes the JVM-wide generated-code cache on the first codegen
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

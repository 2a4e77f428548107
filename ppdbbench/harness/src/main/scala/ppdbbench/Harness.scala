package ppdbbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Run settings, written by run.py as one JSON file. */
final case class Config(
    workload: String,
    runId: String,
    data: String,
    work: String,
    out: String,
    seconds: Double,
    trace: Boolean,
    setups: Int,
    minPasses: Int,
    cores: Int,
    inputRows: Long,
    docs: Long,
    dim: Int,
    scoreCut: Double,
    keys: Seq[String],
    params: Map[String, Double],
    lookups: Seq[(String, String)])

object Config {
  def load(path: String): Config = {
    val j = new ObjectMapper().readTree(new File(path))
    def strs(n: JsonNode) = n.elements().asScala.map(_.asText()).toSeq
    val data = j.get("data").asText()
    val lk = new File(s"$data/lookups.json")
    val lookups =
      if (!lk.exists()) Nil
      else new ObjectMapper().readTree(lk).elements().asScala
        .map(e => (e.get("kind").asText(), e.get("phrase").asText())).toSeq
    Config(
      workload = j.get("workload").asText(),
      runId = j.get("run_id").asText(),
      data = data,
      work = j.get("work").asText(),
      out = j.get("out").asText(),
      seconds = j.get("seconds").asDouble(),
      trace = j.get("trace").asBoolean(),
      setups = j.get("setups").asInt(),
      minPasses = j.get("min_passes").asInt(),
      cores = j.get("cores").asInt(),
      inputRows = j.get("input_rows").asLong(),
      docs = j.path("docs").asLong(0L),
      dim = j.path("dim").asInt(0),
      scoreCut = j.path("score_cut").asDouble(0.0),
      keys = strs(j.path("keys")),
      params = j.path("params").fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap,
      lookups = lookups)
  }
}

/** Benchmark harness: set-up, one untimed check pass, timed passes, and
  * (with tracing) traced passes; writes one JSON record for run.py.
  *
  * Usage: ppdbbench.Harness <config.json>
  */
object Harness {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** GraftSession, then one small job so the session is warm. */
  private def startSession(cores: Int): SparkSession = {
    val s = GraftSession.local(cores)
    s.range(0, 10000, 1, cores).selectExpr("sum(id)").collect()
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.load(args(0))
    val wl = Workloads(cfg.workload)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up, several times; the first one counts from JVM start
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until cfg.setups) {
      if (spark != null) spark.stop()
      val t0 = if (k == 0) jvmStartMs * 1000000L - System.currentTimeMillis() * 1000000L +
        System.nanoTime() else System.nanoTime()
      spark = startSession(cfg.cores)
      sessionS += (System.nanoTime() - t0) / 1e9
      wl.prepare(spark, cfg)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("WARN")

    val plain = new Tracer(spark, cfg.runId, traced = false)
    // check pass, untimed: it also takes the cold start (class loading,
    // first code generation, most of the JIT's work). There is no separate
    // warm-up pass: the timed passes count CPU time without the JIT
    // compiler threads, so the compiling still going on in them stays out
    // of the figure (code not yet compiled still runs slower)
    val tCheck = System.nanoTime()
    plain.span("check") { wl.pass(Ctx(spark, cfg, plain, check = true)) }
    val checkS = (System.nanoTime() - tCheck) / 1e9
    // the first pass after the cold one still runs well above the later
    // ones; a traced run compares passes with each other, so it skips it
    if (cfg.trace) plain.span("warmup") { wl.pass(Ctx(spark, cfg, plain, check = false)) }

    // timed passes until the budget is spent, and at least minPasses of
    // them, so that every run measures the same passes. With tracing,
    // passes run in whole untraced-traced-traced-untraced blocks, so a
    // drift in speed over the run (the JIT still settling, host load)
    // cancels out of the tracing overhead
    val tracer =
      if (cfg.trace) Some(new Tracer(spark, cfg.runId + "-traced", traced = true)) else None
    val timed = mutable.ArrayBuffer.empty[(Span, Seq[Span])]
    val traced = mutable.ArrayBuffer.empty[(Span, Seq[Span])]
    val end = System.nanoTime() + (cfg.seconds * 1e9).toLong
    def n = timed.size + traced.size
    def blockOpen = tracer.isDefined && n % 4 != 0
    while (n < cfg.minPasses || blockOpen || System.nanoTime() < end) {
      val (t, out) = tracer match {
        case Some(tt) if n % 4 == 1 || n % 4 == 2 => (tt, traced)
        case _ => (plain, timed)
      }
      val before = t.spans.size
      t.span("pass") { wl.pass(Ctx(spark, cfg, t, check = false)) }
      val mine = t.spans.drop(before).toSeq
      out += (mine.head -> mine.tail)
    }

    val layer: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else {
        val per = traced.map { case (_, calls) =>
          wl.layerMetrics(calls, cfg) ++ calls.groupBy(_.name).flatMap { case (n, ss) =>
            Seq(s"$n.gc_s" -> ss.map(_.gcMs).sum / 1e3,
              s"$n.task_failures" -> ss.map(_.counters.taskFailures).sum.toDouble)
          }
        }
        per.flatMap(_.keys).distinct.map(k => k -> median(per.flatMap(_.get(k)).toSeq)).toMap
      }

    val allSpans = plain.spans.toSeq ++ tracer.toSeq.flatMap(_.spans)
    def spanRec(s: Span) = Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "gc_ms" -> s.gcMs, "cpu_ms" -> s.cpuNs / 1e6,
      "status" -> s.status, "error" -> s.error)
    val calls = allSpans.filter(s => !Set("pass", "check", "warmup").contains(s.name))
    val record = Map(
      "workload" -> cfg.workload,
      "cores" -> cfg.cores,
      "setup_s" -> setupS.toSeq,
      "session_s" -> sessionS.toSeq,
      "pass_s" -> timed.map(_._1.seconds).toSeq,
      "pass_cpu_s" -> timed.map(_._1.cpuNs / 1e9).toSeq,
      "jit_compile_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "traced_pass_s" -> traced.map(_._1.seconds).toSeq,
      "traced_pass_cpu_s" -> traced.map(_._1.cpuNs / 1e9).toSeq,
      "call_ms" -> timed.flatMap(_._2.map(_.seconds * 1e3)).toSeq,
      "attempted" -> calls.size,
      "errors" -> calls.filter(_.status != "ok")
        .map(s => Map("call" -> s.name, "error" -> s.error)),
      "mismatches" -> wl.mismatches,
      "peak_rss_mb" -> peakRssMb,
      "check_s" -> checkS,
      "layer" -> (layer + ("session.start_s" -> median(sessionS.toSeq))),
      "check" -> wl.checkInfo(cfg),
      "spans" -> allSpans.map(spanRec))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(cfg.out), mapper.writeValueAsBytes(record))
    spark.stop()
  }
}

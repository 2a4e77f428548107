package ppdbbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one span, summed over the tasks of its job group. */
final class Counters {
  var jobs = 0L
  var taskFailures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var diskSpillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time of the stage holding most task time. */
  def dominantStageSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ds = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ds(ds.size / 2)
      ds.last.toDouble / math.max(med, 1L)
    }
}

/** One timed call into a layer. `parent` is the enclosing span id. */
final case class Span(
    id: String,
    name: String,
    parent: String,
    runId: String,
    startNs: Long,
    var endNs: Long = 0L,
    var gcMs: Long = 0L,
    var cpuNs: Long = 0L,
    var status: String = "ok",
    var error: String = "",
    counters: Counters = new Counters,
    queries: mutable.ArrayBuffer[QueryExecution] = mutable.ArrayBuffer.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** CPU time of the process without its JIT compiler threads, in ns.
  *
  * The process clock counts every thread, ended ones included; the compiler
  * threads' own clocks are taken off, so what remains is the program's
  * threads and the garbage collector. Compilation is warm-up that a
  * long-running process pays once, and how much of it lands in a given pass
  * varies from run to run. On a VM both clocks leave out time the host took
  * the vCPU away (steal). The JVM runs with a fixed set of compiler threads
  * (-XX:-UseDynamicNumberOfCompilerThreads), all started before main.
  */
object AppCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath)).trim

  /** schedstat of each compiler thread: its first field is the thread's run time in ns. */
  private lazy val compilerStats: Seq[File] =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten
      .filter(t => Try(read(new File(t, "comm"))).toOption.exists(_.contains("CompilerThre")))
      .map(new File(_, "schedstat"))

  def ns: Long =
    os.getProcessCpuTime -
      compilerStats.map(f => Try(read(f).split(" ")(0).toLong).getOrElse(0L)).sum
}

/** Walks executed plans through adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }

  def metric(n: SparkPlan, key: String): Long =
    n.metrics.get(key).map(_.value).getOrElse(0L)

  def outputNames(n: SparkPlan): Set[String] = n.output.map(_.name).toSet
}

/** Span recorder. Spans stay in memory until the run writes its record.
  *
  * With `traced` set, each span runs under its own job group; a
  * SparkListener sums task metrics per group and a QueryExecutionListener
  * keeps the executed plans, so SQL metrics and planning phases can be read
  * per span. Both listeners run on Spark's asynchronous listener bus, so a
  * span waits for the bus to drain before it closes.
  */
final class Tracer(spark: SparkSession, val runId: String, val traced: Boolean) {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  private var seq = 0
  private val stack = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var open: Span = null

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        val s = if (g == null) null else byGroup.get(g)
        if (s != null) {
          s.counters.synchronized { s.counters.jobs += 1 }
          e.stageIds.foreach(stageGroup.put(_, g))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val g = stageGroup.get(e.stageId)
        val s = if (g == null) null else byGroup.get(g)
        if (s == null) return
        val c = s.counters
        c.synchronized {
          if (e.reason != TaskSuccess) c.taskFailures += 1
          val m = e.taskMetrics
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.diskSpillBytes += m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
            c.outputRecords += m.outputMetrics.recordsWritten
          }
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val s = open
        if (s != null) s.queries.synchronized { s.queries += qe }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Run `body` as a span named `name`; exceptions are recorded, not thrown. */
  def span[T](name: String)(body: => T): Option[T] = {
    seq += 1
    val id = s"$runId-$seq"
    val parent = stack.headOption.map(_.id).getOrElse("")
    val s = Span(id, name, parent, runId, System.nanoTime())
    val gc0 = gcMs
    val cpu0 = AppCpu.ns
    spans += s
    stack.push(s)
    val sc = spark.sparkContext
    if (traced) {
      byGroup.put(id, s)
      sc.setJobGroup(id, name, interruptOnCancel = false)
      open = s
    }
    val out =
      try Some(body)
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          s.status = "error"
          s.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
          None
      }
    if (traced) {
      org.apache.spark.BenchBus.drain(sc)
      open = if (stack.size > 1) stack(1) else null
      sc.clearJobGroup()
      stack.lift(1).foreach(p => sc.setJobGroup(p.id, p.name, interruptOnCancel = false))
    }
    stack.pop()
    s.endNs = System.nanoTime()
    s.gcMs = gcMs - gc0
    s.cpuNs = AppCpu.ns - cpu0
    out
  }
}

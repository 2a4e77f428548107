package graft

import java.nio.file.{Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.util.ScratchDirs

/** The engine's scratch state has one owner: every directory a query
  * writes lives under [[ScratchDirs.root]] (removed at JVM exit), and every
  * per-session build goes through [[ScratchDirs.perSession]].
  */
class ScratchDirsSpec extends SparkSpec {

  private lazy val root = Paths.get(ScratchDirs.root).toRealPath()

  private def underRoot(p: Path): Boolean = p.toRealPath().startsWith(root)

  /** Directories of `files` (URIs, as `inputFiles` returns them) outside `sfDir`. */
  private def writtenDirs(files: Seq[String], sfDir: String): Seq[Path] = {
    val src = Paths.get(sfDir).toRealPath()
    files.map(f => Paths.get(new java.net.URI(f)).getParent)
      .filterNot(_.toRealPath().startsWith(src)).distinct
  }

  test("every scratch directory the write-path keys leave is under ScratchDirs.root") {
    val d = TestTables.dir(spark)
    def run(key: String) = {
      val df = SparkEntry.queries(key)(spark, d)
      df.collect()
      df
    }
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toRealPath()
    assert(root.getParent === tmp && root.getFileName.toString.startsWith("graft_scratch"))

    run("join_bucketed")
    val (liB, ordB) = operators.BucketedJoin.tables(spark, d)
    val bucketed = Seq(liB, ordB).flatMap(t => writtenDirs(spark.table(t).inputFiles.toSeq, d))
    val served = writtenDirs(run("sim_ann_index_serve").inputFiles.toSeq, d)
    run("sink_partitioned")
    val sink = Seq(Paths.get(sources.FileSources.sinkDirFor(d)))
    run("compact_files")
    val (frag, comp) = sources.FileSources.lastCompactDirs.get()
    val converted = writtenDirs(run("ppdb_convert_release").inputFiles.toSeq, d)

    Seq("join_bucketed" -> bucketed, "sim_ann_index_serve" -> served,
        "sink_partitioned" -> sink, "compact_files" -> Seq(Paths.get(frag), Paths.get(comp)),
        "ppdb_convert_release" -> converted).foreach { case (key, dirs) =>
      assert(dirs.nonEmpty, s"$key: no scratch directory found")
      dirs.foreach(p => assert(underRoot(p), s"$key wrote $p outside $root"))
    }
  }

  test("perSession: one key returns the same instance") {
    val a = ScratchDirs.perSession(spark, "spec_same", "d")(new Object)
    val b = ScratchDirs.perSession(spark, "spec_same", "d")(new Object)
    assert(a eq b)
    assert(!(ScratchDirs.perSession(spark, "spec_same", "other")(new Object) eq a))
  }

  test("perSession: 8 concurrent callers of one key run one build") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Future.sequence((1 to 8).map(_ => Future {
        start.await()
        ScratchDirs.perSession(spark, "spec_concurrent", "d") {
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        }
      }))
      start.countDown()
      val results = Await.result(got, 30.seconds)
      assert(builds.get === 1)
      assert(results.forall(_ eq results.head))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("perSession: a build may ask for another key, and different keys do not block") {
    val nested = ScratchDirs.perSession(spark, "spec_outer", "d") {
      ScratchDirs.perSession(spark, "spec_inner", "d")("inner") + "+outer"
    }
    assert(nested === "inner+outer")
    assert(ScratchDirs.perSession(spark, "spec_inner", "d")("rebuilt") === "inner")

    // key A's build waits for key B's build, which runs on another thread:
    // a lock shared between keys would deadlock here
    val bBuilt = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val a = Future(ScratchDirs.perSession(spark, "spec_block_a", "d") {
        assert(bBuilt.await(20, TimeUnit.SECONDS), "key B's build never ran")
        "a"
      })
      val b = Future(ScratchDirs.perSession(spark, "spec_block_b", "d") {
        bBuilt.countDown()
        "b"
      })
      assert(Await.result(b, 30.seconds) === "b")
      assert(Await.result(a, 30.seconds) === "a")
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }
}

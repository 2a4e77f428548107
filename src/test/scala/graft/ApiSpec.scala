package graft

import scala.jdk.CollectionConverters._

import graft.ppdb.Ppdb

/** Library API surface: session factory config, its single-builder guard and
  * feature widening.
  */
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

  /** `file:line` of every line in `src/main/scala` that contains `needle`. */
  private def mainSitesOf(needle: String): Seq[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root missing")
    val files = {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala
      lines.zipWithIndex.collect { case (l, i) if l.contains(needle) => s"$f:${i + 1}" }
    }
  }

  test("GraftSession is the only session builder in main, and nothing registers the extension") {
    val builders = mainSitesOf("SparkSession.builder")
    assert(builders.nonEmpty && builders.forall(_.contains("/graft/GraftSession.scala:")),
      builders.mkString("\n"))
    // split so this file does not match its own search
    val registers = mainSitesOf("GraftExtensions" + ".register")
    assert(registers.isEmpty, registers.mkString("\n"))
  }

  test("the PPDB format rule is written down once, in the byte kernels") {
    // the delimiter and the score key as Scala string literals belong to
    // plans/PpdbSplitLine.scala alone: a parser that needs them calls the
    // kernels there (the DuckDB oracle SQL quotes them in SQL)
    Seq("\" ||| \"", "\"PPDB2.0Score=\"").foreach { needle =>
      val sites = mainSitesOf(needle)
      assert(sites.forall(_.contains("/graft/plans/PpdbSplitLine.scala:")),
        s"$needle:\n${sites.mkString("\n")}")
    }
  }

  test("no hand-written eval or codegen in main: every kernel runs through NativeKernel") {
    // a native kernel declares its static call and NULL rule once and
    // StaticInvoke runs it in both codegen modes; a second eval/doGenCode
    // pair is where interpreted and compiled results drift apart
    val sites = Seq("def eval(", "def nullSafeEval(", "def doGenCode(").flatMap(mainSitesOf)
    assert(sites.nonEmpty && sites.forall(_.contains("/graft/plans/NativeKernel.scala:")),
      sites.mkString("\n"))
  }

  test("the IVF-PQ encode and the ANN null-vector guard are each written once") {
    // one PqAssignEncode projection (IvfPqModel.encode) serves the fresh
    // IVF-PQ search and the persisted index alike
    val encodes = mainSitesOf("PqAssignEncode(").filterNot(_.contains("/graft/plans/VecExprs.scala:"))
    assert(encodes.size === 1 && encodes.head.contains("/graft/operators/AnnIvfPq.scala:"),
      encodes.mkString("\n"))
    // one operator-side guard (AnnIvf.requireVec); the pq_assign_encode
    // kernel's own NULL message is its NULL rule (KernelNullSpec)
    val guards = mainSitesOf("ANN input contract: filter null embeddings upstream")
      .filter(_.contains("/graft/operators/"))
    assert(guards.size === 1 && guards.head.contains("/graft/operators/AnnIvf.scala:"),
      guards.mkString("\n"))
  }

  test("vector math and as-of joins ship one form: no optimizer rule, one as-of entry point") {
    // queries call the vector kernels themselves; no rule rewrites a plan
    // into them
    Seq("injectOptimizerRule", "Rule[LogicalPlan]").foreach { needle =>
      val sites = mainSitesOf(needle)
      assert(sites.isEmpty, s"$needle:\n${sites.mkString("\n")}")
    }
    // every as-of key enters through AsOfJoinNative.join, the merge exec
    Seq("AsOfJoin.join", "operators.AsOfJoin").foreach { needle =>
      val sites = mainSitesOf(needle)
      assert(sites.isEmpty, s"$needle:\n${sites.mkString("\n")}")
    }
  }

  test("ScratchDirs is the one owner of scratch roots, the sfDir tag and per-session caches") {
    val scratch = "/graft/util/ScratchDirs.scala:"
    // scratch roots and session-keyed maps belong to util/ScratchDirs.scala
    Seq("createTempDirectory(", "java.io.tmpdir", "ConcurrentHashMap[(SparkSession",
        "WeakHashMap[SparkSession").foreach { needle =>
      val sites = mainSitesOf(needle)
      assert(sites.forall(_.contains(scratch)), s"$needle:\n${sites.mkString("\n")}")
    }
    // exactly one of each: the root, the session memo, the MD5 tag and the
    // recursive delete
    Seq("createTempDirectory(", "ConcurrentHashMap[(SparkSession",
        "getInstance(\"MD5\")", "def deleteRecursively(").foreach { needle =>
      val sites = mainSitesOf(needle)
      assert(sites.size === 1 && sites.head.contains(scratch), s"$needle:\n${sites.mkString("\n")}")
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

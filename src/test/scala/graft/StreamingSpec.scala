package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.{Ev, SessionOut}

case class StreamEv(tsx: Timestamp, event_type: String, value: Double, user_id: Long, event_id: Long)

/** Structured Streaming wiring tests: MemoryStream micro-batches through the
  * real streaming plans (state store, watermark), plus batch execution of the
  * custom flatMapGroupsWithState sessionizer.
  */
class StreamingSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(1704067200000L + min * 60000L)

  test("tumbling window aggregates arrive incrementally") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[StreamEv]
    val query = StreamingJobs.tumbling(in.toDF())
      .writeStream.format("memory").queryName("tumb").outputMode(OutputMode.Update).start()
    try {
      in.addData(
        StreamEv(ts(5), "click", 1.0, 7, 1),
        StreamEv(ts(20), "click", 2.0, 7, 2),
        StreamEv(ts(65), "click", 4.0, 7, 3))
      query.processAllAvailable()
      val rows = spark.table("tumb").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set(
        (ts(0).getTime, 2L, 3.0),   // hour 0: two clicks
        (ts(60).getTime, 1L, 4.0))) // hour 1: one click
    } finally query.stop()
  }

  test("session window closes after the 30-min gap") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[StreamEv]
    val query = StreamingJobs.sessions(in.toDF())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Complete).start()
    try {
      in.addData(
        StreamEv(ts(0), "view", 1.0, 7, 1),
        StreamEv(ts(10), "view", 1.0, 7, 2),
        StreamEv(ts(50), "view", 1.0, 7, 3))
      query.processAllAvailable()
      val rows = spark.table("sess").collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(rows.sorted === Seq((7L, 1L), (7L, 2L))) // sessions of 2 and 1 events
    } finally query.stop()
  }

  test("dropDuplicatesWithinWatermark dedups repeated event ids") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[StreamEv]
    val query = StreamingJobs.dedupWithinWatermark(in.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        StreamEv(ts(0), "view", 1.0, 7, 1),
        StreamEv(ts(1), "view", 1.0, 7, 1), // dup id within watermark
        StreamEv(ts(2), "view", 1.0, 7, 2))
      query.processAllAvailable()
      assert(spark.table("dedup").count() === 2)
    } finally query.stop()
  }

  test("watermark drops late rows exactly as stream_late_drop's batch formula") {
    // TRUE streaming twin of the declared stream_late_drop semantics: the
    // batch query defines watermark(batch b) = max event-time of batches
    // < b minus the allowed lateness — precisely MicroBatchExecution's
    // between-batch watermark update. Feed three explicit micro-batches
    // and check the engine keeps exactly the rows the formula keeps.
    // Data stays ≥5 min away from every watermark boundary so the
    // assertion is insensitive to < vs ≤ edge conventions.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = MemoryStream[StreamEv]
    // 30-min lateness, 1-min windows, per-window counts in Update mode:
    // a window's count only grows, so its final value is the max update
    val agg = in.toDF()
      .withWatermark("tsx", "30 minutes")
      .groupBy(window(col("tsx"), "1 minute"))
      .count()
    val query = agg.writeStream.format("memory").queryName("late")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: t = 0, 10, 40 → max 40, watermark entering batch 2 = 10
      in.addData(
        StreamEv(ts(0), "view", 1.0, 7, 1),
        StreamEv(ts(10), "view", 1.0, 7, 2),
        StreamEv(ts(40), "view", 1.0, 7, 3))
      query.processAllAvailable()
      // batch 2: t=5 late (< 10), t=15 and t=50 kept → max 50, wm = 20
      in.addData(
        StreamEv(ts(5), "view", 1.0, 7, 4),
        StreamEv(ts(15), "view", 1.0, 7, 5),
        StreamEv(ts(50), "view", 1.0, 7, 6))
      query.processAllAvailable()
      // batch 3: t=12 late (< 20), t=25 and t=60 kept
      in.addData(
        StreamEv(ts(12), "view", 1.0, 7, 7),
        StreamEv(ts(25), "view", 1.0, 7, 8),
        StreamEv(ts(60), "view", 1.0, 7, 9))
      query.processAllAvailable()
      // final per-window count = max over its updates; batch formula keeps
      // 3 + 2 + 2 = 7 rows (drops t=5 and t=12)
      val kept = spark.table("late")
        .groupBy(col("window")).agg(max(col("count")).as("n"))
        .agg(sum(col("n"))).head().getLong(0)
      assert(kept === 7L)
      val windows = spark.table("late").select("window").distinct().count()
      assert(windows === 7L) // each kept row lands in its own 1-min window
    } finally query.stop()
  }

  test("file-source stream drives the tumbling window end-to-end") {
    val dir = TestTables.dir(spark)
    val query = StreamingJobs.tumbling(StreamingJobs.eventsFileStream(spark, s"$dir/events.parquet"))
      .writeStream.format("memory").queryName("filetumb")
      .outputMode(OutputMode.Update)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      query.awaitTermination(60000)
      // TestTables events: 5 events all inside hour 2024-01-01T00
      val rows = spark.table("filetumb").collect().map(r => (r.getString(1), r.getLong(2))).toMap
      assert(rows === Map("view" -> 3L, "purchase" -> 2L))
    } finally query.stop()
  }

  test("eventsFileStream on an empty landing directory falls back to the pinned schema") {
    // ADVICE r10: the batch footer peek throws on a not-yet-populated landing
    // zone; the fallback DDL must let the stream start (and produce nothing)
    val dir = SparkSpec.tempDir("emptyland")
    val stream = StreamingJobs.eventsFileStream(spark, dir)
    assert(stream.isStreaming)
    assert(stream.schema("tsx").dataType === org.apache.spark.sql.types.TimestampType)
    val q = StreamingJobs.tumbling(stream)
      .writeStream.format("memory").queryName("emptyland")
      .outputMode(OutputMode.Update)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      assert(spark.table("emptyland").count() === 0L)
    } finally q.stop()
  }

  test("timeout sessionizer closes quiet sessions when the watermark passes") {
    implicit val sql = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    val us = 60L * 1000000L
    val base = 1704067200000000L // epoch-0 event times sit ON the initial watermark and are dropped
    val in = MemoryStream[Ev]
    val query = StreamingJobs.sessionizeWithTimeout(in.toDS())
      .writeStream.format("memory").queryName("tosess").outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(7L, base, 1.0), Ev(7L, base + 10 * us, 1.0))
      query.processAllAvailable()
      // no further events from user 7 — but an event far in the future
      // advances the watermark past 10min+gap, timing the session out
      in.addData(Ev(9L, base + 120 * us, 1.0))
      query.processAllAvailable()
      in.addData(Ev(9L, base + 240 * us, 1.0)) // advance again so the batch after timeout runs
      query.processAllAvailable()
      val rows = spark.table("tosess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows.contains((7L, base, base + 10 * us, 2L)),
        s"user 7's quiet session should close by timeout, got $rows")
    } finally query.stop()
  }

  test("transformWithState running totals accumulate across micro-batches") {
    implicit val sql = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[StreamingJobs.Ev]
    val query = StreamingJobs.runningTotals(in.toDS())
      .writeStream.format("memory").queryName("totals").outputMode(OutputMode.Update).start()
    try {
      in.addData(StreamingJobs.Ev(7L, 1L, 2.0), StreamingJobs.Ev(7L, 2L, 3.0))
      query.processAllAvailable()
      in.addData(StreamingJobs.Ev(7L, 3L, 5.0), StreamingJobs.Ev(8L, 4L, 1.0))
      query.processAllAvailable()
      val rows = spark.table("totals").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // Update mode: one row per touched user per batch; last row per user wins
      val latest = rows.groupBy(_._1).map { case (u, rs) => u -> rs.last }
      assert(latest(7L) === ((7L, 10.0, 3L)))
      assert(latest(8L) === ((8L, 1.0, 1L)))
    } finally {
      query.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("custom flatMapGroupsWithState sessionizer emits closed sessions (batch run)") {
    import spark.implicits._
    implicit val s = spark
    val us = 60L * 1000000L
    val evs = Seq(
      Ev(7L, 0 * us, 1.0), Ev(7L, 10 * us, 1.0), // session 1
      Ev(7L, 50 * us, 1.0), // session 2 (stays open → not emitted in batch)
      Ev(8L, 5 * us, 1.0)
    ).toDS()
    val out = StreamingJobs.sessionize(evs).collect().toSet
    assert(out === Set(SessionOut(7L, 0L, 10 * us, 2L)))
  }

  test("file sink + checkpoint is exactly-once across restarts") {
    val dir = TestTables.dir(spark)
    val out = SparkSpec.tempDir("ssink")
    def runOnce(): Unit = {
      val q = StreamingJobs.eventsFileStream(spark, s"$dir/events.parquet")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    runOnce()
    val n = spark.read.parquet(s"$out/data").count()
    assert(n === spark.read.parquet(s"$dir/events.parquet").count())
    // restart against the same checkpoint: source offsets are committed, so
    // nothing re-emits — the exactly-once contract of file source + sink
    runOnce()
    assert(spark.read.parquet(s"$out/data").count() === n)
  }

  test("foreachBatch sink writes per-batch partitions and re-running a batch is idempotent") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = SparkSpec.tempDir("febsink")
    val out = s"$root/data" // checkpoint must live OUTSIDE the partitioned table root
    val in = MemoryStream[StreamEv]
    val q = StreamingJobs.foreachBatchParquet(in.toDF(), out)
      .option("checkpointLocation", s"$root/cp")
      .start()
    try {
      in.addData(StreamEv(ts(0), "view", 1.0, 7, 1), StreamEv(ts(1), "view", 2.0, 7, 2))
      q.processAllAvailable()
      in.addData(StreamEv(ts(2), "click", 3.0, 8, 3))
      q.processAllAvailable()
      val all = spark.read.parquet(out)
      assert(all.count() === 3)
      // per-batch dirs exist; overwrite semantics make a replay idempotent
      assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("batch_id=")))
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases within 1h of a view") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[StreamEv]
    val query = StreamingJobs.viewPurchaseJoin(in.toDF())
      .writeStream.format("memory").queryName("ssjoin").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        StreamEv(ts(0), "view", 1.0, 7, 1),
        StreamEv(ts(30), "purchase", 9.0, 7, 2), // within 1h of the view → match
        StreamEv(ts(90), "purchase", 9.0, 7, 3), // 90 min after → no match
        StreamEv(ts(10), "purchase", 9.0, 8, 4)) // other user → no match
      query.processAllAvailable()
      val rows = spark.table("ssjoin").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
      assert(rows.toSeq === Seq((7L, ts(0).getTime, ts(30).getTime)))
    } finally query.stop()
  }

  test("keyed dedupWithinWatermark keeps one row per (user, type)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[StreamEv]
    val query = StreamingJobs
      .dedupWithinWatermark(in.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("kdedup").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        StreamEv(ts(0), "view", 1.0, 7, 1),
        StreamEv(ts(1), "view", 1.0, 7, 2), // same (user, type) → dropped
        StreamEv(ts(2), "click", 1.0, 7, 3))
      query.processAllAvailable()
      assert(spark.table("kdedup").count() === 2)
    } finally query.stop()
  }
}

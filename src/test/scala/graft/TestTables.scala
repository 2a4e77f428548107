package graft

import org.apache.spark.sql.SparkSession

/** Tiny literal tables written once to a temp dir shaped like a driver
  * `sfDir` (FIXTURES.md §3: unit tests must not read /root/testdata), so
  * specs can exercise the REAL `SparkEntry.queries` functions end-to-end.
  *
  * The driver testdata has shipped events.ts under two schemas (Tables.events
  * scaladoc): `timestamp[us]` (the CURRENT generation, TIMESTAMP_NTZ in
  * Spark) and INT64 TIMESTAMP(NANOS) (legacy, surfaced as BIGINT ns under
  * the nanosAsLong conf). [[dir]] mirrors the current µs schema;
  * [[dirLegacyNs]] the legacy one — DualSchemaSpec runs the events-key
  * queries against both so a regression in either reader path fails a unit
  * test, not the driver gate.
  */
object TestTables {

  private var cachedUs: Option[String] = None
  private var cachedNs: Option[String] = None

  /** Fixture with events.ts as `timestamp[us]` — the current driver schema. */
  def dir(spark: SparkSession): String = synchronized {
    cachedUs.getOrElse {
      val d = SparkSpec.tempDir("graft-test-sf")
      write(spark, d, eventsTsNs = false)
      cachedUs = Some(d)
      d
    }
  }

  /** Fixture with events.ts as BIGINT ns — the legacy driver schema.
    *
    * Fidelity gap: Spark cannot WRITE INT64 TIMESTAMP(NANOS) parquet, so
    * this fixture carries a plain BIGINT column — it exercises the LongType
    * branch of Tables.events (`ts div 1000`) but not the actual
    * PARQUET_TYPE_ILLEGAL/nanosAsLong read path the legacy driver files
    * trigger (that path needs a pyarrow-written true-NANOS file, which the
    * pre-regeneration driver testdata provided).
    */
  def dirLegacyNs(spark: SparkSession): String = synchronized {
    cachedNs.getOrElse {
      val d = SparkSpec.tempDir("graft-test-sf-ns")
      write(spark, d, eventsTsNs = true)
      cachedNs = Some(d)
      d
    }
  }

  private var cachedEmpty: Option[String] = None

  /** Same schemas, ZERO rows in every table — the empty-partition/empty-dir
    * robustness fixture (EmptyCorpusSpec): at 100 TB an operator will meet
    * empty inputs routinely and must yield an empty (or identity) result,
    * not a driver-side crash or a divide-by-zero.
    */
  def dirEmpty(spark: SparkSession): String = synchronized {
    cachedEmpty.getOrElse {
      val full = dir(spark)
      val d = SparkSpec.tempDir("graft-test-sf-empty")
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
        val df = spark.read.parquet(s"$full/$t.parquet")
        df.limit(0).write.parquet(s"$d/$t.parquet")
      }
      cachedEmpty = Some(d)
      d
    }
  }

  private var cachedNulls: Option[String] = None

  /** Same schemas and row counts, but every non-key VALUE column carries
    * scattered NULLs (deterministic ~1/3 of rows per column) — the
    * null-robustness fixture (NullCorpusSpec): at 100 TB nulls appear in
    * every nullable column (failed scrapes, absent metadata, partial
    * records), and an operator must produce a result — not an ANSI cast
    * error, an NPE in a UDF, or a driver crash — when they do. Key
    * columns (ids, the event time) stay non-null, mirroring the driver
    * data's actual invariants.
    */
  def dirNulls(spark: SparkSession): String = synchronized {
    cachedNulls.getOrElse {
      import org.apache.spark.sql.functions._
      val full = dir(spark)
      val d = SparkSpec.tempDir("graft-test-sf-nulls")
      val keep = Set("r_regionkey", "n_nationkey", "c_custkey", "s_suppkey",
        "p_partkey", "o_orderkey", "l_orderkey", "l_linenumber", "event_id",
        "doc_id", "vec_id", "ts")
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
        val df = spark.read.parquet(s"$full/$t.parquet")
        val out = df.columns.foldLeft(df) { (acc, c) =>
          if (keep(c)) acc
          else acc.withColumn(c,
            when(abs(hash(col(c), lit(t))) % 3 === 0, lit(null)).otherwise(col(c)))
        }
        out.write.parquet(s"$d/$t.parquet")
      }
      cachedNulls = Some(d)
      d
    }
  }

  private def write(spark: SparkSession, d: String, eventsTsNs: Boolean): Unit = {
    import spark.implicits._

    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"))
      .toDF("r_regionkey", "r_name")
      .write.parquet(s"$d/region.parquet")

    Seq((0, "ALGERIA", 0), (1, "BRAZIL", 1), (2, "CHINA", 2), (3, "KENYA", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$d/nation.parquet")

    Seq(
      (1L, "cust1", 0, 100.5, "AUTO"),
      (2L, "cust2", 1, 50.25, "RETAIL"),
      (3L, "cust3", 1, 75.0, "AUTO"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$d/customer.parquet")

    Seq((1L, "supp1", 0, 10.0), (2L, "supp2", 3, 20.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$d/supplier.parquet")

    Seq((1L, "azure part", "B#1", "small brass", 3, 9.99))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$d/part.parquet")

    val ts = java.sql.Timestamp.valueOf(_: String)
    Seq(
      (10L, 1L, "O", 100.0, ts("1995-03-01 00:00:00"), "1-URGENT"),
      (11L, 1L, "F", 300.0, ts("1995-04-01 00:00:00"), "2-HIGH"),
      (12L, 2L, "O", 200.0, ts("1995-05-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")

    Seq(
      (10L, 1L, 1L, 1, 2.0, 100.0, 0.05, 0.01, "A", "F", ts("1995-03-10 00:00:00")),
      (10L, 1L, 2L, 2, 3.0, 200.0, 0.06, 0.02, "R", "O", ts("1995-03-20 00:00:00")),
      (11L, 1L, 1L, 1, 4.0, 400.0, 0.00, 0.00, "N", "O", ts("1995-04-05 00:00:00")),
      (12L, 1L, 2L, 1, 8.0, 800.0, 0.07, 0.03, "R", "F", ts("1995-07-30 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")

    // user 7: events at 0, +10min, +50min, +55min → two 30-min-gap sessions
    // of 2 events each. A view precedes each purchase. Written either as
    // ns-epoch BIGINT (legacy) or timestamp_ntz µs (current driver schema);
    // under the UTC session the TimestampType→NTZ cast is value-preserving.
    val base = 1704067200L * 1000000000L // 2024-01-01 00:00:00 UTC in ns
    def ns(min: Long): Long = base + min * 60L * 1000000000L
    val eventsRaw = Seq(
      (1L, ns(0), 7L, "view", 1.0, """{"k": 1}"""),
      (2L, ns(10), 7L, "purchase", 2.0, """{"k": 2}"""),
      (3L, ns(50), 7L, "view", 3.0, """{"k": 3}"""),
      (4L, ns(55), 7L, "purchase", 4.0, """{"k": 4}"""),
      (5L, ns(20), 8L, "view", 5.0, """{"k": 5}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val events =
      if (eventsTsNs) eventsRaw
      else eventsRaw.withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
    events.write.parquet(s"$d/events.parquet")

    Seq(
      (0L, "a b c", "en", "src0", 5L),
      (1L, "  A  b   C ", "en", "src1", 11L), // normalizes identical to doc 0
      (2L, "x y", "en", "src2", 3L),
      (3L, "a b d", "en", "src0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")

    // dim 64 like the driver data (the unrolled dot product indexes 1..64)
    def pad(v: Float*): Array[Float] = (v ++ Seq.fill(64 - v.length)(0.0f)).toArray
    Seq(
      (0L, pad(1.0f, 0.0f, 0.0f), 0),
      (1L, pad(0.9f, 0.1f, 0.0f), 0),
      (2L, pad(0.0f, 1.0f, 0.0f), 1),
      (3L, pad(0.0f, 0.9f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
  }
}

package graft

import java.nio.file.Files

import org.scalacheck.Gen

import graft.functions.GeoMean
import graft.ppdb.Ppdb

/** Property tests (SURVEY.md §5.2): PPDB format round-trip, dedup
  * idempotence, top-k ⊆ sorted prefix, UDAF merge laws.
  */
class PropertySpec extends SparkSpec {

  /** Minimal property runner (scalatest/scalacheck bridge isn't on the
    * offline classpath): draw `n` samples from the generator.
    */
  private def forAllN[A](gen: Gen[A], n: Int)(f: A => Unit): Unit = {
    var drawn = 0
    var attempts = 0
    while (drawn < n && attempts < n * 20) {
      gen.sample.foreach { a => f(a); drawn += 1 }
      attempts += 1
    }
    assert(drawn == n, s"generator exhausted after $attempts attempts")
  }

  private val token = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty)

  test("GeoMean merge is commutative and order-insensitive within ulp tolerance") {
    forAllN(Gen.nonEmptyListOf(Gen.choose(0.1, 1e6)), 20) { (xs: List[Double]) =>
      val seq = xs.foldLeft(GeoMean.zero)(GeoMean.reduce)
      val (l, r) = xs.splitAt(xs.length / 2)
      val merged = GeoMean.merge(
        l.foldLeft(GeoMean.zero)(GeoMean.reduce),
        r.foldLeft(GeoMean.zero)(GeoMean.reduce))
      assert(merged._2 === seq._2)
      assert(math.abs(GeoMean.finish(merged) - GeoMean.finish(seq)) <=
        1e-9 * math.abs(GeoMean.finish(seq)))
      assert(GeoMean.merge(seq, GeoMean.zero) === seq)
    }
  }

  test("top-k is a prefix of the full sort") {
    import spark.implicits._
    forAllN(Gen.listOfN(40, Gen.choose(-1000, 1000)), 5) { (xs: List[Int]) =>
      if (xs.nonEmpty) {
        val k = 5
        val topk = xs.toDF("x").orderBy($"x".desc).limit(k).as[Int].collect().toSeq
        assert(topk === xs.sorted(Ordering[Int].reverse).take(k))
      }
    }
  }

  test("exact dedup is idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    forAllN(Gen.listOfN(12, Gen.listOfN(3, token).map(_.mkString(" "))), 3) {
      (docs: List[String]) =>
        if (docs.nonEmpty) {
          def dedup(df: org.apache.spark.sql.DataFrame) =
            df.groupBy(md5(Tables.normText(col("text"))).as("h"))
              .agg(first(col("text")).as("text"))
              .select("text")
          val once = dedup(docs.toDF("text"))
          val twice = dedup(once)
          assert(once.count() === twice.count())
          assert(once.collect().map(_.getString(0)).sorted.toSeq ===
            twice.collect().map(_.getString(0)).sorted.toSeq)
        }
    }
  }

  test("PPDB render → parse round-trips") {
    val ruleGen = for {
      lhs <- Gen.oneOf("[JJ]", "[NP]", "[VP]", "[NN]")
      phrase <- Gen.listOfN(2, token).map(_.mkString(" "))
      para <- token
      score <- Gen.choose(0.01, 9.99).map(s => math.floor(s * 100) / 100)
      ent <- Gen.oneOf("Equivalence", "ForwardEntailment", "Exclusion", "Independent")
    } yield (lhs, phrase, para, score, ent)

    forAllN(Gen.listOfN(15, ruleGen), 3) { rules =>
      if (rules.nonEmpty) {
        val lines = rules.map { case (lhs, p, pp, sc, ent) =>
          f"$lhs ||| $p ||| $pp ||| PPDB2.0Score=$sc%.2f p(e|f)=1.00 ||| 0-0 ||| $ent"
        }
        val f = Files.createTempFile("ppdb-prop", ".txt")
        Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
        try {
          val parsed = Ppdb.parse(spark, f.toString)
            .select("lhs", "phrase", "paraphrase", "ppdb2score", "entailment")
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3), r.getString(4)))
            .toSeq.sorted
          // expected score = exactly what was rendered into the line
          val expected = rules.map { case (lhs, p, pp, sc, ent) =>
            (lhs, p, pp, f"$sc%.2f".toDouble, ent)
          }.sorted
          assert(parsed === expected)
        } finally Files.delete(f)
      }
    }
  }

  test("interval_merge equals the brute-force per-user merge on random events") {
    import spark.implicits._
    val evGen = for {
      user <- Gen.choose(0L, 3L)
      min <- Gen.choose(0L, 600L) // minutes; 30-min intervals force overlaps
    } yield (user, min)
    var id = 0L
    forAllN(Gen.listOfN(40, evGen), 3) { evs =>
      if (evs.nonEmpty) {
        val d = SparkSpec.tempDir("iv-prop")
        val base = 1704067200L * 1000000000L
        val rows = evs.map { case (u, m) =>
          id += 1
          (id, base + m * 60L * 1000000000L, u, "view", 1.0, "{}")
        }
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.parquet(s"$d/events.parquet")
        val got = SparkEntry.queries("interval_merge")(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        // reference: sort starts per user, sweep-merge [s, s+30min) intervals
        val iv = 1800000000L
        val want = rows.groupBy(_._3).toSeq.map { case (u, rs) =>
          val starts = rs.map(_._2 / 1000).sorted
          val merged = starts.foldLeft(List.empty[(Long, Long)]) {
            case (acc, s) => acc match {
              case (s0, e0) :: rest if s <= e0 => (s0, math.max(e0, s + iv)) :: rest
              case _ => (s, s + iv) :: acc
            }
          }
          (u, merged.length.toLong, merged.map(p => p._2 - p._1).sum)
        }.sortBy(_._1)
        assert(got === want)
      }
    }
  }

  test("skyline_pareto equals the brute-force dominance filter on random parts") {
    import spark.implicits._
    val pGen = for {
      price <- Gen.choose(1, 20).map(_ * 0.5)
      size <- Gen.choose(1, 10)
    } yield (price, size)
    var key = 0L
    forAllN(Gen.listOfN(30, pGen), 3) { ps =>
      if (ps.nonEmpty) {
        val d = SparkSpec.tempDir("sk-prop")
        val rows = ps.map { case (pr, sz) => key += 1; (key, pr, sz) }
        rows.toDF("p_partkey", "p_retailprice", "p_size")
          .write.parquet(s"$d/part.parquet")
        val got = SparkEntry.queries("skyline_pareto")(spark, d).collect()
          .map(_.getLong(0)).toSeq
        val want = rows.filter { case (_, pr, sz) =>
          !rows.exists { case (_, qr, qz) =>
            qr <= pr && qz >= sz && (qr < pr || qz > sz)
          }
        }.map(_._1).sorted
        assert(got === want)
      }
    }
  }
}

package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Differential tests for the FastSS fuzzy join and the integer PageRank:
  * the blocking/iterative rewrites must reproduce their naive specs
  * exactly — same pairs, same integer rank values.
  */
class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  test("deletion-neighborhood blocking = naive cross-join levenshtein (randomized)") {
    val rng = new Random(19)
    val alpha = "abc"
    // short strings over a 3-letter alphabet: dense collisions, all edit
    // kinds (equal, substitute, insert, delete) and length-0/1 edges
    val rows = (1L to 200L).map { i =>
      val len = rng.nextInt(7)
      (i, (1 to len).map(_ => alpha(rng.nextInt(alpha.length))).mkString)
    }
    val df = rows.toDF("id", "s")

    val got = FuzzyJoin.selfMatch1(df, "id", "s")
      .select("a_key", "b_key", "dist")
      .as[(Long, Long, Long)].collect().toSet

    val naive = df.as("a").crossJoin(df.as("b"))
      .filter($"a.id" < $"b.id" && levenshtein($"a.s", $"b.s") <= 1)
      .select($"a.id", $"b.id", levenshtein($"a.s", $"b.s").cast("long"))
      .as[(Long, Long, Long)].collect().toSet

    assert(got === naive)
    assert(naive.nonEmpty, "fixture should produce matches")
  }

  test("shared-variant distance-2 pairs are rejected by the verify step") {
    // "ab" and "ba" share deletion variants "a" and "b" but are distance 2
    val df = Seq((1L, "ab"), (2L, "ba"), (3L, "ab")).toDF("id", "s")
    val got = FuzzyJoin.selfMatch1(df, "id", "s")
      .select("a_key", "b_key", "dist").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 3L, 0L))) // only the exact duplicate survives
  }

  test("column names needing backticks resolve through the Column API, not raw SQL text") {
    // "customer name" (a space) would be a ParseException if the
    // identifier were interpolated into the transform() SQL
    val df = Seq((1L, "acme"), (2L, "acme"), (3L, "apex"))
      .toDF("customer id", "customer name")
    val got = FuzzyJoin.selfMatch1(df, "customer id", "customer name")
      .select("a_key", "b_key", "dist").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 0L)))
  }
}

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Plain-Scala replica of the exact integer iteration. */
  private def reference(
      edges: Seq[(String, String)], iterations: Int): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size.toLong
    val out = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (15L * PageRank.Scale) / (100L * n)
    var r = nodes.map(_ -> PageRank.Scale / n).toMap
    for (_ <- 1 to iterations) {
      val inflow = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / out(u) }.sum).toMap
      r = nodes.map(v => v -> (base + (85L * inflow.getOrElse(v, 0L)) / 100L)).toMap
    }
    r
  }

  test("integer damped flow = plain-Scala replica on a random graph, 0..4 iterations") {
    val rng = new Random(23)
    val edges = (1 to 120).map(_ => (s"n${rng.nextInt(15)}", s"n${rng.nextInt(15)}"))
    val df = edges.toDF("src", "dst")
    for (iters <- Seq(0, 1, 4)) {
      val got = PageRank.run(df, "src", "dst", iterations = iters)
        .as[(String, Long)].collect().toMap
      assert(got === reference(edges, iters), s"iterations = $iters")
    }
  }

  test("PageRank.run runs no query but its checkpoints (the node count rides the census)") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
    val (out, queries) = ExecutedQueries.during(spark)(
      PageRank.run(edges.toDF("src", "dst"), "src", "dst", iterations = 2))
    assert(queries.nonEmpty && queries.forall(_ == "localCheckpoint"), s"ran $queries")
    assert(out.as[(String, Long)].collect().toMap === reference(edges, 2))
  }

  test("hand graph: sinks keep base rank, hubs accumulate, mass never grows") {
    // a -> b, a -> c, b -> c ; c is a sink (dangling mass dropped)
    val df = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val r = PageRank.run(df, "src", "dst", iterations = 2)
      .as[(String, Long)].collect().toMap
    val S = PageRank.Scale
    val base = (15L * S) / (100L * 3)
    // iter1: a = base; b = base + 85%*(S/3 / 2); c = base + 85%*(S/3/2 + S/3)
    val b1 = base + (85L * (S / 3 / 2)) / 100
    val c1 = base + (85L * (S / 3 / 2 + S / 3)) / 100
    assert(r("a") === base) // nothing points at a after round 1
    assert(r("b") === base + (85L * (base / 2)) / 100)
    assert(r("c") === base + (85L * (base / 2 + b1)) / 100)
    assert(r.values.sum <= S, "dropped dangling mass can only shrink the total")
    assert(c1 > b1, "sanity: the hub ranks above the middle node after round 1")
  }
}

class AttributionModelsSpec extends SparkSpec {
  import spark.implicits._

  // (conversion_id, session_id, session_us, conv_us)
  private def journeys(rows: Seq[(Long, Long, Long, Long)]) =
    rows.toDF("conversion_id", "session_id", "us", "cus")
      .select($"conversion_id", $"session_id",
        timestamp_micros($"us").as("session_ts"),
        timestamp_micros($"cus").as("conv_ts"))

  private val Day = 86400000000L

  test("timeDecay: halves per whole day, exact rationals sum to 1, cap applies") {
    val j = journeys(Seq(
      (1L, 10L, 100L, Day * 2 + 200L),      // 2 whole days before → w = 2^38
      (1L, 11L, Day * 2 - 100L, Day * 2 + 200L), // <1 day → w = 2^40
      (1L, 12L, Day + 100L, Day * 2 + 200L),     // 1 day  → w = 2^39
      (2L, 20L, 0L, Day * 100L)))           // 100 days → capped at 40 → w = 1
    val got = Attribution.timeDecay(j)
      .select($"conversion_id", $"session_id", $"days_before", $"decay_weight")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val den = (1L << 38) + (1L << 40) + (1L << 39)
    assert(got((1L, 10L)) === ((2L, (1L << 38).toDouble / den)))
    assert(got((1L, 11L)) === ((0L, (1L << 40).toDouble / den)))
    assert(got((1L, 12L)) === ((1L, (1L << 39).toDouble / den)))
    assert(got((2L, 20L)) === ((40L, 1.0))) // capped, sole session
    // newer touch never gets less credit
    assert(got((1L, 11L))._2 > got((1L, 12L))._2)
    assert(got((1L, 12L))._2 > got((1L, 10L))._2)
  }

  test("timeDecay degenerate inputs: post-conversion sessions clamp to day 0; maxDays=60 cannot overflow") {
    // a session AFTER its conversion (clock skew / direct library use
    // without the session_ts < conv_ts join guard): unclamped, -23 days
    // would shiftleft past 63 and wrap, poisoning every weight
    val skewed = journeys(Seq(
      (1L, 10L, Day * 25, Day), // 24 days AFTER the conversion
      (1L, 11L, 0L, Day)))      // 1 whole day before
    val got = Attribution.timeDecay(skewed)
      .select($"session_id", $"days_before", $"decay_weight")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val den = ((1L << 40) + (1L << 39)).toDouble
    assert(got(10L) === ((0L, (1L << 40).toDouble / den))) // clamped, day-0 credit
    assert(got(11L) === ((1L, (1L << 39).toDouble / den)))
    assert(got.values.forall(_._2 > 0.0))
    // 9 same-day sessions at the permitted maxDays=60: 9·2^60 > 2^63
    // overflows a long sum negative — the decimal normalizer must not
    val sameDay = journeys((1 to 9).map(i => (7L, i.toLong, 100L + i, Day)))
    val w = Attribution.timeDecay(sameDay, maxDays = 60)
      .select($"decay_weight").as[Double].collect()
    assert(w.length === 9)
    assert(w.forall(x => x > 0.0 && x <= 1.0))
    assert(math.abs(w.sum - 1.0) < 1e-12)
  }

  test("positionBased: U-shape 40/20/40; rationals sum exactly to the denominator") {
    val j = journeys((1 to 5).map(i => (1L, i.toLong, i * 1000L, 100 * Day)) ++
      Seq((2L, 10L, 0L, Day), (3L, 20L, 0L, Day), (3L, 21L, 5L, Day)))
    val got = Attribution.positionBased(j)
      .select($"conversion_id", $"session_id", $"w_num", $"w_den", $"position_weight")
      .as[(Long, Long, Long, Long, Double)].collect()
    val j1 = got.filter(_._1 == 1L).sortBy(_._2)
    assert(j1.map(_._3).toSeq === Seq(12L, 2L, 2L, 2L, 12L)) // 4(n-2)=12, mid 2
    assert(j1.map(_._4).distinct.toSeq === Seq(30L))         // 10(n-2)
    assert(j1.map(_._3).sum === 30L)                         // exact sum = den
    assert(got.filter(_._1 == 2L).map(r => (r._3, r._4)).toSeq === Seq((10L, 10L)))
    assert(got.filter(_._1 == 3L).map(r => (r._3, r._4)).sorted.toSeq ===
      Seq((5L, 10L), (5L, 10L)))
    // U-shape: ends above middles
    assert(j1.head._5 > j1(1)._5 && j1.last._5 > j1(2)._5)
  }

  test("randomized: per-journey rational weights always sum to the denominator") {
    val rng = new Random(29)
    val rows = (1 to 400).map { i =>
      (rng.nextInt(40).toLong, i.toLong, rng.nextInt(1000000).toLong, 2000000L)
    }
    val pos = Attribution.positionBased(journeys(rows))
      .select($"conversion_id", $"w_num", $"w_den")
      .as[(Long, Long, Long)].collect()
    pos.groupBy(_._1).foreach { case (cid, rs) =>
      assert(rs.map(_._2).sum === rs.head._3, s"journey $cid")
      assert(rs.map(_._3).distinct.length === 1)
    }
  }
}

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val keys = (1L to 300L).map(i => i % 37).toDF("k") // skewed counts

  test("count-min never undercounts; a wide sketch is exact") {
    val truth = keys.groupBy($"k").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val narrow = Sketches.countMinEstimate(
      Sketches.countMinBuild(keys, "k", depth = 4, width = 8),
      keys.distinct(), "k", depth = 4, width = 8)
      .as[(Long, Long)].collect().toMap
    narrow.foreach { case (k, est) => assert(est >= truth(k), s"undercount at $k") }
    val wide = Sketches.countMinEstimate(
      Sketches.countMinBuild(keys, "k", depth = 4, width = 4096),
      keys.distinct(), "k", depth = 4, width = 4096)
      .as[(Long, Long)].collect().toMap
    assert(wide === truth, "4096 buckets for 37 keys should collide nowhere")
  }

  test("count-min sketches merge: union+re-sum equals the single build") {
    val a = keys.filter($"k" < 20)
    val b = keys.filter($"k" >= 20)
    val merged = Sketches.countMinBuild(a, "k").unionByName(Sketches.countMinBuild(b, "k"))
      .groupBy($"sk_row", $"sk_bucket").agg(sum($"sk_count").as("sk_count"))
      .as[(Int, Long, Long)].collect().toSet
    val whole = Sketches.countMinBuild(keys, "k")
      .as[(Int, Long, Long)].collect().toSet
    assert(merged === whole)
  }

  test("bloom: no false negatives; saturation only ever ADDS positives") {
    val build = (1L to 40L).toDF("k")
    val probe = (1L to 200L).toDF("k")
    val got = Sketches.bloomMightContain(
      Sketches.bloomBuild(build, "k", k = 3, bits = 512),
      probe, "k", k = 3, bits = 512)
      .as[(Long, Long)].collect().toMap
    (1L to 40L).foreach(k => assert(got(k) === 1L, s"false negative at $k"))
    // a tiny filter saturates: members still all pass, non-members may flip 0→1
    val tiny = Sketches.bloomMightContain(
      Sketches.bloomBuild(build, "k", k = 3, bits = 16),
      probe, "k", k = 3, bits = 16)
      .as[(Long, Long)].collect().toMap
    (1L to 40L).foreach(k => assert(tiny(k) === 1L))
    (41L to 200L).foreach(k => assert(tiny(k) >= got(k)))
  }

  test("bloom: NULL probe keys are annotated 0, not silently NULL") {
    // a NULL key hashes to NULL and can never light a bit at build time,
    // so the total contract is might_contain = 0 — a NULL instead would
    // make BOTH === 1 and === 0 downstream filters drop the row
    val build = (1L to 10L).toDF("k")
    val probe = Seq(Some(5L), None, Some(999L)).toDF("k")
    val got = Sketches.bloomMightContain(
      Sketches.bloomBuild(build, "k", k = 3, bits = 512),
      probe, "k", k = 3, bits = 512)
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1)).toMap
    assert(got(Some(5L)) === 1L)
    assert(got(None) === 0L)
    assert(got.contains(Some(999L))) // non-member annotated (0 or collision 1), never dropped
  }
}

class PercentileRankSpec extends SparkSpec {
  import spark.implicits._

  test("matches Spark's percent_rank under the same total order; singleton pins 0") {
    val rng = new Random(31)
    val random = (1 to 300).map(i =>
      (i.toLong, Option(s"g${rng.nextInt(5)}"), Option(rng.nextInt(40).toDouble)))
    // hostile rows: NULL values (sort first), a NULL group key (its own
    // group), NaN (sorts after every double, ties by id) and ±∞, a
    // constant group (every row ties on v), and a singleton
    val hostile: Seq[(Long, Option[String], Option[Double])] = Seq(
      (1001L, Some("nulls"), None), (1002L, Some("nulls"), Some(5.0)), (1003L, Some("nulls"), None),
      (1011L, None, Some(2.0)), (1012L, None, Some(1.0)),
      (1021L, Some("nan"), Some(Double.NaN)), (1022L, Some("nan"), Some(1.0)),
      (1023L, Some("nan"), Some(Double.NaN)), (1024L, Some("nan"), Some(-1.0)),
      (1031L, Some("inf"), Some(Double.PositiveInfinity)), (1032L, Some("inf"), Some(0.0)),
      (1033L, Some("inf"), Some(Double.NegativeInfinity)), (1034L, Some("inf"), None),
      (1035L, Some("inf"), Some(Double.NaN)),
      (1041L, Some("allnan"), Some(Double.NaN)), (1042L, Some("allnan"), Some(Double.NaN))) ++
      (1051L to 1060L).map(i => (i, Some("const"), Some(42.0))) :+
      ((999L, Some("solo"), Some(7.0)))
    val df = (random ++ hostile).toDF("id", "g", "v")
    val got = Quantiles.percentileRank(df, "g", "v", "id")
      .select($"id", $"rank", $"n_rows", $"pct_rank")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"g").orderBy($"v", $"id")
    val expect = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"g")))
      .withColumn("pr", percent_rank().over(w))
      .select($"id", $"rn", $"n", $"pr").as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size.toLong === df.count())
    got.foreach { case (id, (_, rank, n, pr)) =>
      assert((id, rank, n, pr) === expect(id), s"id $id")
    }
    assert(got(999L) === ((999L, 1L, 1L, 0.0)))
    // the tails: NULL first, NaN last, a constant group ranks by id
    assert(got(1001L)._2 === 1L && got(1003L)._2 === 2L)
    assert(got(1021L)._4 === 2.0 / 3 && got(1023L)._4 === 1.0)
    assert(got(1034L)._2 === 1L && got(1033L)._2 === 2L && got(1035L)._4 === 1.0)
    assert((1051L to 1060L).map(got(_)._2) === (1L to 10L))
  }
}

class MarkovAttributionSpec extends SparkSpec {
  import spark.implicits._

  private def journeys(rows: Seq[(Long, Long, Long, String)]) =
    rows.toDF("conversion_id", "session_id", "us", "channel_label")
      .select($"conversion_id", $"session_id",
        timestamp_micros($"us").as("session_ts"), $"channel_label")

  test("hand chain: exact fixed-point reach and removal effects") {
    // conv 1: A -> B -> CONV ; conv 2: A -> CONV
    val j = journeys(Seq(
      (1L, 1L, 10L, "A"), (1L, 2L, 20L, "B"),
      (2L, 3L, 10L, "A")))
    val got = MarkovAttribution.removalEffects(spark, j)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // p6: START->A = 1e6; A->B = A->CONV = 5e5; B->CONV = 1e6
    // base: step1 A=1e6; step2 B=5e5, CONV+=5e5; step3 CONV+=5e5 → 1e6
    assert(got("A") === (("A", 1000000L, 0L, 1000000L)))       // cutting A kills all
    assert(got("B") === (("B", 1000000L, 500000L, 500000L)))   // A->CONV leg survives, unrenormalized
  }

  test("channels literally named CONV or START are channels, not absorbing states") {
    // internal labels are prefix-escaped, so the synthetic states cannot
    // be spoofed: a channel named "CONV" must appear in the output with a
    // real removal effect instead of silently absorbing conversion mass
    // (and being dropped from the report entirely)
    val j = journeys(Seq(
      (1L, 1L, 10L, "CONV"), (1L, 2L, 20L, "B"),
      (2L, 3L, 10L, "START")))
    val got = MarkovAttribution.removalEffects(spark, j)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set("CONV", "B", "START"))
    // the "CONV"-named channel heads journey 1: cutting it kills that
    // journey's mass but not journey 2's
    assert(got("CONV")._4 > 0L)
    assert(got("START")._4 > 0L)
  }

  test("randomized: removal never increases reach; effects bounded by base") {
    val rng = new Random(37)
    val chans = Vector("view", "click", "signup", "error")
    val rows = (1 to 60).flatMap { cid =>
      val len = 1 + rng.nextInt(5)
      (1 to len).map(p => (cid.toLong, (cid * 10 + p).toLong,
        p * 1000L + rng.nextInt(100), chans(rng.nextInt(4))))
    }
    val out = MarkovAttribution.removalEffects(spark, journeys(rows))
      .as[(String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (c, base, removed, effect) =>
      assert(removed <= base, s"$c: removal increased reach")
      assert(effect === base - removed)
      assert(removed >= 0 && base <= MarkovAttribution.Scale)
    }
  }
}

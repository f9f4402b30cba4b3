package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.funnel.Funnel
import graft.maef.{MaefJourneys, MaefReporting}

class JourneysSpec extends SparkSpec {
  import spark.implicits._

  test("journey join equals filter-of-cross-join reference implementation") {
    val ev = Tables.events(spark, TinySf).limit(500).cache()
    val conv = Funnel.conversions(ev)
    val sess = Funnel.sessions(ev)
    val got = Journeys.construct(conv, sess)
      .select("conversion_id", "session_id").as[(Long, Long)].collect().toSet
    val want = conv.crossJoin(sess.withColumnRenamed("user_id", "s_user_id"))
      .filter(col("user_id") === col("s_user_id") && col("session_ts") < col("conv_ts"))
      .select($"conv_id", $"session_id").as[(Long, Long)].collect().toSet
    assert(got === want)
    ev.unpersist()
  }

  test("MAEF string-timestamp join: lexicographic equals chronological for padded ISO") {
    val conv = Seq(("c1", "u1", "2023-08-02", "10:00:00", 100.0))
      .toDF("conv_id", "user_id", "conv_date", "conv_time", "revenue")
    val sess = Seq(
      ("s_before", "u1", "2023-08-02", "09:59:59", "Direct", 1, 0, 0),
      ("s_equal", "u1", "2023-08-02", "10:00:00", "Direct", 1, 0, 0),
      ("s_after", "u1", "2023-08-02", "10:00:01", "Direct", 1, 0, 0),
      ("s_prev_day", "u1", "2023-07-31", "23:00:00", "Email", 0, 1, 0),
      ("s_other_user", "u2", "2023-08-01", "09:00:00", "Direct", 1, 0, 0))
      .toDF("session_id", "user_id", "event_date", "event_time",
        "channel_name", "holder_engagement", "closer_engagement", "impression_interaction")
    val strict = MaefJourneys.transform(conv, sess)
    assert(strict.select("session_id").as[String].collect().toSet
      === Set("s_before", "s_prev_day"))
    assert(strict.filter(col("conversion") =!= 0).count() === 0)
    // inclusive (v1-style) picks up the converting session with flag 1
    val inclusive = MaefJourneys.transform(conv, sess, inclusive = true)
    assert(inclusive.filter(col("conversion") === 1)
      .select("session_id").as[String].collect().toSet === Set("s_equal"))
    // v1 lookback window drops the out-of-window session
    val windowed = MaefJourneys.transform(conv, sess, lookbackDays = Some(1))
    assert(windowed.select("session_id").as[String].collect().toSet === Set("s_before"))
  }
}

class AttributionSpec extends SparkSpec {
  import spark.implicits._

  test("ihc weights: per-journey sum is 1, single-session journey gets 1.0") {
    val ev = Tables.events(spark, TinySf)
    val j = Journeys.construct(Funnel.conversions(ev), Funnel.sessions(ev))
    val attributed = Attribution.ihc(j)
    val sums = attributed.groupBy(col("conversion_id"))
      .agg(sum(col("ihc")).as("s"), count(lit(1)).as("n"))
    assert(sums.filter(abs(col("s") - 1.0) > 1e-9).count() === 0)
    assert(attributed.filter(col("journey_len") === 1 && col("ihc") =!= 1.0).count() === 0)
    // weights are non-negative and ≤ 1
    assert(attributed.filter(
      col("initializer") < 0 || col("holder") < 0 || col("closer") < 0 ||
        col("ihc") < 0 || col("ihc") > 1.0 + 1e-12).count() === 0)
  }
}

class RedistributionSpec extends SparkSpec {
  import spark.implicits._

  // a 3-session journey: Direct (donor) in the middle, holder weights equal
  private def journey() = Seq(
    ("c1", "s1", "2023-08-01 09:00:00", "Email", 0),
    ("c1", "s2", "2023-08-01 10:00:00", "Direct", 0),
    ("c1", "s3", "2023-08-01 11:00:00", "Referral", 0))
    .toDF("conversion_id", "session_id", "session_ts", "channel_label", "holder_engagement")

  test("redistribution preserves per-journey mass and zeroes donors") {
    val attributed = Attribution.ihc(journey())
    val out = Attribution.redistribute(attributed).cache()
    // donor channels carry no credit afterwards
    val direct = out.filter(col("channel_label") === "Direct").first()
    assert(direct.getAs[Double]("initializer") === 0.0)
    assert(direct.getAs[Double]("holder") === 0.0)
    assert(direct.getAs[Double]("closer") === 0.0)
    // each component's journey total is preserved (receivers existed)
    for (c <- Seq("initializer", "holder", "closer", "ihc")) {
      val before = attributed.agg(sum(col(c))).first().getDouble(0)
      val after = out.agg(sum(col(c))).first().getDouble(0)
      assert(math.abs(before - after) < 1e-9, s"$c mass changed: $before -> $after")
    }
    out.unpersist()
  }

  test("direction rules constrain receivers") {
    val out = Attribution.redistribute(Attribution.ihc(journey())).cache()
    // closer ('later_sessions_only' from Direct at pos 2): only s3 receives;
    // s3 already held closer=1.0, Direct held 0 → unchanged
    assert(out.filter(col("session_id") === "s3").first().getAs[Double]("closer") === 1.0)
    // initializer ('earlier_sessions_only'): s1 held 1.0, Direct held 0 → unchanged
    assert(out.filter(col("session_id") === "s1").first().getAs[Double]("initializer") === 1.0)
    // holder ('any_session'): Direct's 1/3 splits pro-rata over s1+s3 (1/3 each)
    val holders = out.select(col("session_id"), col("holder"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(holders("s1") - 0.5) < 1e-9)
    assert(math.abs(holders("s3") - 0.5) < 1e-9)
    out.unpersist()
  }

  test("per-donor spreading: each donor respects its own direction window") {
    // 4 equal-holder sessions; Direct donors at positions 2 and 4 under an
    // earlier_sessions_only rule. Donor@2 can only reach s1; donor@4
    // reaches s1 and s3 pro-rata. Hand-computed:
    //   s1 = 1/4 + 1/4 (all of donor@2) + 1/8 (half of donor@4) = 5/8
    //   s3 = 1/4 + 1/8 = 3/8
    // An earliest-donor-pooled approximation would give (3/4, 1/4) instead.
    val j = Seq(
      ("c1", "s1", "2023-08-01 09:00:00", "Email", 0),
      ("c1", "s2", "2023-08-01 10:00:00", "Direct", 0),
      ("c1", "s3", "2023-08-01 11:00:00", "Referral", 0),
      ("c1", "s4", "2023-08-01 12:00:00", "Direct", 0))
      .toDF("conversion_id", "session_id", "session_ts", "channel_label", "holder_engagement")
    val out = Attribution.redistribute(
      Attribution.ihc(j),
      rules = Map("holder" ->
        Attribution.Redistribution("earlier_sessions_only", 0.0, Seq("Direct")))).cache()
    val holders = out.select(col("session_id"), col("holder"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(holders("s1") - 0.625) < 1e-9)
    assert(math.abs(holders("s3") - 0.375) < 1e-9)
    assert(holders("s2") === 0.0 && holders("s4") === 0.0)
    out.unpersist()
  }

  test("window formulation equals a naive per-donor reference (randomized)") {
    val channels = Vector("Direct", "Email_NewsLetter", "TV", "Search", "Social")
    val rules = Attribution.ReferenceRedistribution
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      val rows = (1 to 25).flatMap { j =>
        val len = 1 + rng.nextInt(10)
        (1 to len).map { p =>
          (s"c$j", f"s$j%02d$p%02d", f"2023-08-01 ${9 + p}%02d:00:00",
            channels(rng.nextInt(channels.length)), rng.nextInt(2))
        }
      }
      val df = rows.toDF("conversion_id", "session_id", "session_ts", "channel_label", "holder_engagement")
      val attributed = Attribution.ihc(df).cache()
      val out = Attribution.redistribute(attributed)
        .select(col("conversion_id"), col("session_id"),
          col("initializer"), col("holder"), col("closer"))
        .as[(String, String, Double, Double, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

      // naive reference: loop donors explicitly, spread pairwise
      case class R(cid: String, sid: String, pos: Int, ch: String, var c: Map[String, Double])
      val base = attributed
        .select(col("conversion_id"), col("session_id"), col("journey_pos"),
          col("channel_label"), col("initializer"), col("holder"), col("closer"))
        .as[(String, String, Int, String, Double, Double, Double)].collect()
        .map(r => R(r._1, r._2, r._3, r._4,
          Map("initializer" -> r._5, "holder" -> r._6, "closer" -> r._7)))
      val byJourney = base.groupBy(_.cid)
      val expect = byJourney.values.flatMap { js =>
        val sorted = js.sortBy(_.pos)
        rules.foreach { case (comp, rule) =>
          val orig = sorted.map(r => r.sid -> r.c(comp)).toMap
          val upd = scala.collection.mutable.Map(orig.toSeq: _*)
          sorted.foreach { d =>
            val dc = orig(d.sid)
            if (rule.channels.contains(d.ch) && dc > 0) {
              val recv = sorted.filter { r =>
                !rule.channels.contains(r.ch) && orig(r.sid) >= rule.receiveThreshold &&
                  (rule.direction match {
                    case "earlier_sessions_only" => r.pos < d.pos
                    case "later_sessions_only"   => r.pos > d.pos
                    case _                       => true
                  })
              }
              if (recv.nonEmpty) {
                val emass = recv.map(r => orig(r.sid)).sum
                recv.foreach { r =>
                  val share = if (emass > 0) dc * orig(r.sid) / emass else dc / recv.length
                  upd(r.sid) += share
                }
                upd(d.sid) -= dc
              }
            }
          }
          sorted.foreach(r => r.c = r.c + (comp -> upd(r.sid)))
        }
        sorted.map(r => (r.cid, r.sid) -> (r.c("initializer"), r.c("holder"), r.c("closer")))
      }.toMap

      expect.foreach { case (k, (ei, eh, ec)) =>
        val (gi, gh, gc) = out(k)
        assert(math.abs(gi - ei) < 1e-8, s"seed=$seed $k initializer: $gi vs $ei")
        assert(math.abs(gh - eh) < 1e-8, s"seed=$seed $k holder: $gh vs $eh")
        assert(math.abs(gc - ec) < 1e-8, s"seed=$seed $k closer: $gc vs $ec")
      }
      attributed.unpersist()
    }
  }

  test("a donor with no receiver on its side keeps its mass") {
    // last-position Direct donor under later_sessions_only: nobody is later,
    // so its closer mass must NOT vanish.
    val j = Seq(
      ("c1", "s1", "2023-08-01 09:00:00", "Email", 0),
      ("c1", "s2", "2023-08-01 10:00:00", "Direct", 0))
      .toDF("conversion_id", "session_id", "session_ts", "channel_label", "holder_engagement")
    val out = Attribution.redistribute(
      Attribution.ihc(j),
      rules = Map("closer" ->
        Attribution.Redistribution("later_sessions_only", 0.1, Seq("Direct")))).cache()
    val closers = out.select(col("session_id"), col("closer"))
      .as[(String, Double)].collect().toMap
    assert(closers("s2") === 1.0) // kept: no later receiver
    assert(closers("s1") === 0.0)
    out.unpersist()
  }
}

class ReportingSpec extends SparkSpec {
  import spark.implicits._

  test("fanout mode reproduces the reference's chasm-trap double counting (J6)") {
    // one channel-day with 2 attribution rows and 2 cost rows:
    // fanout sums cost 2× (once per attribution row) and ihc 2× (once per
    // cost row); strict mode sums each exactly once.
    val acj = Seq(("c1", "s1", 0.6), ("c1", "s2", 0.4)).toDF("conv_id", "session_id", "ihc")
    val sessions = Seq(
      ("s1", "u1", "2023-08-01", "09:00:00", "Direct", 1, 0, 0),
      ("s2", "u1", "2023-08-01", "10:00:00", "Direct", 1, 0, 0))
      .toDF("session_id", "user_id", "event_date", "event_time",
        "channel_name", "holder_engagement", "closer_engagement", "impression_interaction")
    val costs = Seq(("s1", 10.0), ("s2", 30.0)).toDF("session_id", "cost")
    val conv = Seq(("c1", "u1", "2023-08-01", "11:00:00", 100.0))
      .toDF("conv_id", "user_id", "conv_date", "conv_time", "revenue")

    val fanout = MaefReporting.channelReport(acj, sessions, costs, conv, fanout = true)
      .select("cost", "ihc", "ihc_revenue").first()
    assert(fanout.getDouble(0) === 80.0)  // (10+30) × 2 attribution rows
    assert(fanout.getDouble(1) === 2.0)   // (0.6+0.4) × 2 cost rows
    assert(fanout.getDouble(2) === 200.0) // 100×(0.6+0.4) × 2

    val strict = MaefReporting.channelReport(acj, sessions, costs, conv, fanout = false)
      .select("cost", "ihc", "ihc_revenue").first()
    assert(strict.getDouble(0) === 40.0)
    assert(strict.getDouble(1) === 1.0)
    assert(strict.getDouble(2) === 100.0)
  }

  test("HAVING semantics: 'unknown' channel and pre-min-conv-date rows are dropped (A3/P6)") {
    val acj = Seq(("c1", "s1", 1.0), ("c1", "s2", 1.0)).toDF("conv_id", "session_id", "ihc")
    val sessions = Seq(
      ("s1", "u1", "", "09:00:00", "", 1, 0, 0),           // '' channel → 'unknown' → dropped
      ("s2", "u1", "2020-01-01", "09:00:00", "Direct", 1, 0, 0)) // before min conv_date → dropped
      .toDF("session_id", "user_id", "event_date", "event_time",
        "channel_name", "holder_engagement", "closer_engagement", "impression_interaction")
    val costs = Seq.empty[(String, Double)].toDF("session_id", "cost")
    val conv = Seq(("c1", "u1", "2023-08-01", "11:00:00", 100.0))
      .toDF("conv_id", "user_id", "conv_date", "conv_time", "revenue")
    val rep = MaefReporting.channelReport(acj, sessions, costs, conv)
    // '' event_date falls back to conv_date (>= min) but channel is 'unknown';
    // the 2020 Direct row fails the date HAVING → nothing survives
    assert(rep.count() === 0)
    // minDateFilter = false keeps the pre-window Direct attribution
    val unfiltered = MaefReporting.channelReport(
      acj, sessions, costs, conv, minDateFilter = false)
    assert(unfiltered.count() === 1)
    assert(unfiltered.first().getAs[String]("channel_name") === "Direct")
  }

  test("a journey-shaped attribution frame is projected to its key and measure") {
    // attribution straight off a journey join carries the journey's
    // columns next to ihc, among them a `revenue` that must not collide
    // with the conversions' own
    val acj = Seq(("c1", "s1", "u1", "Direct", 100.0, 0.6), ("c1", "s2", "u1", "Direct", 100.0, 0.4))
      .toDF("conv_id", "session_id", "user_id", "channel_label", "revenue", "ihc")
    val sessions = Seq(
      ("s1", "u1", "2023-08-01", "09:00:00", "Direct", 1, 0, 0),
      ("s2", "u1", "2023-08-01", "10:00:00", "Email", 0, 1, 0))
      .toDF("session_id", "user_id", "event_date", "event_time",
        "channel_name", "holder_engagement", "closer_engagement", "impression_interaction")
    val costs = Seq(("s1", 10.0)).toDF("session_id", "cost")
    val conv = Seq(("c1", "u1", "2023-08-01", "11:00:00", 50.0))
      .toDF("conv_id", "user_id", "conv_date", "conv_time", "revenue")
    val rep = MaefReporting.channelReport(acj, sessions, costs, conv, fanout = false, exactSums = true)
      .orderBy("channel_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // the revenue is the conversion's 50.0, the channel the session's
    assert(rep.toSeq === Seq(
      ("Direct", "2023-08-01", 10.0, 0.6, 30.0),
      ("Email", "2023-08-01", 0.0, 0.4, 20.0)))
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("gap sessionization splits on >30min gaps per user") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "view", 1.0, "{}"),
      (2L, "2024-01-01 10:10:00", 7L, "click", 1.0, "{}"),   // same session
      (3L, "2024-01-01 11:00:00", 7L, "view", 1.0, "{}"),    // 50min gap → new
      (4L, "2024-01-01 10:05:00", 8L, "view", 1.0, "{}"))    // other user
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val s = Sessionize.sessions(ev)
    assert(s.filter(col("user_id") === 7).count() === 2)
    assert(s.filter(col("user_id") === 8).count() === 1)
    val first = s.filter(col("user_id") === 7 && col("session_num") === 1).first()
    assert(first.getAs[Long]("n_events") === 2)
    assert(first.getAs[Long]("duration_us") === 600000000L)
  }
}

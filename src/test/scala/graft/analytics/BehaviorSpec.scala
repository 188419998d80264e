package graft.analytics

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

class BehaviorSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("funnel counts only steps in order") {
    val s = spark
    import s.implicits._
    // user 1 completes the funnel in order; user 2 clicks BEFORE first view
    // (must not count at the click level); user 3 skips click entirely (the
    // purchase must not count without the click level); user 4 never views.
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (1L, ts("2024-01-01 10:10:00"), "purchase"),
      (2L, ts("2024-01-01 09:00:00"), "click"),
      (2L, ts("2024-01-01 09:30:00"), "view"),
      (3L, ts("2024-01-01 08:00:00"), "view"),
      (3L, ts("2024-01-01 08:30:00"), "purchase"),
      (4L, ts("2024-01-01 07:00:00"), "click"),
    ).toDF("user_id", "ts", "event_type")
    val row = Behavior.funnel(events, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")).collect().head
    assert(row.getAs[Long]("n_view") === 3)
    assert(row.getAs[Long]("n_click") === 1)
    assert(row.getAs[Long]("n_purchase") === 1)
  }

  test("windowed funnel drops conversions outside the gap") {
    val s = spark
    import s.implicits._
    // user 1 converts within the 1-hour window; user 2's click comes 2 hours
    // after the first view — outside the window, not counted.
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:30:00"), "click"),
      (2L, ts("2024-01-01 09:00:00"), "view"),
      (2L, ts("2024-01-01 11:00:01"), "click"),
    ).toDF("user_id", "ts", "event_type")
    val row = Behavior.funnel(events, "user_id", "ts", "event_type",
      Seq("view", "click"), maxGapSeconds = Some(3600L)).collect().head
    assert(row.getAs[Long]("n_view") === 2)
    assert(row.getAs[Long]("n_click") === 1)
  }

  test("funnel step counts are monotonically non-increasing on the feed") {
    val row = Behavior.funnel(graft.Tables(spark, sf001).events,
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .collect().head
    val (v, c, p) = (row.getAs[Long]("n_view"), row.getAs[Long]("n_click"),
      row.getAs[Long]("n_purchase"))
    assert(v > 0 && v >= c && c >= p)
  }

  test("cohort retention: offset-0 row equals cohort size, offsets non-negative") {
    val events = graft.Tables(spark, sf001).events
    val ret = Behavior.cohortRetention(events, "user_id", "ts")
    assert(ret.filter(col("week_offset") < 0).isEmpty)
    // every user is active in their own first week, so the offset-0 rows
    // partition the full user population
    val atZero = ret.filter(col("week_offset") === 0)
      .agg(sum("n_users")).collect().head.getLong(0)
    val nUsers = events.select("user_id").distinct().count()
    assert(atZero === nUsers)
  }

  test("transition matrix conserves mass: transitions = events - users") {
    val events = graft.Tables(spark, sf001).events
    val m = Behavior.transitionMatrix(events, "user_id", "ts", "event_type",
      "event_id")
    val total = m.agg(sum("n_transitions")).collect().head.getLong(0)
    // each user's timeline of k events yields exactly k-1 transitions
    val nEvents = events.count()
    val nUsers = events.select("user_id").distinct().count()
    assert(total === nEvents - nUsers)
  }

  test("date spine fill is dense: one row per day, flat revenue preserved") {
    val q = SparkEntry.queries("a30_date_spine_fill")
    val out = q(spark, sf001).collect()
    // o_orderdate is TIMESTAMP_NTZ in the testdata parquet
    val days = out.map(_.getAs[java.time.LocalDateTime](0).toLocalDate)
    assert(days.length ===
      java.time.temporal.ChronoUnit.DAYS.between(days.head, days.last) + 1)
    val orders = graft.Tables(spark, sf001).orders
    val flat = orders.agg(graft.Ops.dsum(
      org.apache.spark.sql.functions.col("o_totalprice"))).collect().head.getDouble(0)
    assert(math.abs(out.map(_.getDouble(1)).sum - flat) < 1e-6 * flat)
  }

  test("cohort value totals match a flat purchase sum") {
    val events = graft.Tables(spark, sf001).events
    val cv = Behavior.cohortValue(events, "user_id", "ts", "event_type",
      "value", anchorType = "signup", valueType = "purchase")
    // cohorts partition the signup users; purchases by non-signup users are
    // excluded — the flat twin computed independently must agree
    val viaCohorts = cv.agg(sum("n_purchases")).collect().head.getLong(0)
    val signedUp = events.filter(col("event_type") === "signup")
      .select("user_id").distinct()
    val flat = events.filter(col("event_type") === "purchase")
      .join(signedUp, "user_id").count()
    assert(viaCohorts === flat)
  }

  test("interval union merges overlaps into islands and sums exact coverage") {
    val s = spark
    import s.implicits._
    // user 1: events at 10:00, 10:10 (overlapping 30-min intervals => one
    // island 10:00-10:40), and 12:00 (separate island). user 2: one event.
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 10:10:00"), 101L),
      (1L, ts("2024-01-01 12:00:00"), 102L),
      (2L, ts("2024-01-01 09:00:00"), 103L),
    ).toDF("user_id", "ts", "event_id")
    val out = Behavior.intervalUnion(events, "user_id", "ts", "event_id", 30)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_islands") === 2L)
    assert(out(1L).getAs[Long]("n_events") === 3L)
    // island 1 covers 40 min, island 2 covers 30 min => 70 min total
    assert(out(1L).getAs[Long]("covered_us") === 70L * 60 * 1000000)
    assert(out(2L).getAs[Long]("covered_us") === 30L * 60 * 1000000)
  }

  test("ewma: first row is the raw value, later rows match the hand formula") {
    val s = spark
    import s.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 1.0),
      (1L, ts("2024-01-01 10:01:00"), 2L, 2.0),
      (1L, ts("2024-01-01 10:02:00"), 3L, 4.0),
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Behavior.ewma(events, "user_id", "ts", "event_id", "value",
      alpha = 0.3, horizon = 8)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out(1L) === 1.0)
    // (2 + 1*0.7) / 1.7
    assert(math.abs(out(2L) - 2.7 / 1.7) < 1e-6)
    // (4 + 2*0.7 + 1*0.49) / (1 + 0.7 + 0.49)
    assert(math.abs(out(3L) - (4 + 1.4 + 0.49) / 2.19) < 1e-6)
  }

  test("seasonal anomaly: planted spike flags, head and zero-variance don't") {
    val s = spark
    import s.implicits._
    // five consecutive Mondays (2024-01-01 is a Monday): baseline 10,12,10,12
    // then a 100 spike; plus two Tuesdays with IDENTICAL revenue (zero
    // variance -> z must be NULL, not a division error or an Inf flag)
    val events = Seq(
      ts("2024-01-01 10:00:00") -> 4.0, ts("2024-01-01 11:00:00") -> 6.0,
      ts("2024-01-08 10:00:00") -> 12.0,
      ts("2024-01-15 10:00:00") -> 10.0,
      ts("2024-01-22 10:00:00") -> 12.0,
      ts("2024-01-29 10:00:00") -> 100.0,
      ts("2024-01-02 10:00:00") -> 7.0,
      ts("2024-01-09 10:00:00") -> 7.0,
      ts("2024-01-16 10:00:00") -> 7.0,
    ).toDF("ts", "value")
    val out = Behavior.seasonalAnomaly(events, "ts", "value")
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(2), Option(r.get(4)).map(_.asInstanceOf[Double]),
          r.getBoolean(5))).toMap

    val (n0, z0, f0) = out("2024-01-01")            // series head: no history
    assert(n0 === 0L && z0.isEmpty && !f0)
    val (n1, z1, f1) = out("2024-01-29")            // the planted spike
    val mu = (10.0 + 12 + 10 + 12) / 4
    val sd = math.sqrt((math.pow(10 - mu, 2) * 2 + math.pow(12 - mu, 2) * 2) / 3)
    assert(n1 === 4L && f1)
    assert(math.abs(z1.get - (100 - mu) / sd) < 1e-3)
    val (n2, z2, f2) = out("2024-01-09")            // single-row history
    assert(n2 === 1L && z2.isEmpty && !f2)
    val (n3, z3, f3) = out("2024-01-16")            // zero-variance baseline
    assert(n3 === 2L && z3.isEmpty && !f3)
  }

  test("activity streaks split on gaps and ignore same-day repeats") {
    val s = spark
    import s.implicits._
    // user 1: days 1,2,3 then 5,6 (two streaks, longest 3; a second event
    // on day 2 must not double-count); user 2: one isolated day
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-02 09:00:00")),
      (1L, ts("2024-01-02 23:00:00")), (1L, ts("2024-01-03 01:00:00")),
      (1L, ts("2024-01-05 12:00:00")), (1L, ts("2024-01-06 12:00:00")),
      (2L, ts("2024-02-10 08:00:00")),
    ).toDF("user_id", "ts")
    val out = Behavior.activityStreaks(events, "user_id", "ts")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(1L -> ((5L, 2L, 3L)), 2L -> ((1L, 1L, 1L))))
  }

  test("cumulative actives counts each user once, at first appearance") {
    val s = spark
    import s.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-03 10:00:00")),                 // returning, not new
      (3L, ts("2024-01-03 10:00:00")),
    ).toDF("user_id", "ts")
    val out = Behavior.cumulativeActives(events, "user_id", "ts")
      .orderBy("day").collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2))))
    assert(out.toSeq === Seq("2024-01-01" -> ((2L, 2L)),
      "2024-01-03" -> ((1L, 3L))))
  }

  test("association rules match the hand-computed support/confidence/lift") {
    val s = spark
    import s.implicits._
    // 4 users: {a,b}, {a,b}, {a}, {b,c}  ->  N=4, n_a=3, n_b=3, n_c=1
    val events = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (2L, "b"),
      (3L, "a"), (4L, "b"), (4L, "c"),
    ).toDF("user_id", "event_type")
    val out = Behavior.associationRules(events, "user_id", "event_type",
      minSupport = 0.0).collect()
      .map(r => (r.getString(0), r.getString(1)) ->  // (antecedent, consequent)
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // a=>b: both=2, support 0.5, confidence 2/3, lift (2*4)/(3*3)
    assert(out(("a", "b")) === ((2L, 0.5, 0.666667, 0.888889)))
    // c=>b: both=1, support 0.25, confidence 1, lift (1*4)/(1*3)
    assert(out(("c", "b")) === ((1L, 0.25, 1.0, 1.333333)))
    assert(!out.contains(("c", "a")))               // never co-occur: no rule
  }

  test("kaplan-meier: censoring holds the curve, events step it down") {
    val s = spark
    import s.implicits._
    // max day = Jan 20, censor horizon 2 days => churned iff last < Jan 18.
    // u1,u2: t=2 churned; u3: t=4 churned; u4: t=10 censored (last Jan 19);
    // u5: t=1 censored (defines the max day)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-02 10:00:00")),
      (2L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-02 10:00:00")),
      (3L, ts("2024-01-05 10:00:00")), (3L, ts("2024-01-08 10:00:00")),
      (4L, ts("2024-01-10 10:00:00")), (4L, ts("2024-01-19 10:00:00")),
      (5L, ts("2024-01-20 10:00:00")),
    ).toDF("user_id", "ts")
    val out = Behavior.kaplanMeier(events, "user_id", "ts", censorDays = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // S(1)=1; S(2)=1*(1-2/4)=0.5; S(4)=0.5*(1-1/2)=0.25; S(10)=0.25 (d=0)
    assert(out === Map(
      1L -> ((5L, 0L, 1L, 1.0)),
      2L -> ((4L, 2L, 0L, 0.5)),
      4L -> ((2L, 1L, 0L, 0.25)),
      10L -> ((1L, 0L, 1L, 0.25))))
  }

  test("top paths trim to the first k events in id-tiebroken time order") {
    val s = spark
    import s.implicits._
    // users 1,2 both start view>click>purchase (u2 has a 4th event that
    // must not extend the path); u3 has only two events; u4's two events
    // share a timestamp — event_id breaks the tie deterministically
    val events = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, 2L, ts("2024-01-01 10:01:00"), "click"),
      (1L, 3L, ts("2024-01-01 10:02:00"), "purchase"),
      (2L, 4L, ts("2024-01-02 09:00:00"), "view"),
      (2L, 5L, ts("2024-01-02 09:01:00"), "click"),
      (2L, 6L, ts("2024-01-02 09:02:00"), "purchase"),
      (2L, 7L, ts("2024-01-02 09:03:00"), "error"),
      (3L, 8L, ts("2024-01-03 08:00:00"), "signup"),
      (3L, 9L, ts("2024-01-03 08:01:00"), "view"),
      (4L, 11L, ts("2024-01-04 07:00:00"), "click"),
      (4L, 10L, ts("2024-01-04 07:00:00"), "view"),
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Behavior.topPaths(events, "user_id", "ts", "event_type",
      "event_id", pathLen = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("view>click>purchase", 2L),
      ("signup>view", 1L), ("view>click", 1L)))
  }

  test("last-touch attribution credits the latest prior non-conversion type") {
    val s = spark
    import s.implicits._
    // user 1: view -> click -> purchase(10) => click;
    //         then purchase(5) right after => still click (purchases skip);
    // user 2: purchase(7) with no prior touch => direct
    val events = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "view", 0.0),
      (1L, 2L, ts("2024-01-01 10:05:00"), "click", 0.0),
      (1L, 3L, ts("2024-01-01 10:10:00"), "purchase", 10.0),
      (1L, 4L, ts("2024-01-01 10:15:00"), "purchase", 5.0),
      (2L, 5L, ts("2024-01-01 09:00:00"), "purchase", 7.0),
    ).toDF("user_id", "event_id", "ts", "event_type", "value")
    val out = Behavior.lastTouchAttribution(events, "user_id", "ts",
      "event_type", "event_id", "value", "purchase")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out === Map("click" -> ((2L, 15.0)), "direct" -> ((1L, 7.0))))
  }

  test("percentile reflection: pct(maxD - D, q) == maxD - pct(D, 1-q) bit-exactly") {
    // the identity b12_rfm_segments' anchors pass rests on: exact
    // interpolated percentiles commute with the affine flip, bit-exactly
    // for quarter fractions on small-integer doubles. n = 6 makes every
    // quartile position fractional (h = 1.25 / 2.5 / 3.75), so the
    // interpolation arithmetic itself is exercised, not just order stats.
    val s = spark
    import s.implicits._
    val d = Seq(0.0, 1.0, 3.0, 7.0, 20.0, 100.0).toDF("d")
    val maxD = 100.0
    for (q <- Seq(0.25, 0.5, 0.75)) {
      val direct = d.select(graft.Ops.pct(lit(maxD) - col("d"), q))
        .collect().head.getDouble(0)
      val flipped = d.select(lit(maxD) - graft.Ops.pct(col("d"), 1.0 - q))
        .collect().head.getDouble(0)
      assert(direct === flipped, s"reflection must be exact at q=$q")
    }
  }
}

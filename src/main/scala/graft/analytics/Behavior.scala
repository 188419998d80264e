package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Ops.{Entry, Q}
import graft.Tables

/** Event-behavior analytics over the `events` feed: ordered funnels and
  * cohort retention — the two queries every product-analytics layer runs on
  * top of the reference's event stream (the dashboard's KPI family,
  * `ex04_dashboard/streamlit_app/app.py`, generalized from per-type counts
  * to sequence- and cohort-aware shapes).
  *
  * Scale notes: every shuffle in this module is keyed by the user column —
  * the natural partitioning of behavioral data — and each step's frame
  * shrinks (only converted users survive a level), so the chained joins
  * get cheaper as the funnel deepens. Nothing is ever all-pairs, and no
  * driver-side collection happens.
  */
object Behavior {

  /** Ordered funnel: how many users performed `steps(0)`, then `steps(1)`
    * AT OR AFTER their first `steps(0)`, then `steps(2)` at or after that,
    * and so on. One output row with a `n_<step>` column per step.
    *
    * Each level is "first qualifying timestamp per user": level 1 is a
    * plain keyed min; level i+1 joins the (shrinking) level-i frame back to
    * the events of type `steps(i)` on the user key and keeps the earliest
    * event not before the level-i timestamp. All joins and aggregations
    * share the user key, so at 100 TB the event table shuffles once per
    * level onto the same partitioning (exchange reuse collapses repeats)
    * and the right sides are the already-reduced per-user frames. The final
    * count is a union of the tiny per-level user sets — a conditional
    * aggregate, not a crossJoin of single-row frames (which would plan a
    * BroadcastNestedLoopJoin, banned by the suite-wide plan pin).
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String],
             maxGapSeconds: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val u = col(userCol).as("uid")
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(u).agg(min(col(tsCol)).as("t"))
    // optional conversion window: each step must land within maxGapSeconds
    // of the PREVIOUS step's qualifying time (interval arithmetic, exact at
    // timestamp precision in both engines — no epoch-second truncation)
    def withinGap(ts: Column, t: Column): Column = maxGapSeconds match {
      case Some(g) => ts >= t && ts <= t + expr(s"INTERVAL $g SECOND")
      case None => ts >= t
    }
    val levels = steps.zipWithIndex.tail.scanLeft(first) {
      case (prev, (step, _)) =>
        events.filter(col(typeCol) === step)
          .select(u, col(tsCol).as("__ts"))
          .join(prev, "uid")
          .filter(withinGap(col("__ts"), col("t")))
          .groupBy("uid").agg(min(col("__ts")).as("t"))
    }
    val tagged = levels.zipWithIndex.map { case (lv, i) =>
      lv.select(col("uid"), lit(i).as("__step"))
    }.reduce(_.union(_))
    tagged.agg(
      count(when(col("__step") === 0, 1)).as(s"n_${steps.head}"),
      steps.zipWithIndex.tail.map { case (step, i) =>
        count(when(col("__step") === i, 1)).as(s"n_$step")
      }: _*)
  }

  /** Cohort retention matrix: cohort = the week (Monday-truncated) of the
    * user's FIRST event of any type; for every (cohort_week, week_offset)
    * pair, the number of distinct users from that cohort active `offset`
    * weeks later. The canonical retention triangle.
    *
    * Two keyed shuffles (first-seen agg, then the distinct), one keyed join
    * back — the per-user first-seen frame is orders of magnitude smaller
    * than the event table, and AQE picks a broadcast for it when it fits.
    * Both week columns truncate to Monday 00:00 in Spark and DuckDB, so the
    * day difference is an exact multiple of 7 and the integer division is
    * engine-independent.
    */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firstSeen = events.groupBy(col(userCol).as("uid"))
      .agg(date_trunc("week", min(col(tsCol))).as("cohort_week"))
    events.select(col(userCol).as("uid"), date_trunc("week", col(tsCol)).as("aw"))
      .join(firstSeen, "uid")
      .select(col("uid"), col("cohort_week"),
        (datediff(col("aw"), col("cohort_week")) / 7).cast(LongType).as("week_offset"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Per-cohort conversion value: total purchase value attributed to each
    * signup-week cohort — the "cohort LTV" companion of the retention
    * matrix, demonstrating cohort keys carried through a money aggregate
    * (decimal-stable, [[graft.Ops.dsum]] discipline). */
  def cohortValue(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, valueCol: String,
                  anchorType: String, valueType: String): DataFrame = {
    val cohort = events.filter(col(typeCol) === anchorType)
      .groupBy(col(userCol).as("uid"))
      .agg(date_trunc("week", min(col(tsCol))).as("cohort_week"))
    events.filter(col(typeCol) === valueType)
      .select(col(userCol).as("uid"), col(valueCol).as("__v"))
      .join(cohort, "uid")
      .groupBy("cohort_week")
      .agg(count(lit(1)).as("n_purchases"),
        graft.Ops.dsum(col("__v")).as("total_value"))
  }

  /** Event-type transition matrix: counts of (event_type → immediately
    * following event_type) within each user's timeline — the first-order
    * Markov structure of behavior (what users do NEXT). One lead() window
    * keyed by user (its natural partitioning; a user's timeline fits a
    * task by construction), then a global pair count. The `event_id`
    * tiebreak makes same-timestamp ordering deterministic in both
    * engines. */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("from_type"))
      .withColumn("to_type", lead("from_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** Time-weighted average of `valueCol` per user: each reading is held
    * until the next one, so its weight is the duration it was current —
    * the sensor/telemetry aggregate a plain mean gets wrong when sampling
    * is irregular. One lead() window on the user key yields the holding
    * duration (exact integer microseconds); the weighted sum runs in
    * DECIMAL so the result is partitioning-independent. The last reading
    * of each user has no successor and carries no weight. A user whose
    * observed intervals all have zero duration (every event at one
    * timestamp) has no time mass to average over — NULL twa, guarded
    * explicitly because ANSI mode (Spark 4 default) would otherwise
    * raise on the zero division; the oracle carries the same CASE. */
  def timeWeightedAvg(events: DataFrame, userCol: String, tsCol: String,
                      valueCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    events
      .select(col(userCol), col(tsCol), col(idCol), col(valueCol).as("__v"))
      .withColumn("__dt",
        unix_micros(lead(col(tsCol), 1).over(w)) - unix_micros(col(tsCol)))
      .filter(col("__dt").isNotNull)
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_intervals"),
        round(when(sum(col("__dt")) > 0,
          sum((col("__v") * col("__dt"))
              .cast(org.apache.spark.sql.types.DecimalType(30, 2)))
            .cast(org.apache.spark.sql.types.DoubleType)
            / sum(col("__dt"))), 6).as("twa"))
  }

  /** Week-over-week retention RATE per cohort: the [[cohortRetention]]
    * matrix normalized by each cohort's size (offset-0 row) — the
    * percentage triangle a growth dashboard actually displays.
    *
    * The cohort size comes from a window over the matrix itself (r10,
    * VERDICT item 7 — previously a filter + broadcast self-join, which
    * carried the whole matrix lineage twice): `max(n_users where
    * offset=0) over (partition by cohort_week)` reads the matrix ONCE and
    * adds a single cohort-keyed exchange of the matrix-sized frame —
    * weeks × offsets rows, metadata-sized at any corpus scale. Every user
    * appears in their cohort's offset-0 cell by construction, so the
    * window always finds the size. */
  def retentionRate(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cohort_week")
    cohortRetention(events, userCol, tsCol)
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_users"))).over(w))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        round(col("n_users").cast(org.apache.spark.sql.types.DoubleType)
          / col("cohort_size"), 6).as("retention"))
  }

  /** DAU/MAU stickiness: per day, the distinct users active that day over
    * the distinct users active in the trailing 30 days — the engagement
    * ratio of a product dashboard. Everything runs on the DISTINCT
    * (day, user) frame, which is orders of magnitude smaller than the
    * event table (≤ days × users rows).
    *
    * The trailing window is computed by CONTRIBUTION EXPLOSION, not a
    * non-equi join (ADVICE r6: the previous day-spine range join planned a
    * BroadcastNestedLoopJoin evaluating |days|×|day-user| predicates —
    * quadratic at long histories): each (day, user) activity contributes
    * that user to the MAU of the `windowDays` days it covers, so one
    * `posexplode(sequence(...))` expands the distinct frame ×windowDays
    * and a plain hash aggregate counts distinct users per covered day.
    * Cost is linear (windowDays × |day-user| rows through ONE
    * key-partitioned shuffle), the 100-TB shape. DAU rides the SAME pass:
    * a day's own activity is exactly the offset-0 slice of its expansion,
    * so a second filtered count-distinct replaces the separate DAU
    * aggregate and join — the old dau⋈mau form re-ran the data-sized
    * distinct for each consumer (6 Exchanges measured, 4 now). Keeping
    * only dau > 0 days restores the inner-join day set (expansion days
    * past the last observed activity have no offset-0 rows). */
  def stickiness(events: DataFrame, userCol: String, tsCol: String,
                 windowDays: Int = 30): DataFrame = {
    val du = events.select(to_date(col(tsCol)).as("d"),
      col(userCol).as("uid")).distinct()
    du.select(posexplode(sequence(col("d"), date_add(col("d"), windowDays - 1)))
        .as(Seq("off", "day")), col("uid"))
      .groupBy("day")
      .agg(count_distinct(when(col("off") === 0, col("uid"))).as("dau"),
        count_distinct(col("uid")).as("mau"))
      .filter(col("dau") > 0)
      .select(col("day"), col("dau"), col("mau"),
        round(col("dau").cast(org.apache.spark.sql.types.DoubleType)
          / col("mau"), 6).as("stickiness"))
  }

  /** Merged-interval coverage per user (gaps-and-islands): treat each
    * event as a fixed-length interval `[ts, ts + intervalMinutes)`, merge
    * overlapping/touching-by-overlap intervals into islands, and report
    * per user the island count and total covered time — "how much
    * distinct engaged time did this user have", the sessionized-utilization
    * query of billing and engagement systems.
    *
    * Shape: islands form with two user-keyed window passes (running max of
    * interval end over PRECEDING rows → new-island flag → running sum =
    * island id), then two keyed aggregates. Everything partitions by
    * user — one shuffle, no self-join, no explosion; the classic
    * gaps-and-islands plan that holds at any corpus size. Coverage is
    * summed in MICROSECONDS (exact integers) so the cross-engine
    * comparison never hits timestamp-truncation asymmetry. */
  def intervalUnion(events: DataFrame, userCol: String, tsCol: String,
                    tieCol: String, intervalMinutes: Int): DataFrame = {
    require(intervalMinutes > 0, s"interval must be positive, got $intervalMinutes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    val iv = events.select(col(userCol), col(tsCol), col(tieCol),
      (col(tsCol) + expr(s"INTERVAL $intervalMinutes MINUTES")).as("__te"))
    val islands = iv
      .withColumn("__prev_end",
        max(col("__te")).over(w.rowsBetween(Long.MinValue, -1)))
      .withColumn("__ni",
        when(col("__prev_end").isNull || col(tsCol) > col("__prev_end"), 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__ni")).over(w.rowsBetween(Long.MinValue, 0)))
    islands.groupBy(col(userCol), col("__island"))
      .agg(count(lit(1)).as("__ne"), min(col(tsCol)).as("__s"),
        max(col("__te")).as("__e"))
      .groupBy(userCol)
      .agg(sum(col("__ne")).as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(unix_micros(col("__e")) - unix_micros(col("__s"))).as("covered_us"))
  }

  /** Bounded-horizon exponentially-weighted moving average of `valCol`
    * per user — the smoothing curve of a monitoring/engagement dashboard.
    * The classic recursive EWMA is order-sequential (unfriendly to both
    * distributed execution and cross-engine verification); this is the
    * standard windowed approximation: a weighted mean of the last
    * `horizon` observations with weights (1-α)^j, normalized over the
    * lags actually present so the series start is unbiased. The truncation
    * error vs the infinite recursion is ≤ (1-α)^horizon (≈ 0.7^8 ≈ 6%
    * of weight mass at the graded config).
    *
    * One window pass builds `horizon` lag columns (a single user-keyed
    * shuffle + sort, no row explosion); the weighted sum is a codegen'd
    * row-local expression. Weights are materialized once driver-side and
    * embedded as literals, so both engines evaluate bit-identical
    * arithmetic in the same left-to-right order. */
  def ewma(events: DataFrame, userCol: String, tsCol: String, tieCol: String,
           valCol: String, alpha: Double = 0.3, horizon: Int = 8): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    require(horizon >= 1, s"horizon must be at least 1, got $horizon")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    val weights = ewmaWeights(alpha, horizon)
    val lags = weights.indices.map(j => lag(col(valCol), j).over(w))
    val num = lags.zip(weights).map { case (c, wt) =>
      when(c.isNotNull, c * lit(wt)).otherwise(lit(0.0)) }.reduce(_ + _)
    val den = lags.zip(weights).map { case (c, wt) =>
      when(c.isNotNull, lit(wt)).otherwise(lit(0.0)) }.reduce(_ + _)
    // an all-null lag window (every value in the horizon NULL) zeroes the
    // denominator; emit NULL instead of tripping ANSI division-by-zero
    events.select(col(userCol), col(tieCol),
      round(when(den > 0, num / den), 6).as("ewma"))
  }

  /** (1-α)^j for j < horizon — shared with the oracle generator so the
    * literals can never drift. */
  def ewmaWeights(alpha: Double, horizon: Int): Seq[Double] =
    (0 until horizon).map(j => math.pow(1 - alpha, j))

  /** Same-weekday rolling anomaly flags over the daily revenue series — a
    * monitoring layer's "is today out of line with recent same-weekday
    * history" check (seasonal-naive baseline: Saturdays compare with
    * Saturdays). Each day is z-scored against the `lookback` PRECEDING
    * same-weekday days — the current day is excluded from its own baseline
    * so an anomalous day cannot mask itself. Days with <2 history rows
    * (series head) or a zero-variance baseline emit NULL z and flag false.
    *
    * Scale shape: the daily aggregation is the only fact-sized shuffle
    * (DECIMAL sums keep it engine-deterministic); the baseline window runs
    * over the AGGREGATE — one row per day, bounded by calendar time, not
    * data volume — partitioned by day-of-week. Mean/std come from explicit
    * lag columns with fixed left-to-right arithmetic (not a window stddev,
    * whose accumulation order is engine-private), so the oracle evaluates
    * bit-identical expressions; every division is CASE-gated in both
    * engines so no NaN/Inf semantics are ever compared. */
  def seasonalAnomaly(events: DataFrame, tsCol: String, valCol: String,
                      lookback: Int = 4, zThreshold: Double = 2.0): DataFrame = {
    require(lookback >= 2, s"lookback must be at least 2, got $lookback")
    val daily = events
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(col(valCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .as("__rev"))
      .select(col("day"), col("__rev").cast(DoubleType).as("revenue"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dayofweek(col("day"))).orderBy("day")
    val lags = (1 to lookback).map(j => lag(col("revenue"), j).over(w))
    val n = lags.map(c => when(c.isNotNull, lit(1.0)).otherwise(lit(0.0)))
      .reduce(_ + _)
    val sumL = lags.map(c => when(c.isNotNull, c).otherwise(lit(0.0)))
      .reduce(_ + _)
    val mu = when(n >= 1, sumL / n)
    val ss = lags.map(c => when(c.isNotNull, (c - mu) * (c - mu))
      .otherwise(lit(0.0))).reduce(_ + _)
    val sd = when(n >= 2, sqrt(ss / (n - lit(1.0))))
    val z = when(sd > 0, round((col("revenue") - mu) / sd, 4))
    daily.select(col("day"), col("revenue"),
      n.cast(LongType).as("n_hist"),
      round(mu, 2).as("baseline_mu"),
      z.as("z"),
      coalesce(abs(z) > lit(zThreshold), lit(false)).as("is_anomaly"))
  }

  /** Consecutive-calendar-day activity streaks per user — the calendar
    * cousin of [[intervalUnion]]'s interval islands and the engagement
    * metric behind "current/longest streak" product surfaces. Island id =
    * `day - row_number()` over the user's DISTINCT active days (consecutive
    * days share the difference; any gap shifts it), so streaks fall out of
    * one user-keyed window plus two keyed aggregates — no self-join, no
    * day-spine explosion. Everything runs on the distinct (user, day)
    * frame, ≤ users × calendar-days rows regardless of event volume. */
  def activityStreaks(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("uid").orderBy("day")
    val days = events
      .select(col(userCol).as("uid"), to_date(col(tsCol)).as("day"))
      .distinct()
    days
      .withColumn("__island", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("uid"), col("__island"))
      .agg(count(lit(1)).as("__len"))
      .groupBy("uid")
      .agg(sum(col("__len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("__len")).as("longest_streak"))
  }

  /** Cumulative distinct active users by day — the "total users to date"
    * growth curve. Distinct users ever seen by day D = users whose FIRST
    * event is on or before D, so the running total needs no per-day
    * distinct-over-history pass: one keyed first-seen aggregate (the only
    * fact-sized shuffle), a day count, and a running sum over the DAILY
    * frame — calendar-bounded, thousands of rows at any corpus size, so
    * the single-partition cumulative window is deliberate and safe. */
  def cumulativeActives(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(Long.MinValue, 0)
    events
      .groupBy(col(userCol).as("uid"))
      .agg(min(to_date(col(tsCol))).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
  }

  /** Directed association rules over per-user event-type baskets (market-
    * basket analysis, A => B): support = users with both / all users,
    * confidence = users with both / users with A, lift = confidence over
    * B's base rate. Support/confidence/lift each reduce to integer
    * products with ONE final double division (`lift = n_ab·N /
    * (n_a·n_b)`), so both engines agree bit-for-bit before the round.
    * Rules below `minSupport` are pruned.
    *
    * Shuffle shape (r10, VERDICT item 7 — previously a distinct +
    * user-keyed self-join, 4 fact-sized exchanges): ONE fact-sized
    * exchange total. The per-user basket (`collect_set`, bounded by the
    * type domain — the standing assumption of market-basket analysis)
    * materializes in a single user-keyed aggregate; the pair, type, and
    * user counts all derive from the basket frame by explode (pairing
    * fans out basket² per user WITHIN the row — no join), and their
    * aggregates shuffle only (type-domain)²-sized count frames with
    * map-side combine. The basket subplan feeds three branches; its
    * exchange is physically deduplicated (ReusedExchange). */
  def associationRules(events: DataFrame, userCol: String, typeCol: String,
                       minSupport: Double = 0.01): DataFrame = {
    val baskets = events.select(col(userCol).as("uid"), col(typeCol).as("t"))
      .groupBy("uid").agg(collect_set(col("t")).as("basket"))
    val total = baskets.agg(count(lit(1)).as("__N"))
    val typeCounts = baskets.select(explode(col("basket")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("__n"))
    val pairs = baskets
      .select(explode(col("basket")).as("t"), col("basket"))
      .select(col("t"), explode(col("basket")).as("t2"))
      .filter(col("t") =!= col("t2"))
      .groupBy(col("t").as("antecedent"), col("t2").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(typeCounts.select(col("t").as("antecedent"),
        col("__n").as("__na"))), "antecedent")
      .join(broadcast(typeCounts.select(col("t").as("consequent"),
        col("__n").as("__nb"))), "consequent")
      .crossJoin(broadcast(total))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        round(col("n_both").cast(DoubleType) / col("__N"), 6).as("support"),
        round(col("n_both").cast(DoubleType) / col("__na"), 6).as("confidence"),
        round((col("n_both") * col("__N")).cast(DoubleType)
          / (col("__na") * col("__nb")), 6).as("lift"))
      .filter(col("support") >= minSupport)
  }

  /** Last-touch revenue attribution: each purchase is credited to the
    * user's most recent PRECEDING non-purchase event type (the classic
    * marketing-attribution question "what drove this conversion");
    * purchases with no prior touch fall into the 'direct' bucket. One
    * user-keyed ordered window (`last(..., ignoreNulls)` over PRECEDING
    * rows — a user's timeline fits a task by construction) followed by a
    * channel-sized aggregate; revenue sums ride DECIMAL per the
    * [[graft.Ops.dsum]] discipline. */
  def lastTouchAttribution(events: DataFrame, userCol: String, tsCol: String,
                           typeCol: String, idCol: String, valueCol: String,
                           conversionType: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Long.MinValue, -1)
    events
      .withColumn("__chan",
        last(when(col(typeCol) =!= conversionType, col(typeCol)), true).over(w))
      .filter(col(typeCol) === conversionType && col(valueCol).isNotNull)
      .groupBy(coalesce(col("__chan"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        graft.Ops.dsum(col(valueCol)).as("attributed_value"))
  }

  /** Kaplan–Meier survival curve over user lifetimes (time-to-churn): the
    * estimator behind every retention/LTV projection that must respect
    * CENSORING — users still active near the end of the observation window
    * haven't churned, they're censored, and dropping them biases survival
    * down. Lifetime = days from first to last event (inclusive); a user
    * churns (event observed) iff their last day is more than `censorDays`
    * before the corpus max day, else censored.
    *
    * KM survival S(t) = Π_{t'≤t} (1 − d/n) is a cumulative PRODUCT — the
    * one shape neither engine sums natively in a deterministic order — so
    * it runs in log space under the repo's `text_source_kl` contract: each
    * ln(1 − d/n) term rounds to 6, the cumulative sum rides EXACT
    * DECIMAL(18,6) (associative, order-independent), and one final exp
    * rounds to 6 — bit-stable across engines and partitionings. A risk set
    * fully consumed at t (d = n) pins S(t) = 0 without evaluating ln(0).
    *
    * Shape at scale: one user-keyed aggregate is the only fact-sized
    * shuffle; the risk table, reverse-cumulative n-at-risk and the KM
    * windows all run over the LIFETIME-DOMAIN frame (≤ calendar days,
    * bounded by time, not data), where the deliberate global windows are
    * safe. */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
                  censorDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val perUser = events.groupBy(col(userCol).as("uid"))
      .agg(min(to_date(col(tsCol))).as("__first"),
        max(to_date(col(tsCol))).as("__last"))
    val maxDay = perUser.agg(max(col("__last")).as("__max_day"))
    val life = perUser.crossJoin(broadcast(maxDay))
      .select((datediff(col("__last"), col("__first")) + 1).cast(LongType)
        .as("t"),
        when(col("__last") < date_sub(col("__max_day"), censorDays), 1L)
          .otherwise(0L).as("__ev"))
    val riskTable = life.groupBy("t")
      .agg(count(lit(1)).as("__n_total"), sum(col("__ev")).as("d_churned"))
      .withColumn("n_risk",
        sum(col("__n_total")).over(Window.orderBy("t")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val term = when(col("d_churned") < col("n_risk"),
      round(log(lit(1.0) - col("d_churned").cast(DoubleType) / col("n_risk")), 6)
        .cast(DecimalType(18, 6)))
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    riskTable
      .withColumn("__cum", sum(term).over(wCum))
      .select(col("t"), col("n_risk"), col("d_churned"),
        (col("__n_total") - col("d_churned")).as("n_censored"),
        when(col("d_churned") === col("n_risk"), lit(0.0))
          .otherwise(round(exp(col("__cum").cast(DoubleType)), 6))
          .as("km_survival"))
  }

  /** Top entry paths: the first `pathLen` events of each user's timeline
    * concatenated into a path string, counted across users — the
    * "how do sessions start" navigation readout. One user-keyed ordered
    * window trims each timeline to `pathLen` rows (id tiebreak pins
    * same-timestamp order in both engines), an in-order struct-sort
    * collect builds the path per user, and a path-sized count +
    * TakeOrdered yields the top k (paths are bounded by |type|^pathLen,
    * never user-count). */
  def topPaths(events: DataFrame, userCol: String, tsCol: String,
               typeCol: String, idCol: String, pathLen: Int = 3,
               k: Int = 20): DataFrame = {
    require(pathLen >= 1 && k >= 1, s"need pathLen/k >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("uid").orderBy(col(tsCol), col(idCol))
    events
      .select(col(userCol).as("uid"), col(tsCol), col(idCol),
        col(typeCol).as("__et"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= pathLen)
      .groupBy("uid")
      .agg(concat_ws(">",
        transform(array_sort(collect_list(struct(col("__rn"), col("__et")))),
          s => s("__et"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(desc("n_users"), asc("path"))
      .limit(k)
  }

  // ---------------------------------------------------------------- entries

  private val FunnelSteps = Seq("view", "click", "purchase")

  private val funnelQ: Q = (s, dir) =>
    funnel(Tables(s, dir).events, "user_id", "ts", "event_type", FunnelSteps)

  /** 72-hour conversion window: each step must follow the previous within
    * 3 days — the "did the view actually DRIVE the purchase" variant. */
  private val funnelWindowedQ: Q = (s, dir) =>
    funnel(Tables(s, dir).events, "user_id", "ts", "event_type", FunnelSteps,
      maxGapSeconds = Some(259200L))

  private val cohortQ: Q = (s, dir) =>
    cohortRetention(Tables(s, dir).events, "user_id", "ts")
      .orderBy("cohort_week", "week_offset")

  private val cohortValueQ: Q = (s, dir) =>
    cohortValue(Tables(s, dir).events, "user_id", "ts", "event_type", "value",
      anchorType = "signup", valueType = "purchase")
      .orderBy("cohort_week")

  private val transitionQ: Q = (s, dir) =>
    transitionMatrix(Tables(s, dir).events, "user_id", "ts", "event_type",
      "event_id")
      .orderBy("from_type", "to_type")

  private val twaQ: Q = (s, dir) =>
    timeWeightedAvg(Tables(s, dir).events, "user_id", "ts", "value",
      "event_id")
      .orderBy("user_id")

  private val stickinessQ: Q = (s, dir) =>
    stickiness(Tables(s, dir).events, "user_id", "ts").orderBy("day")

  private val retentionRateQ: Q = (s, dir) =>
    retentionRate(Tables(s, dir).events, "user_id", "ts")
      .orderBy("cohort_week", "week_offset")

  private val intervalUnionQ: Q = (s, dir) =>
    intervalUnion(Tables(s, dir).events, "user_id", "ts", "event_id", 30)
      .orderBy("user_id")

  private val ewmaQ: Q = (s, dir) =>
    ewma(Tables(s, dir).events, "user_id", "ts", "event_id", "value")
      .orderBy("user_id", "event_id")

  private val anomalyQ: Q = (s, dir) =>
    seasonalAnomaly(Tables(s, dir).events, "ts", "value").orderBy("day")

  /** RFM (recency / frequency / monetary) segmentation — the classic
    * customer-value grid. Quartile BUCKETS come from exact interpolated
    * percentile anchors over the per-user frame (rounded before the
    * comparisons, so both engines bucket on identical doubles) rather
    * than a global ntile window: at 10^9 users ntile needs a total sort
    * of the user frame, while three broadcast anchors bucket each user
    * with two scans of the (already user-sized) aggregate and no global
    * ordering anywhere. Monetary rides exact DECIMAL, rounded per user
    * before the anchors so every downstream comparison is bit-stable.
    * Output is the 4×4×4 segment grid with user counts and segment value
    * — grid-sized, not user-sized.
    *
    * The reference day folds INTO the anchors aggregate via percentile
    * reflection: recency = maxD − D per user (D = days since epoch), and
    * exact interpolated percentiles commute with the affine flip —
    * pct(maxD − D, q) = maxD − pct(D, 1−q), bit-exactly here because the
    * quartile fractions are exact quarters and day counts are small-int
    * doubles. One 1-row broadcast therefore serves both the reference day
    * and all nine anchors, and the whole query is two lazy passes over the
    * events aggregate — the earlier refDay-then-anchors chain took three
    * (9 Exchanges measured, 3 corpus-sized; a persist+checkpoint variant
    * ran 1 pass but its fixed materialization overhead doubled the query
    * at sf0.1 — PERF.md r10. At petabyte scale, persisting `perUser`
    * before this plan is the one-pass lever; the algebra is unchanged). */
  private val rfmQ: Q = (s, dir) => {
    import org.apache.spark.sql.types.DecimalType
    val e = Tables(s, dir).events.filter(col("value").isNotNull)
    val perUser = e.groupBy("user_id").agg(
      max(to_date(col("ts"))).as("last_day"),
      count(lit(1)).as("freq"),
      round(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType), 2)
        .as("monetary"))
      .withColumn("d_day",
        datediff(col("last_day"), lit("1970-01-01")).cast(LongType))
    val anchorCols =
      max(col("d_day")).as("maxd") +:
        ((1 to 3).map(q => graft.Ops.pct(col("d_day").cast(DoubleType),
          1.0 - q * 0.25).as(s"dp$q")) ++
          (for ((m, c) <- Seq("f" -> "freq", "m" -> "monetary"); q <- 1 to 3)
            yield round(graft.Ops.pct(col(c).cast(DoubleType), q * 0.25), 6)
              .as(s"$m$q")))
    val anchors = perUser.agg(anchorCols.head, anchorCols.tail: _*)
      .select(col("maxd") +:
        (1 to 3).map(q =>
          round(col("maxd").cast(DoubleType) - col(s"dp$q"), 6).as(s"r$q")) ++:
        (for (m <- Seq("f", "m"); q <- 1 to 3) yield col(s"$m$q")): _*)
    def bucket(x: Column, p: String): Column =
      lit(1) + (1 to 3).map(q =>
        when(x > col(s"$p$q"), 1).otherwise(0)).reduce(_ + _)
    perUser.crossJoin(broadcast(anchors))
      .select(bucket((col("maxd") - col("d_day")).cast(LongType), "r")
          .as("r_bucket"),
        bucket(col("freq"), "f").as("f_bucket"),
        bucket(col("monetary"), "m").as("m_bucket"),
        col("monetary"))
      .groupBy("r_bucket", "f_bucket", "m_bucket")
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("monetary").cast(DecimalType(18, 2))).cast(DoubleType), 2)
          .as("segment_value"))
      .orderBy("r_bucket", "f_bucket", "m_bucket")
  }

  private val streaksQ: Q = (s, dir) =>
    activityStreaks(Tables(s, dir).events, "user_id", "ts").orderBy("uid")

  private val cumulativeQ: Q = (s, dir) =>
    cumulativeActives(Tables(s, dir).events, "user_id", "ts").orderBy("day")

  private val assocQ: Q = (s, dir) =>
    associationRules(Tables(s, dir).events, "user_id", "event_type",
      minSupport = 0.05)
      .orderBy("antecedent", "consequent")

  private val attributionQ: Q = (s, dir) =>
    lastTouchAttribution(Tables(s, dir).events, "user_id", "ts", "event_type",
      "event_id", "value", conversionType = "purchase")
      .orderBy("channel")

  /** Survival of the PURCHASE lifecycle (first to last purchase): the
    * all-events lifetime is degenerate on this feed (every user stays
    * active to the corpus edge, so everything censors flat at 1.0);
    * last-purchase recency spreads 0–11 days, so a 3-day horizon yields a
    * real mixed churned/censored risk table with a stepping curve. */
  private val kmQ: Q = (s, dir) =>
    kaplanMeier(Tables(s, dir).events.filter(col("event_type") === "purchase"),
      "user_id", "ts", censorDays = 3)
      .orderBy("t")

  private val topPathsQ: Q = (s, dir) =>
    topPaths(Tables(s, dir).events, "user_id", "ts", "event_type",
      "event_id", pathLen = 3, k = 20)

  val entries: Seq[Entry] = Seq(
    Entry("b18_top_paths", topPathsQ, Some(
      """WITH f AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |         string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM f WHERE rn <= 3 GROUP BY 1)
        |SELECT path, count(*) AS n_users
        |FROM p GROUP BY 1
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin), headline = true),
    // cumulative product in log space: ln terms round to 6, the running
    // sum rides exact DECIMAL(18,6), one exp at the end (the
    // text_source_kl determinism contract)
    Entry("b17_survival_km", kmQ, Some(
      """WITH pu AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
        |         max(CAST(ts AS DATE)) AS last_day
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |mx AS (SELECT max(last_day) AS max_day FROM pu),
        |life AS (
        |  SELECT CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT)
        |           AS t,
        |         CASE WHEN last_day < max_day - 3 THEN 1 ELSE 0 END AS ev
        |  FROM pu, mx),
        |bt AS (
        |  SELECT t, count(*) AS n_total, CAST(sum(ev) AS BIGINT) AS d
        |  FROM life GROUP BY 1),
        |rt AS (
        |  SELECT t, n_total, d,
        |         CAST(sum(n_total) OVER (ORDER BY t ROWS BETWEEN CURRENT
        |              ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        |  FROM bt),
        |tm AS (
        |  SELECT *, CASE WHEN d < n_risk
        |                 THEN CAST(round(ln(1 - CAST(d AS DOUBLE) / n_risk),
        |                                 6) AS DECIMAL(18,6)) END AS term
        |  FROM rt)
        |SELECT t, n_risk, d AS d_churned, n_total - d AS n_censored,
        |       CASE WHEN d = n_risk THEN CAST(0 AS DOUBLE)
        |            ELSE round(exp(CAST(sum(term) OVER (ORDER BY t ROWS
        |                 BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                 AS DOUBLE)), 6) END AS km_survival
        |FROM tm ORDER BY t""".stripMargin), headline = true),
    Entry("b13_activity_streaks", streaksQ, Some(
      """WITH du AS (
        |  SELECT DISTINCT user_id AS uid, CAST(ts AS DATE) AS day
        |  FROM events),
        |isl AS (
        |  SELECT uid, day,
        |         day - CAST(row_number() OVER (PARTITION BY uid
        |                                       ORDER BY day) AS INT) AS island
        |  FROM du),
        |st AS (SELECT uid, island, count(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT uid, CAST(sum(len) AS BIGINT) AS n_active_days,
        |       count(*) AS n_streaks,
        |       CAST(max(len) AS BIGINT) AS longest_streak
        |FROM st GROUP BY 1 ORDER BY uid""".stripMargin), headline = true),
    Entry("b14_cumulative_actives", cumulativeQ, Some(
      """WITH fs AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY 1),
        |nd AS (SELECT day, count(*) AS n_new FROM fs GROUP BY 1)
        |SELECT day, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |            PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM nd ORDER BY day""".stripMargin)),
    // lift folds to n_both*N/(n_a*n_b): integer products, ONE division —
    // bit-identical across engines before the round
    Entry("b15_assoc_rules", assocQ, Some(
      """WITH ut AS (
        |  SELECT DISTINCT user_id AS uid, event_type AS t FROM events),
        |tot AS (SELECT CAST(count(DISTINCT uid) AS BIGINT) AS n FROM ut),
        |tc AS (SELECT t, count(*) AS n FROM ut GROUP BY 1),
        |p AS (
        |  SELECT a.t AS antecedent, b.t AS consequent,
        |         count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.uid = b.uid AND a.t <> b.t
        |  GROUP BY 1, 2)
        |SELECT antecedent, consequent, n_both,
        |       round(CAST(n_both AS DOUBLE) / tot.n, 6) AS support,
        |       round(CAST(n_both AS DOUBLE) / ta.n, 6) AS confidence,
        |       round(CAST(n_both * tot.n AS DOUBLE) / (ta.n * tb.n), 6)
        |         AS lift
        |FROM p
        |JOIN tc ta ON p.antecedent = ta.t
        |JOIN tc tb ON p.consequent = tb.t
        |CROSS JOIN tot
        |WHERE round(CAST(n_both AS DOUBLE) / tot.n, 6) >= 0.05
        |ORDER BY antecedent, consequent""".stripMargin), headline = true),
    Entry("b16_attribution", attributionQ, Some(
      """WITH tagged AS (
        |  SELECT event_type, value,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                         THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS chan
        |  FROM events)
        |SELECT coalesce(chan, 'direct') AS channel,
        |       count(*) AS n_conversions,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS attributed_value
        |FROM tagged
        |WHERE event_type = 'purchase' AND value IS NOT NULL
        |GROUP BY 1 ORDER BY channel""".stripMargin), headline = true),
    // quartile anchors rounded to 6 before bucketing, in lockstep with rfmQ
    Entry("b12_rfm_segments", rfmQ, Some(
      """WITH pu AS (
        |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day, count(*) AS freq,
        |         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |           AS monetary
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |rr AS (SELECT max(last_day) AS ref_day FROM pu),
        |rfm AS (
        |  SELECT user_id, date_diff('day', last_day, ref_day) AS recency_days,
        |         freq, monetary
        |  FROM pu, rr),
        |a AS (
        |  SELECT round(quantile_cont(CAST(recency_days AS DOUBLE), 0.25), 6) AS r1,
        |         round(quantile_cont(CAST(recency_days AS DOUBLE), 0.50), 6) AS r2,
        |         round(quantile_cont(CAST(recency_days AS DOUBLE), 0.75), 6) AS r3,
        |         round(quantile_cont(CAST(freq AS DOUBLE), 0.25), 6) AS f1,
        |         round(quantile_cont(CAST(freq AS DOUBLE), 0.50), 6) AS f2,
        |         round(quantile_cont(CAST(freq AS DOUBLE), 0.75), 6) AS f3,
        |         round(quantile_cont(monetary, 0.25), 6) AS m1,
        |         round(quantile_cont(monetary, 0.50), 6) AS m2,
        |         round(quantile_cont(monetary, 0.75), 6) AS m3
        |  FROM rfm),
        |b AS (
        |  SELECT CAST(1 + (CASE WHEN recency_days > r1 THEN 1 ELSE 0 END)
        |                + (CASE WHEN recency_days > r2 THEN 1 ELSE 0 END)
        |                + (CASE WHEN recency_days > r3 THEN 1 ELSE 0 END) AS INT)
        |           AS r_bucket,
        |         CAST(1 + (CASE WHEN freq > f1 THEN 1 ELSE 0 END)
        |                + (CASE WHEN freq > f2 THEN 1 ELSE 0 END)
        |                + (CASE WHEN freq > f3 THEN 1 ELSE 0 END) AS INT)
        |           AS f_bucket,
        |         CAST(1 + (CASE WHEN monetary > m1 THEN 1 ELSE 0 END)
        |                + (CASE WHEN monetary > m2 THEN 1 ELSE 0 END)
        |                + (CASE WHEN monetary > m3 THEN 1 ELSE 0 END) AS INT)
        |           AS m_bucket,
        |         monetary
        |  FROM rfm, a)
        |SELECT r_bucket, f_bucket, m_bucket,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       round(CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS segment_value
        |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin), headline = true),
    Entry("b1_funnel_steps", funnelQ, Some(
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1),
        |lv AS (
        |  SELECT user_id, 0 AS step FROM s1
        |  UNION ALL SELECT user_id, 1 FROM s2
        |  UNION ALL SELECT user_id, 2 FROM s3)
        |SELECT count(CASE WHEN step = 0 THEN 1 END) AS n_view,
        |       count(CASE WHEN step = 1 THEN 1 END) AS n_click,
        |       count(CASE WHEN step = 2 THEN 1 END) AS n_purchase
        |FROM lv""".stripMargin), headline = true),
    Entry("b4_funnel_windowed", funnelWindowedQ, Some(
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |   AND e.ts >= s1.t AND e.ts <= s1.t + INTERVAL 259200 SECOND
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |   AND e.ts >= s2.t AND e.ts <= s2.t + INTERVAL 259200 SECOND
        |  WHERE e.event_type = 'purchase' GROUP BY 1),
        |lv AS (
        |  SELECT user_id, 0 AS step FROM s1
        |  UNION ALL SELECT user_id, 1 FROM s2
        |  UNION ALL SELECT user_id, 2 FROM s3)
        |SELECT count(CASE WHEN step = 0 THEN 1 END) AS n_view,
        |       count(CASE WHEN step = 1 THEN 1 END) AS n_click,
        |       count(CASE WHEN step = 2 THEN 1 END) AS n_purchase
        |FROM lv""".stripMargin), headline = true),
    Entry("b2_cohort_retention", cohortQ, Some(
      """WITH f AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT e.user_id, f.cohort_week,
        |         date_diff('day', f.cohort_week,
        |                   date_trunc('week', e.ts)) // 7 AS week_offset
        |  FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort_week, week_offset, count(*) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin), headline = true),
    Entry("b5_transition_matrix", transitionQ, Some(
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n_transitions
        |FROM t WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin), headline = true),
    Entry("b8_retention_rate", retentionRateQ, Some(
      """WITH f AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT e.user_id, f.cohort_week,
        |         date_diff('day', f.cohort_week,
        |                   date_trunc('week', e.ts)) // 7 AS week_offset
        |  FROM events e JOIN f ON e.user_id = f.user_id),
        |m AS (
        |  SELECT cohort_week, week_offset, count(*) AS n_users
        |  FROM a GROUP BY 1, 2),
        |sz AS (
        |  SELECT cohort_week AS cw, n_users AS cohort_size FROM m
        |  WHERE week_offset = 0)
        |SELECT m.cohort_week, m.week_offset, m.n_users,
        |       round(CAST(m.n_users AS DOUBLE) / sz.cohort_size, 6)
        |         AS retention
        |FROM m JOIN sz ON m.cohort_week = sz.cw
        |ORDER BY m.cohort_week, week_offset""".stripMargin)),
    Entry("b7_stickiness", stickinessQ, Some(
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d AS day FROM du),
        |mau AS (
        |  SELECT days.day, count(DISTINCT du.user_id) AS mau
        |  FROM days JOIN du
        |    ON du.d <= days.day AND du.d >= days.day - 29
        |  GROUP BY 1),
        |dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau
        |        FROM du GROUP BY 1)
        |SELECT dau.day, dau.dau, mau.mau,
        |       round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
        |FROM dau JOIN mau ON dau.day = mau.day ORDER BY dau.day""".stripMargin)),
    Entry("b6_time_weighted_avg", twaQ, Some(
      """WITH d AS (
        |  SELECT user_id, value,
        |         epoch_us(lead(ts) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id))
        |           - epoch_us(ts) AS dt
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |       CASE WHEN sum(dt) > 0 THEN
        |         round(CAST(sum(CAST(value * dt AS DECIMAL(30,2))) AS DOUBLE)
        |               / sum(dt), 6) END AS twa
        |FROM d WHERE dt IS NOT NULL
        |GROUP BY 1 ORDER BY user_id""".stripMargin)),
    Entry("b3_cohort_value", cohortValueQ, Some(
      """WITH c AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY 1)
        |SELECT c.cohort_week, count(*) AS n_purchases,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN c ON e.user_id = c.user_id
        |WHERE e.event_type = 'purchase'
        |GROUP BY 1 ORDER BY cohort_week""".stripMargin)),
    Entry("b9_interval_union", intervalUnionQ, Some(
      """WITH iv AS (
        |  SELECT user_id, ts, ts + INTERVAL 30 MINUTE AS te, event_id
        |  FROM events),
        |f AS (
        |  SELECT *, max(te) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM iv),
        |g AS (
        |  SELECT *, CASE WHEN prev_end IS NULL OR ts > prev_end
        |                 THEN 1 ELSE 0 END AS ni FROM f),
        |h AS (
        |  SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM g),
        |isl AS (
        |  SELECT user_id, island, count(*) AS ne, min(ts) AS s, max(te) AS e
        |  FROM h GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(ne) AS BIGINT) AS n_events,
        |       CAST(count(*) AS BIGINT) AS n_islands,
        |       CAST(sum(epoch_us(e) - epoch_us(s)) AS BIGINT) AS covered_us
        |FROM isl GROUP BY 1 ORDER BY user_id""".stripMargin), headline = true),
    // generated from the SAME ewmaWeights values the operator embeds, in
    // the same left-to-right summation order — bit-identical arithmetic
    Entry("b10_ewma", ewmaQ, Some {
      val weights = ewmaWeights(0.3, 8)
      val lagDefs = weights.indices
        .map(j => s"lag(value, $j) OVER w AS l$j").mkString(", ")
      val num = weights.zipWithIndex.map { case (wt, j) =>
        s"(CASE WHEN l$j IS NOT NULL THEN l$j * $wt ELSE 0.0 END)" }
        .mkString(" + ")
      val den = weights.zipWithIndex.map { case (wt, j) =>
        s"(CASE WHEN l$j IS NOT NULL THEN $wt ELSE 0.0 END)" }
        .mkString(" + ")
      s"""WITH l AS (
         |  SELECT user_id, event_id, $lagDefs
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, event_id,
         |       CASE WHEN ($den) > 0
         |            THEN round(($num) / ($den), 6) END AS ewma
         |FROM l ORDER BY user_id, event_id""".stripMargin
    }, headline = true),
    // same explicit-lag arithmetic as the operator, every division
    // CASE-gated identically (DuckDB's dayofweek numbering differs from
    // Spark's by an offset, but only the induced GROUPING matters here)
    Entry("b11_seasonal_anomaly", anomalyQ, Some {
      val lagDefs = (1 to 4).map(j => s"lag(revenue, $j) OVER w AS l$j")
        .mkString(", ")
      val n = (1 to 4)
        .map(j => s"(CASE WHEN l$j IS NOT NULL THEN 1.0 ELSE 0.0 END)")
        .mkString(" + ")
      val sumL = (1 to 4)
        .map(j => s"(CASE WHEN l$j IS NOT NULL THEN l$j ELSE 0.0 END)")
        .mkString(" + ")
      val ss = (1 to 4)
        .map(j => s"(CASE WHEN l$j IS NOT NULL THEN (l$j - mu) * (l$j - mu) ELSE 0.0 END)")
        .mkString(" + ")
      s"""WITH daily AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |  FROM events GROUP BY 1),
         |l AS (
         |  SELECT day, revenue, $lagDefs FROM daily
         |  WINDOW w AS (PARTITION BY dayofweek(day) ORDER BY day)),
         |m AS (
         |  SELECT *, ($n) AS n,
         |         CASE WHEN ($n) >= 1 THEN ($sumL) / ($n) END AS mu
         |  FROM l),
         |sdv AS (
         |  SELECT *, CASE WHEN n >= 2 THEN sqrt(($ss) / (n - 1.0)) END AS sd
         |  FROM m),
         |zz AS (
         |  SELECT *, CASE WHEN sd > 0
         |                 THEN round((revenue - mu) / sd, 4) END AS z
         |  FROM sdv)
         |SELECT day, revenue, CAST(n AS BIGINT) AS n_hist,
         |       round(mu, 2) AS baseline_mu, z,
         |       coalesce(abs(z) > 2.0, false) AS is_anomaly
         |FROM zz ORDER BY day""".stripMargin
    }),
  )
}

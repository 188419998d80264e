package graft.operators

import graft.Tables
import graft.Ops.{Entry, Q}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join — the canonical "operator Spark lacks" (time-series
  * point-in-time lookup: for each left row, the latest right row with
  * `right.ts <= left.ts` in the same key group).
  *
  * Per the builder brief's preference ladder this is tier (a): COMPOSED from
  * built-ins, because the union+window formulation already produces the
  * optimal physical shape — ONE shuffle by key and one in-partition sort —
  * which is exactly what a hand-written sort-merge `AsOfJoinExec`
  * (tier (c)) would do, with none of the planner-extension surface:
  *
  *   1. tag left rows 1, right rows 0; union them (same key/ts columns);
  *   2. window per key ordered by (ts, tag): `last_value(v, ignoreNulls)`
  *      over unbounded-preceding..current carries the most recent right
  *      value forward (tag order makes an equal-ts right row visible to the
  *      left row — inclusive `<=` semantics, matching DuckDB ASOF);
  *   3. keep only left rows.
  *
  * Left-join semantics: a left row with no earlier right match keeps null.
  */
object AsOfJoin {

  /** @param left      probe side (each row gets a match)
    * @param right     reference side (values carried forward in time)
    * @param key       equi-join key column (same name both sides)
    * @param tsCol     event-time column (same name both sides)
    * @param valueCols right-side value columns to attach to left rows */
  def asOfBackward(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                   valueCols: Seq[String], tolerance: Option[Long] = None): DataFrame =
    asOfComposed(left, right, key, tsCol, valueCols, backward = true, tolerance)

  /** Forward as-of join: for each left row, the EARLIEST right row with
    * `right.ts >= left.ts` in the same key group (next-event lookup —
    * time-to-conversion features, next-maintenance windows). Same one
    * shuffle + one sort shape with the window frame reversed. */
  def asOfForward(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                  valueCols: Seq[String], tolerance: Option[Long] = None): DataFrame =
    asOfComposed(left, right, key, tsCol, valueCols, backward = false, tolerance)

  /** Matched right ts (or left ts) in an integral native unit for the
    * tolerance gap: µs for timestamps, days for dates, raw integrals. */
  private def tsUnits(c: org.apache.spark.sql.Column,
                      dt: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
      case DateType => unix_date(c)
      case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
      case other => throw new IllegalArgumentException(
        s"as-of tolerance is not supported for ts type $other " +
          "(needs an integral native unit: timestamp, date, or integer)")
    }
  }

  private def asOfComposed(left: DataFrame, right: DataFrame, key: String,
                           tsCol: String, valueCols: Seq[String],
                           backward: Boolean,
                           tolerance: Option[Long] = None): DataFrame =
    asOfComposedKeys(left, right, Seq(key), tsCol, valueCols, backward, tolerance)

  /** Multi-key backward as-of — pandas `merge_asof(by=[k1, k2, ...])`: the
    * match group is the COMPOSITE key. Same union+window shape as the
    * single-key form (the window just partitions by every key); the native
    * exec stays single-key (the overwhelmingly common case), so composite
    * keys ride the composed form. */
  def asOfBackwardBy(left: DataFrame, right: DataFrame, keys: Seq[String],
                     tsCol: String, valueCols: Seq[String],
                     tolerance: Option[Long] = None): DataFrame =
    asOfComposedKeys(left, right, keys, tsCol, valueCols, backward = true, tolerance)

  /** Forward twin of [[asOfBackwardBy]]. */
  def asOfForwardBy(left: DataFrame, right: DataFrame, keys: Seq[String],
                    tsCol: String, valueCols: Seq[String],
                    tolerance: Option[Long] = None): DataFrame =
    asOfComposedKeys(left, right, keys, tsCol, valueCols, backward = false, tolerance)

  /** Nearest as-of join — pandas `merge_asof(direction="nearest")`: for each
    * left row, the right row in the same key group with the SMALLEST
    * absolute time gap; an exact tie prefers the at-or-before row. Same
    * union + window shape as backward/forward, and still ONE shuffle + ONE
    * sort: the backward and forward carries are two window expressions over
    * the SAME partitioning and ordering, so Spark stacks the two Window
    * operators on one Exchange/Sort pair. Needs an integral-unit ts
    * (timestamp / date / integer) so the two gaps are comparable. */
  def asOfNearest(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                  valueCols: Seq[String], tolerance: Option[Long] = None): DataFrame =
    asOfNearestBy(left, right, Seq(key), tsCol, valueCols, tolerance)

  /** Multi-key twin of [[asOfNearest]]. */
  def asOfNearestBy(left: DataFrame, right: DataFrame, keys: Seq[String],
                    tsCol: String, valueCols: Seq[String],
                    tolerance: Option[Long] = None): DataFrame =
    asOfComposedKeys(left, right, keys, tsCol, valueCols, backward = true,
      tolerance, nearest = true)

  private def asOfComposedKeys(left: DataFrame, right: DataFrame,
                               keys: Seq[String], tsCol: String,
                               valueCols: Seq[String], backward: Boolean,
                               tolerance: Option[Long] = None,
                               nearest: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val leftCols = left.columns.toSeq
    // ADVICE r3: carrying raw values with last(v, ignoreNulls) skips a right
    // row whose value is genuinely NULL (an older purchase leaks forward).
    // Instead carry ONE struct that is non-null for every right row — the
    // marker field makes "no match yet" (struct null) distinguishable from
    // "matched row with NULL value" (struct present, field null).
    // the matched right row's ts rides in the payload ("__t") so a
    // tolerance can bound the gap after the carry; tie rows share their ts,
    // so the deterministic payload tiebreak is unchanged
    val tsType = right.schema(tsCol).dataType
    // nearest always compares gaps; tolerance bounds them — both need an
    // integral-unit ts, so validate the type up front
    if (nearest || tolerance.isDefined) tsUnits(col(tsCol), tsType)
    val payloadType = StructType(StructField("__m", IntegerType, nullable = false) +:
      StructField("__t", tsType) +:
      valueCols.map(v => StructField(v, right.schema(v).dataType)))
    // Tag order at equal ts: backward wants the right row BEFORE the left
    // row in the sort (inclusive <=); forward wants the left row first so
    // the current-row..following frame still sees an equal-ts right row
    // (inclusive >=).
    val (lTag, rTag) = if (backward) (1, 0) else (0, 1)
    val l = left.withColumn("__tag", lit(lTag))
      .withColumn("__p", lit(null).cast(payloadType))
    val r = leftCols.filterNot(c => keys.contains(c) || c == tsCol)
      .foldLeft(right.select(((keys :+ tsCol) ++ valueCols).map(col): _*)
        .withColumn("__tag", lit(rTag))
        .withColumn("__p", struct(
          lit(1).as("__m") +: col(tsCol).as("__t") +: valueCols.map(col): _*))
        .drop(valueCols: _*)) {
        (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
    val unioned = l.select((leftCols :+ "__tag" :+ "__p").map(col): _*)
      .unionByName(r.select((leftCols :+ "__tag" :+ "__p").map(col): _*))
    // Ordering (ts, tag, payload): the payload tiebreak makes the matched-row
    // choice deterministic when right rows share (key, ts).
    val w0 = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col("__tag"), col("__p"))
    val wB = w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = w0.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried =
      if (nearest) {
        // Backward tag layout (right-before-left at equal ts): the backward
        // carry sees an equal-ts right row (gap 0, always wins the <= pick),
        // the forward carry is strictly-after — no row is matched twice.
        val u = tsUnits(col(tsCol), tsType)
        unioned
          .withColumn("__b", last(col("__p"), ignoreNulls = true).over(wB))
          .withColumn("__f", first(col("__p"), ignoreNulls = true).over(wF))
          .withColumn("__c",
            when(col("__b").isNull, col("__f"))
              .when(col("__f").isNull, col("__b"))
              .when(u - tsUnits(col("__b").getField("__t"), tsType) <=
                tsUnits(col("__f").getField("__t"), tsType) - u, col("__b"))
              .otherwise(col("__f")))
          .drop("__b", "__f")
      } else {
        val (w, pick) =
          if (backward) (wB, last(col("__p"), ignoreNulls = true))
          else (wF, first(col("__p"), ignoreNulls = true))
        unioned.withColumn("__c", pick.over(w))
      }
    // tolerance: the carried row is the NEAREST eligible match, so one gap
    // check is exhaustive; when(gap-null-or-false, v) also nulls unmatched
    // rows (merge_asof(tolerance=...) semantics)
    val valueOut = tolerance match {
      case Some(tol) =>
        val gapOk = abs(tsUnits(col(tsCol), tsType) -
          tsUnits(col("__c").getField("__t"), tsType)) <= tol
        valueCols.map(v => when(gapOk, col("__c").getField(v)).as(v))
      case None => valueCols.map(v => col("__c").getField(v).as(v))
    }
    carried.filter(col("__tag") === lTag)
      .select(leftCols.map(col) ++ valueOut: _*)
  }

  /** Tier (c) native path: identical semantics to [[asOfBackward]], planned
    * through the custom [[graft.plans.AsOfJoinPlan]] logical node →
    * [[graft.plans.AsOfJoinStrategy]] → [[graft.plans.AsOfJoinExec]]
    * sort-merge operator. One hash shuffle per side + in-partition sort +
    * an O(1)-state streaming merge — vs the composed form's union
    * materialization and window buffer. Same DuckDB ASOF oracle. */
  def asOfBackwardNative(left: DataFrame, right: DataFrame, key: String,
                         tsCol: String, valueCols: Seq[String],
                         tolerance: Option[Long] = None): DataFrame =
    asOfNative(left, right, key, tsCol, valueCols, backward = true,
      tolerance = tolerance)

  /** Forward twin of [[asOfBackwardNative]] — same exec, reversed lookup. */
  def asOfForwardNative(left: DataFrame, right: DataFrame, key: String,
                        tsCol: String, valueCols: Seq[String],
                        tolerance: Option[Long] = None): DataFrame =
    asOfNative(left, right, key, tsCol, valueCols, backward = false,
      tolerance = tolerance)

  /** Broadcast-right variant of [[asOfBackwardNative]]: for a SMALL right
    * side (a rates table, a dimension history) the left side is never
    * shuffled or sorted — the right side broadcasts once and each left
    * partition binary-searches a per-key sorted lookup
    * ([[graft.plans.BroadcastAsOfJoinExec]]). The explicit opt-in mirrors
    * `broadcast(df)` for equi-joins; same oracle as the sort-merge path. */
  def asOfBackwardBroadcast(left: DataFrame, right: DataFrame, key: String,
                            tsCol: String, valueCols: Seq[String],
                            tolerance: Option[Long] = None): DataFrame =
    asOfNative(left, right, key, tsCol, valueCols, backward = true,
      broadcastRight = true, tolerance = tolerance)

  /** Forward twin of [[asOfBackwardBroadcast]]. */
  def asOfForwardBroadcast(left: DataFrame, right: DataFrame, key: String,
                           tsCol: String, valueCols: Seq[String],
                           tolerance: Option[Long] = None): DataFrame =
    asOfNative(left, right, key, tsCol, valueCols, backward = false,
      broadcastRight = true, tolerance = tolerance)

  private def asOfNative(left: DataFrame, right: DataFrame, key: String,
                         tsCol: String, valueCols: Seq[String],
                         backward: Boolean,
                         broadcastRight: Boolean = false,
                         tolerance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    // re-alias every right column: left and right often derive from the SAME
    // cached scan (self-as-of), and a custom binary node gets no
    // DeduplicateRelations help from the analyzer — fresh exprIds make the
    // two sides unambiguous
    val r = right.select(right.columns.toSeq.map(c => col(c).as(c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      plan.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val node = graft.plans.AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, key), attr(lPlan, tsCol),
      attr(rPlan, key), attr(rPlan, tsCol),
      valueCols.map(attr(rPlan, _)), backward, broadcastRight, tolerance)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark, node)
  }

  // ---------------------------------------------------------------- entries

  /** For every view event, the user's most recent purchase value at or
    * before that moment (point-in-time feature lookup). */
  private val asOfQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
    asOfBackward(views, purchases, "user_id", "ts", Seq("last_purchase"))
      .select("event_id", "user_id", "last_purchase")
      .orderBy("event_id")
  }

  /** Same query through the native exec — graded against the same oracle. */
  private val asOfNativeQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
    asOfBackwardNative(views, purchases, "user_id", "ts", Seq("last_purchase"))
      .select("event_id", "user_id", "last_purchase")
      .orderBy("event_id")
  }

  /** Next purchase at or after each view — the forward twin. */
  private val asOfForwardQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("next_purchase"))
    asOfForward(views, purchases, "user_id", "ts", Seq("next_purchase"))
      .select("event_id", "user_id", "next_purchase")
      .orderBy("event_id")
  }

  /** Forward lookup through the native exec — same forward oracle. */
  private val asOfForwardNativeQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("next_purchase"))
    asOfForwardNative(views, purchases, "user_id", "ts", Seq("next_purchase"))
      .select("event_id", "user_id", "next_purchase")
      .orderBy("event_id")
  }

  /** Same backward lookup through the broadcast exec — the purchase side
    * plays the small dimension; the view side is never shuffled. */
  private val asOfBroadcastQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
    asOfBackwardBroadcast(views, purchases, "user_id", "ts", Seq("last_purchase"))
      .select("event_id", "user_id", "last_purchase")
      .orderBy("event_id")
  }

  /** Tolerance for the graded entries: 72 hours in microseconds. */
  val TolMicros: Long = 72L * 3600 * 1000000

  /** Backward lookup bounded to a 72 h gap — `merge_asof(tolerance=...)`:
    * a purchase older than 3 days is stale and must NOT be carried. */
  private val asOfToleranceQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
    asOfBackward(views, purchases, "user_id", "ts", Seq("last_purchase"),
      tolerance = Some(TolMicros))
      .select("event_id", "user_id", "last_purchase")
      .orderBy("event_id")
  }

  /** Same bounded lookup through the native sort-merge exec (one extra
    * comparison in the merge loop) — same oracle. */
  private val asOfToleranceNativeQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
    asOfBackwardNative(views, purchases, "user_id", "ts", Seq("last_purchase"),
      tolerance = Some(TolMicros))
      .select("event_id", "user_id", "last_purchase")
      .orderBy("event_id")
  }

  /** Composite-key as-of: each event picks up the user's most recent
    * SAME-TYPE event value (self-as-of on (user_id, event_type)). The
    * reference side is pre-aggregated to one row per (key, ts) so tie
    * resolution is deterministic in both engines. */
  private val asOfMultiKeyQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val ref = ev.filter(col("value").isNotNull)
      .groupBy("user_id", "event_type", "ts")
      .agg(min(col("value")).as("prev_value"))
    asOfBackwardBy(ev.select("event_id", "user_id", "event_type", "ts"), ref,
      Seq("user_id", "event_type"), "ts", Seq("prev_value"))
      .select("event_id", "user_id", "event_type", "prev_value")
      .orderBy("event_id")
  }

  /** Nearest purchase to each view by absolute gap — ties go to the
    * at-or-before purchase (pandas `direction="nearest"` semantics). */
  private val asOfNearestQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("nearest_purchase"))
    asOfNearest(views, purchases, "user_id", "ts", Seq("nearest_purchase"))
      .select("event_id", "user_id", "nearest_purchase")
      .orderBy("event_id")
  }

  private val asOfOracle =
    """SELECT v.event_id, v.user_id, p.value AS last_purchase
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
      |ASOF LEFT JOIN
      |     (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id AND v.ts >= p.ts
      |ORDER BY v.event_id""".stripMargin

  private val asOfForwardOracle =
    """SELECT v.event_id, v.user_id, p.value AS next_purchase
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
      |ASOF LEFT JOIN
      |     (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id AND v.ts <= p.ts
      |ORDER BY v.event_id""".stripMargin

  // ASOF picks the nearest at-or-before row; the tolerance then nulls a
  // match whose gap exceeds 72 h (checking the chosen row is exhaustive —
  // any other candidate is farther). Same formulation as the engine.
  private val asOfToleranceOracle =
    """SELECT v.event_id, v.user_id,
      |       CASE WHEN p.ts IS NOT NULL
      |                 AND v.ts - p.ts <= INTERVAL 72 HOUR
      |            THEN p.value END AS last_purchase
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
      |ASOF LEFT JOIN
      |     (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id AND v.ts >= p.ts
      |ORDER BY v.event_id""".stripMargin

  // Two ASOF probes (at-or-before via >=, strictly-after via <) then the
  // distance pick — the forward probe is strict so the equal-ts row is
  // counted once, on the backward side, matching the engine's tag layout.
  private val asOfNearestOracle =
    """WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |     p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |     b AS (SELECT v.event_id, v.user_id, v.ts, p.ts AS bts, p.value AS bval
      |           FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts),
      |     f AS (SELECT v.event_id, p.ts AS fts, p.value AS fval
      |           FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts < p.ts)
      |SELECT b.event_id, b.user_id,
      |       CASE WHEN bts IS NULL THEN fval
      |            WHEN fts IS NULL THEN bval
      |            WHEN b.ts - bts <= fts - b.ts THEN bval
      |            ELSE fval END AS nearest_purchase
      |FROM b JOIN f USING (event_id)
      |ORDER BY b.event_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("asof_join_backward", asOfQ, Some(asOfOracle), headline = true),
    Entry("asof_join_nearest", asOfNearestQ, Some(asOfNearestOracle), headline = true),
    Entry("asof_join_native", asOfNativeQ, Some(asOfOracle), headline = true),
    Entry("asof_join_forward", asOfForwardQ, Some(asOfForwardOracle)),
    Entry("asof_join_forward_native", asOfForwardNativeQ, Some(asOfForwardOracle)),
    Entry("asof_join_broadcast", asOfBroadcastQ, Some(asOfOracle), headline = true),
    Entry("asof_join_tolerance", asOfToleranceQ, Some(asOfToleranceOracle)),
    Entry("asof_join_tolerance_native", asOfToleranceNativeQ,
      Some(asOfToleranceOracle), headline = true),
    Entry("asof_join_multikey", asOfMultiKeyQ, Some(
      """WITH ref AS (
        |  SELECT user_id, event_type, ts, min(value) AS prev_value
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT e.event_id, e.user_id, e.event_type, r.prev_value
        |FROM (SELECT event_id, user_id, event_type, ts FROM events) e
        |ASOF LEFT JOIN ref r
        |  ON e.user_id = r.user_id AND e.event_type = r.event_type
        | AND e.ts >= r.ts
        |ORDER BY e.event_id""".stripMargin), headline = true),
  )
}

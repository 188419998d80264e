package graft.operators

import graft.Tables
import graft.Ops.{Entry, Q, dsum}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Range (interval-containment) join — with the as-of join, the second
  * join family the reference lacks entirely (SURVEY §2.4: "no left, right,
  * anti, theta, range, as-of, or interval joins anywhere").
  *
  * The naive formulation — `points JOIN intervals ON ts >= start AND
  * ts < end` — has no equi-key, so Spark plans a broadcast nested loop (or
  * worse, a cartesian): O(|P|·|I|) comparisons, a non-starter when both
  * sides are large. The scalable form used here is BINNING:
  *
  *   1. bucket every point into a fixed-width time bin;
  *   2. explode every interval into the bins it covers;
  *   3. equi-join on the bin (hash-partitionable, broadcastable, AQE-aware);
  *   4. re-check exact containment on the survivors.
  *
  * Each point is compared only against intervals overlapping its bin —
  * O(|P| + |I|·width/bin + candidates). Bin width trades replication of the
  * interval side against candidate precision; at 100 TB both sides shuffle
  * once on the bin key and skew is handled by AQE like any equi-join.
  */
object RangeJoin {

  /** Attach every interval (with its payload columns) containing the point.
    * Interval semantics: half-open `[start, end)`. Points or intervals with
    * NULL bounds never match (same as the SQL inequality form). */
  def pointInInterval(points: DataFrame, intervals: DataFrame, ptCol: String,
                      startCol: String, endCol: String,
                      binSeconds: Long = 86400L): DataFrame = {
    val p = points.withColumn("__bin",
      floor(unix_timestamp(col(ptCol)) / binSeconds))
    val iv = intervals.withColumn("__bin", explode(sequence(
      floor(unix_timestamp(col(startCol)) / binSeconds),
      floor(unix_timestamp(col(endCol)) / binSeconds))))
    p.join(iv, Seq("__bin"))
      .filter(col(ptCol) >= col(startCol) && col(ptCol) < col(endCol))
      .drop("__bin")
  }

  /** Interval-overlap join: pair every left interval with every right
    * interval it overlaps (half-open: `s1 < e2 AND s2 < e1`). Same binning
    * idea as [[pointInInterval]], with one extra trick: a pair overlapping
    * across k shared bins would surface k times, so candidates are kept
    * ONLY in the bin containing the overlap start `max(s1, s2)` — each
    * true pair survives exactly once and the distinct/dedup shuffle the
    * naive formulation needs disappears. Both sides shuffle once on the
    * bin key; replication is bounded by interval-length/bin. */
  def intervalOverlap(left: DataFrame, right: DataFrame,
                      lStart: String, lEnd: String,
                      rStart: String, rEnd: String,
                      binSeconds: Long = 86400L): DataFrame = {
    def bins(df: DataFrame, s: String, e: String) =
      df.withColumn("__bin", explode(sequence(
        floor(unix_timestamp(col(s)) / binSeconds),
        floor(unix_timestamp(col(e)) / binSeconds))))
    bins(left, lStart, lEnd).join(bins(right, rStart, rEnd), Seq("__bin"))
      .filter(col(lStart) < col(rEnd) && col(rStart) < col(lEnd))
      .filter(col("__bin") ===
        floor(unix_timestamp(greatest(col(lStart), col(rStart))) / binSeconds))
      .drop("__bin")
  }

  // ---------------------------------------------------------------- entries

  /** Events joined to overlapping promo windows (w1/w2 overlap, so an event
    * can land in two), aggregated per window. Oracle = the plain inequality
    * join in DuckDB over the same literal intervals. */
  private val rangeJoinQ: Q = (s, dir) => {
    import s.implicits._
    val iv = Seq(
      ("w1", "2024-01-01", "2024-01-08"),
      ("w2", "2024-01-05", "2024-01-12"),
      ("w3", "2024-01-12", "2024-01-19"),
      ("w4", "2024-01-19", "2024-01-26"),
      ("w5", "2024-01-26", "2024-02-01"),
      ("w6", "2024-01-15", "2024-01-16"),
    ).toDF("window_id", "start_s", "end_s")
      .select(col("window_id"),
        col("start_s").cast(TimestampType).as("w_start"),
        col("end_s").cast(TimestampType).as("w_end"))
    pointInInterval(Tables(s, dir).events, iv, "ts", "w_start", "w_end")
      .groupBy("window_id")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("window_id")
  }

  /** Per-user-day activity intervals ([min ts, max ts + 1 s)) overlapped
    * with the promo windows — how many user-days touch each campaign. */
  private val overlapQ: Q = (s, dir) => {
    import s.implicits._
    val iv = Seq(
      ("w1", "2024-01-01", "2024-01-08"),
      ("w2", "2024-01-05", "2024-01-12"),
      ("w3", "2024-01-12", "2024-01-19"),
      ("w4", "2024-01-19", "2024-01-26"),
      ("w5", "2024-01-26", "2024-02-01"),
      ("w6", "2024-01-15", "2024-01-16"),
    ).toDF("window_id", "start_s", "end_s")
      .select(col("window_id"),
        col("start_s").cast(TimestampType).as("w_start"),
        col("end_s").cast(TimestampType).as("w_end"))
    val sessions = Tables(s, dir).events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("s_start"),
        (max(col("ts")) + expr("INTERVAL 1 SECOND")).as("s_end"))
    intervalOverlap(sessions, iv, "s_start", "s_end", "w_start", "w_end")
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_user_days"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("window_id")
  }

  val entries: Seq[Entry] = Seq(
    Entry("range_join_binned", rangeJoinQ, Some(
      """WITH iv(window_id, w_start, w_end) AS (VALUES
        |  ('w1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
        |  ('w2', TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-12'),
        |  ('w3', TIMESTAMP '2024-01-12', TIMESTAMP '2024-01-19'),
        |  ('w4', TIMESTAMP '2024-01-19', TIMESTAMP '2024-01-26'),
        |  ('w5', TIMESTAMP '2024-01-26', TIMESTAMP '2024-02-01'),
        |  ('w6', TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-16'))
        |SELECT window_id, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN iv ON e.ts >= iv.w_start AND e.ts < iv.w_end
        |GROUP BY 1 ORDER BY window_id""".stripMargin), headline = true),
    Entry("range_join_overlap", overlapQ, Some(
      """WITH iv(window_id, w_start, w_end) AS (VALUES
        |  ('w1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
        |  ('w2', TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-12'),
        |  ('w3', TIMESTAMP '2024-01-12', TIMESTAMP '2024-01-19'),
        |  ('w4', TIMESTAMP '2024-01-19', TIMESTAMP '2024-01-26'),
        |  ('w5', TIMESTAMP '2024-01-26', TIMESTAMP '2024-02-01'),
        |  ('w6', TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-16')),
        |sess AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         min(ts) AS s_start, max(ts) + INTERVAL 1 SECOND AS s_end
        |  FROM events GROUP BY 1, 2)
        |SELECT window_id, count(*) AS n_user_days,
        |       count(DISTINCT user_id) AS n_users
        |FROM sess JOIN iv ON sess.s_start < iv.w_end AND iv.w_start < sess.s_end
        |GROUP BY 1 ORDER BY window_id""".stripMargin), headline = true),
  )
}

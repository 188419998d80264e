package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Ops.{Entry, Q}
import graft.Tables

/** Incremental-computation operators — the "never recompute the world"
  * layer of a production pipeline. The reference's incrementality is
  * orchestrated monthly batch (Airflow `@monthly` + partition-scoped
  * overwrite + `ON CONFLICT DO NOTHING`, SURVEY §2.10); these operators
  * are the engine-side generalization:
  *
  *  - [[mergeAggState]]: maintain a grouped aggregate by MERGING a delta
  *    batch's partial state into the standing state table instead of
  *    re-aggregating the full fact table. The state carries mergeable
  *    components (count, exact decimal sum, min, max); derived stats
  *    (mean) are computed at read time. At 100 TB this turns a daily
  *    full-table aggregate into a delta-sized one: cost ∝ batch, like
  *    the incremental dedup entries ([[Dedup.jaccardPairsIncremental]]).
  *  - [[snapshotDiff]]: CDC between two snapshots of a keyed table —
  *    added / removed / changed classification via one full outer join
  *    on the key. The production shape for "what changed since the last
  *    run" when the source has no change feed; both sides shuffle once
  *    on the key (or co-partition for free if both snapshots are
  *    bucketed on it, `warehouse.Bucketing`).
  */
object Incremental {

  /** Mergeable per-group aggregate state: (group, n, s [exact decimal],
    * mn, mx). Computing this over a delta batch and [[mergeAggState]]-ing
    * it into the standing state equals recomputing over the union — the
    * algebraic property the oracle checks. */
  def aggState(df: DataFrame, groupCol: String, valCol: String): DataFrame =
    df.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(col(valCol).cast(DecimalType(18, 2))).as("s"),
      min(col(valCol)).as("mn"),
      max(col(valCol)).as("mx"))

  /** Merge any number of partial state tables into one: every component
    * is re-aggregated with its own combiner (counts and decimal sums add,
    * min/max fold). Associative + commutative, so state can be merged
    * shard-by-shard, day-by-day, in any order. */
  def mergeAggState(states: Seq[DataFrame], groupCol: String): DataFrame = {
    require(states.nonEmpty, "mergeAggState needs at least one state table")
    states.reduce(_ unionByName _)
      .groupBy(groupCol)
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))
  }

  /** Read-time view over merged state: exact totals plus derived mean. */
  def finalizeAggState(state: DataFrame, groupCol: String): DataFrame =
    state.select(col(groupCol), col("n"),
      round(col("s").cast(DoubleType), 2).as("revenue"),
      round(col("s").cast(DoubleType) / col("n"), 4).as("avg_price"),
      col("mn").as("min_price"), col("mx").as("max_price"))

  /** CDC diff of two keyed snapshots: one row per key that was added,
    * removed, or had `valCol` change — unchanged keys drop out. One full
    * outer join on the key; null-key classification happens on marker
    * columns (selected BEFORE the join) so null values in the payload
    * can't be mistaken for absence. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCol: String, valCol: String): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("k"), lit(1).as("__o"),
      col(valCol).as("old_val"))
    val n = newSnap.select(col(keyCol).as("k"), lit(1).as("__n"),
      col(valCol).as("new_val"))
    o.join(n, Seq("k"), "full_outer")
      .withColumn("change_type",
        when(col("__o").isNull, "added")
          .when(col("__n").isNull, "removed")
          .when(col("old_val") =!= col("new_val"), "changed"))
      .filter(col("change_type").isNotNull)
      .select(col("k").as(keyCol), col("change_type"),
        col("old_val"), col("new_val"))
  }

  /** Apply a CDC change log onto a keyed snapshot — the MERGE INTO shape
    * of a lakehouse table format (Delta/Iceberg merge, or the reference's
    * `ON CONFLICT` upsert generalized with deletes and out-of-order
    * arrivals). The log carries (key, payload, version, op ∈ I/U/D);
    * within a key the HIGHEST version wins (late-arriving older changes
    * are ignored), a winning D removes the row, a winning I/U replaces
    * the full row, and log keys absent from the snapshot insert.
    *
    * Scale shape: the latest-change-per-key window runs over the LOG
    * (delta-sized, partitioned by key — never a global window), then one
    * anti join carves the untouched snapshot rows and a union appends the
    * survivors. The snapshot shuffles once on the key — or not at all
    * when snapshot and log are both bucketed on it
    * ([[graft.warehouse.Bucketing]]). */
  def applyChangeLog(snapshot: DataFrame, changes: DataFrame, keyCol: String,
                     versionCol: String, opCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val latest = changes
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCol)
          .orderBy(col(versionCol).desc)))
      .filter(col("__rn") === 1)
      .drop("__rn", versionCol)
    val untouched = snapshot.join(latest.select(keyCol), Seq(keyCol), "left_anti")
    untouched.unionByName(
      latest.filter(col(opCol) =!= "D").drop(opCol))
  }

  // ---------------------------------------------------------------- entries

  /** Snapshot = keys not divisible by 5, delta = the rest: merged state
    * must equal the full-table aggregate (what the oracle computes). */
  private val aggMergeQ: Q = (s, dir) => {
    val o = Tables(s, dir).orders
    val snapshot = aggState(o.filter(col("o_orderkey") % 5 =!= 0),
      "o_orderpriority", "o_totalprice")
    val delta = aggState(o.filter(col("o_orderkey") % 5 === 0),
      "o_orderpriority", "o_totalprice")
    finalizeAggState(mergeAggState(Seq(snapshot, delta), "o_orderpriority"),
      "o_orderpriority")
      .orderBy("o_orderpriority")
  }

  /** Old snapshot = keys % 7 != 0 at base price; new snapshot = keys
    * % 11 != 0 with a +10.00 reprice on keys % 3 == 0 — yields all three
    * change classes deterministically. */
  private val snapshotDiffQ: Q = (s, dir) => {
    val o = Tables(s, dir).orders
    val old = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice").as("price"))
    val neu = o.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")).as("price"))
    snapshotDiff(old, neu, "o_orderkey", "price")
      .select(col("o_orderkey"), col("change_type"),
        round(col("old_val"), 2).as("old_val"),
        round(col("new_val"), 2).as("new_val"))
      .orderBy("o_orderkey")
  }

  /** Deterministic change log derived from the snapshot itself: keys
    * %10==0 get a delete; keys %10==1 get TWO updates (v1 +5.00, v2
    * +7.00 — latest-wins must surface +7); keys %10==2 spawn an insert
    * under a fresh key (base + 10^8). The oracle replays the identical
    * log with SQL window + anti-join semantics. */
  private val cdcApplyQ: Q = (s, dir) => {
    val o = Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_totalprice").as("price"))
    val deletes = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit(null).cast("double").as("price"),
        lit(1L).as("version"), lit("D").as("op"))
    val updates1 = o.filter(col("o_orderkey") % 10 === 1)
      .select(col("o_orderkey"), (col("price") + 5.0).as("price"),
        lit(1L).as("version"), lit("U").as("op"))
    val updates2 = o.filter(col("o_orderkey") % 10 === 1)
      .select(col("o_orderkey"), (col("price") + 7.0).as("price"),
        lit(2L).as("version"), lit("U").as("op"))
    val inserts = o.filter(col("o_orderkey") % 10 === 2)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        col("price"), lit(1L).as("version"), lit("I").as("op"))
    val log = deletes.unionByName(updates1).unionByName(updates2)
      .unionByName(inserts)
    applyChangeLog(o, log, "o_orderkey", "version", "op")
      .select(col("o_orderkey"), round(col("price"), 2).as("price"))
      .orderBy("o_orderkey")
  }

  val entries: Seq[Entry] = Seq(
    // the oracle recomputes from scratch; the engine must reach the same
    // numbers through the snapshot+delta merge path
    Entry("inc_agg_merge", aggMergeQ, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS revenue,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |             / count(*), 4) AS avg_price,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin), headline = true),
    Entry("inc_snapshot_diff", snapshotDiffQ, Some(
      """WITH o AS (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderkey % 7 != 0),
        |n AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
        |              ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 11 != 0),
        |d AS (
        |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |              WHEN n.o_orderkey IS NULL THEN 'removed'
        |              WHEN o.price != n.price THEN 'changed' END AS change_type,
        |         round(o.price, 2) AS old_val, round(n.price, 2) AS new_val
        |  FROM o FULL OUTER JOIN n USING (o_orderkey))
        |SELECT * FROM d WHERE change_type IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin), headline = true),
    Entry("inc_cdc_apply", cdcApplyQ, Some(
      """WITH snap AS (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders),
        |log AS (
        |  SELECT o_orderkey, CAST(NULL AS DOUBLE) AS price,
        |         1 AS version, 'D' AS op FROM snap WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, price + 5.0, 1, 'U' FROM snap WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderkey, price + 7.0, 2, 'U' FROM snap WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, price, 1, 'I' FROM snap
        |  WHERE o_orderkey % 10 = 2),
        |latest AS (
        |  SELECT o_orderkey, price, op FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |                                 ORDER BY version DESC) AS rn
        |    FROM log) WHERE rn = 1)
        |SELECT o_orderkey, round(price, 2) AS price FROM (
        |  SELECT s.o_orderkey, s.price FROM snap s
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l
        |                    WHERE l.o_orderkey = s.o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, price FROM latest WHERE op != 'D')
        |ORDER BY o_orderkey""".stripMargin), headline = true),
  )
}

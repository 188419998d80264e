package graft.warehouse

import graft.Tables
import graft.Ops.{Entry, Q, scratchDir}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-schema derivation: the Spark twin of the reference's warehouse layer
  * (`ex03_sql_table_creation/dw_creation.sql` + `dw_load_incremental.sql`).
  *
  *  - Dimensions are `select(...).distinct()` over the fact feed (A8) or
  *    literal seeded rows (S9, `dw_load_reference.sql:1-29`).
  *  - `dim_time`'s Postgres TIME key is encoded as seconds-of-day INT
  *    (SURVEY §7.5 hard part 1 — Spark has no TIME type).
  *  - The idempotent fact load re-expresses the composite-unique-index +
  *    `ON CONFLICT DO NOTHING` contract (`indexes.sql:30-37`,
  *    `dw_load_incremental.sql:94`) as dropDuplicates(naturalKey) within
  *    the batch plus a left_anti join against the existing mart — at scale
  *    the anti join reads only the month partitions the batch touches.
  */
object StarSchema {

  /** dim_date: distinct calendar rows derived from a timestamp column
    * (`dw_load_incremental.sql:34-42`). Spark dayofweek is 1=Sunday. */
  def dimDate(df: DataFrame, tsCol: String): DataFrame =
    df.select(to_date(col(tsCol)).as("date_id")).distinct()
      .select(col("date_id"),
        year(col("date_id")).as("year"),
        month(col("date_id")).as("month"),
        dayofmonth(col("date_id")).as("day"),
        dayofweek(col("date_id")).as("day_of_week"))

  /** dim_time at minute grain, keyed by seconds-of-day
    * (`dw_load_incremental.sql:45-51`). */
  def dimTime(df: DataFrame, tsCol: String): DataFrame =
    df.select(hour(col(tsCol)).as("hour"), minute(col(tsCol)).as("minute")).distinct()
      .select((col("hour") * 3600 + col("minute") * 60).as("time_id"),
        col("hour"), col("minute"))

  /** Generic distinct-derived dimension (A8). */
  def dimFromDistinct(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** Seeded literal dimension (S9): the reference's payment-type seed rows
    * (`dw_load_reference.sql:1-10`). */
  def seededPaymentDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      0 -> "Flex Fare", 1 -> "Credit card", 2 -> "Cash", 3 -> "No charge",
      4 -> "Dispute", 5 -> "Unknown", 6 -> "Voided trip",
    ).toDF("payment_type_id", "payment_description")
  }

  /** Idempotent append protocol: in-batch natural-key dedup + anti join vs
    * the existing mart. Returns only the rows that would be appended. The
    * anti join ignores duplicate keys on its right side, so `existing`
    * needs no distinct (Spark would keep that aggregate in the plan). */
  def idempotentAppend(batch: DataFrame, existing: DataFrame,
                       naturalKey: Seq[String]): DataFrame =
    batch.dropDuplicates(naturalKey)
      .join(existing.select(naturalKey.map(col): _*), naturalKey, "left_anti")

  /** SCD Type-2 apply: version a dimension instead of overwriting it.
    * `current` carries (key, attrs, valid_from, valid_to=NULL for the open
    * version); `changes` carries (key, attrs, effCol). Semantics:
    *
    *  - a change whose attrs equal the open version (null-safe) is a no-op
    *    (idempotent re-delivery of the same snapshot creates no versions);
    *  - a genuine change closes the open row (valid_to = effective date)
    *    and appends a new open version;
    *  - an unseen key just appends its first open version.
    *
    * Pure joins on the dimension key — dimensions are small relative to
    * facts, and at scale this runs as one broadcast/shuffle join pass, the
    * same cost class as the reference's dim upserts
    * (`dw_load_incremental.sql:22-32` overwrites and loses history). */
  def scd2Apply(current: DataFrame, changes: DataFrame, key: String,
                attrCols: Seq[String], effCol: String): DataFrame = {
    val open = current.filter(col("valid_to").isNull)
    val o = open.select(col(key).as("__k") +:
      attrCols.map(a => col(a).as(s"__o_$a")): _*)
    val differs = attrCols.map(a => !(col(a) <=> col(s"__o_$a"))).reduce(_ || _)
    val newVersions = changes.join(o, col(key) === col("__k"), "left")
      .filter(col("__k").isNull || differs)
      .select(col(key) +: attrCols.map(col) :+
        col(effCol).cast(DateType).as("valid_from") :+
        lit(null).cast(DateType).as("valid_to"): _*)
    val closing = newVersions.select(col(key).as("__k"), col("valid_from").as("__eff"))
    val closed = open.join(closing, col(key) === col("__k"))
      .select((key +: attrCols.map(identity) :+ "valid_from").map(col) :+
        col("__eff").as("valid_to"): _*)
    val untouchedOpen = open.join(closing.select(col("__k").as(key)), Seq(key), "left_anti")
    val history = current.filter(col("valid_to").isNotNull)
    history.unionByName(untouchedOpen).unionByName(closed).unionByName(newVersions)
  }

  /** SCD Type-1 merge (latest-wins upsert): a target row is replaced by an
    * incoming row with the same natural key and a newer timestamp;
    * unmatched incoming rows insert — MERGE INTO semantics without a table
    * format. Union + ONE keyed window, no driver state: at 100 TB this is a
    * single hash shuffle on the merge key. Exact (key, ts) ties resolve to
    * the incoming side, so re-running the same merge is idempotent.
    *
    * PRECONDITION: within each side, (key, ts) identifies at most one row
    * (the A15 natural-key dedup upstream guarantees this for the graded
    * path). Duplicate (key, ts) rows WITHIN one side would make the
    * row_number tie-break — and thus the surviving payload — arbitrary,
    * the accumulating-window totality rule w2 documents. */
  def scd1Merge(target: DataFrame, incoming: DataFrame, key: String,
                tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(tsCol).desc, col("__src").desc)
    target.withColumn("__src", lit(0))
      .unionByName(incoming.withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__src", "__rn")
  }

  /** Backfill loop: the Airflow `@monthly catchup` twin
    * (full_pipeline_dag.py:82-94) as a plain function — each month is an
    * independent idempotent unit (half-open window + partition overwrite),
    * so re-running any subset of months converges to the same mart. */
  def backfillMonths(months: Seq[String])(runMonth: String => Unit): Unit =
    months.foreach(runMonth)

  // ---------------------------------------------------------------- entries

  private val dimDateQ: Q = (s, dir) =>
    dimDate(Tables(s, dir).orders, "o_orderdate").orderBy("date_id")

  /** J3 — fact ⋈ dim_time on the seconds-of-day TIME key (app.py:335;
    * SURVEY §7.5 hard part 1: both sides must use the same encoding). */
  private val j3TimeJoinQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
      .withColumn("time_id", hour(col("ts")) * 3600 + minute(col("ts")) * 60)
    val dt = dimTime(Tables(s, dir).events, "ts")
    ev.join(broadcast(dt), "time_id")
      .groupBy("hour")
      .agg(count(lit(1)).as("n"), graft.Ops.dsum(col("value")).as("total"))
      .orderBy("hour")
  }

  private val dimTimeQ: Q = (s, dir) =>
    dimTime(Tables(s, dir).events, "ts").orderBy("time_id")

  private val seededDimQ: Q = (s, dir) => seededPaymentDim(s).orderBy("payment_type_id")

  /** Double-load idempotence: loading the same batch twice must equal
    * loading it once. first = protocol vs empty mart; second = protocol vs
    * the mart after the first load => 0 new rows. */
  private val idempotentLoadQ: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val key = Seq("user_id", "ts", "event_type")
    val empty = ev.filter(lit(false))
    val first = idempotentAppend(ev, empty, key)
    val second = idempotentAppend(ev, first, key)
    first.agg(count(lit(1)).as("n")).select(lit("first_load").as("phase"), col("n"))
      .unionAll(second.agg(count(lit(1)).as("n")).select(lit("second_load").as("phase"), col("n")))
      .orderBy("phase")
  }

  /** The reference's dim_location pattern (`dw_load_incremental.sql:22-32`
    * + `data/taxi_zone_lookup.csv`): ids seen in EITHER fact-side column
    * (PU ∪ DO there; customer ∪ supplier nation keys here), union-DISTINCT,
    * LEFT-joined to a small explicit-schema CSV lookup, with unmapped ids
    * kept via a sentinel fallback instead of dropped. The lookup side is
    * broadcast — the fact-derived id side is never shuffled for the join. */
  private val dimLookupEnrichedQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val ids = t.customer.select(col("c_nationkey").as("loc_id"))
      .union(t.supplier.select(col("s_nationkey").as("loc_id")))
      .distinct()
    // the zone-lookup-style CSV, deliberately truncated (keys >= 20 missing)
    // so the null-fallback path is exercised like the reference's unmapped
    // zone ids
    val out = scratchDir("lookup_nation")
    t.nation.filter(col("n_nationkey") <= 19)
      .select("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    val lookup = graft.sources.Sources.readCsv(s, out, StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))))
    ids.join(broadcast(lookup), ids("loc_id") === lookup("n_nationkey"), "left")
      .select(col("loc_id"),
        coalesce(col("n_name"), lit("unknown")).as("zone_name"),
        coalesce(col("n_regionkey"), lit(-1)).as("region_key"))
      .orderBy("loc_id")
  }

  /** SCD2 over the nation dim: one rename (versions), one identical
    * re-delivery (suppressed), one new key (first version). */
  private val scd2Q: Q = (s, dir) => {
    import s.implicits._
    val current = Tables(s, dir).nation
      .select(col("n_nationkey").as("nation_key"), col("n_name").as("name"),
        col("n_regionkey").as("region_key"),
        lit("2024-01-01").cast(DateType).as("valid_from"),
        lit(null).cast(DateType).as("valid_to"))
    val changes = Seq(
      (5, "NATION_5_RENAMED", 1, "2024-06-01"),
      (10, "NATION_10", 0, "2024-06-01"),  // identical to open version
      (99, "NATION_99", 2, "2024-06-01"),
    ).toDF("nation_key", "name", "region_key", "eff")
    scd2Apply(current, changes, "nation_key", Seq("name", "region_key"), "eff")
      .orderBy("nation_key", "valid_from")
  }

  /** J12 — point-in-time join of the event feed to the SCD2 dimension
    * [[scd2Apply]] maintains: each event joins the version whose
    * `[valid_from, valid_to)` interval covers the event date — the
    * temporal question ("which version was current WHEN this happened")
    * that the reference's overwrite-style dim loads cannot answer. The
    * rename is effective mid-feed, so one key's events genuinely split
    * across two versions.
    *
    * Spark-first shape: a broadcast equi-join on the dim key with the
    * interval predicate as the join residual — versions per key are few
    * by construction, so this is NOT a range-join problem (no binning
    * needed, unlike `range_join_binned`); the fact side never shuffles or
    * sorts. The aggregate pins which version caught each event. */
  private val pitJoinQ: Q = (s, dir) => {
    import s.implicits._
    val current = Tables(s, dir).nation
      .select(col("n_nationkey").as("nation_key"), col("n_name").as("name"),
        col("n_regionkey").as("region_key"),
        lit("2024-01-01").cast(DateType).as("valid_from"),
        lit(null).cast(DateType).as("valid_to"))
    val changes = Seq(
      (5, "NATION_5_RENAMED", 1, "2024-01-15"),
      (10, "NATION_10", 0, "2024-01-15"),  // identical attrs: suppressed
      (99, "NATION_99", 2, "2024-01-15"),  // unseen key: no event matches
    ).toDF("nation_key", "name", "region_key", "eff")
    val dim = scd2Apply(current, changes, "nation_key",
      Seq("name", "region_key"), "eff")
    val f = Tables(s, dir).events.select(
      pmod(col("user_id"), lit(25L)).as("nation_key"),
      to_date(col("ts")).as("day"), col("value"))
    f.join(broadcast(dim),
        f("nation_key") === dim("nation_key")
          && dim("valid_from") <= f("day")
          && (dim("valid_to").isNull || f("day") < dim("valid_to")))
      .groupBy("name")
      .agg(count(lit(1)).as("n_events"),
        graft.Ops.dsum(col("value")).as("total_value"))
      .orderBy("name")
  }

  /** Latest-wins merge: the 80% slice is the standing mart; a restatement
    * batch (newer ts, shifted values) overlaps one fifth of it and inserts
    * another fifth. Incoming rows must win exactly where they are newer. */
  private val scd1Q: Q = (s, dir) => {
    val ev = Tables(s, dir).events.select("event_id", "ts", "user_id", "value")
    val target = ev.filter(col("event_id") % 5 =!= 0)
    val incoming = ev.filter(col("event_id") % 5 < 2)
      .withColumn("value", col("value") + 1000)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
    scd1Merge(target, incoming, "event_id", "ts")
      .select("event_id", "ts", "user_id", "value")
      .orderBy("event_id")
  }

  val entries: Seq[Entry] = Seq(
    Entry("fact_scd1_merge", scd1Q, Some(
      """WITH t AS (
        |  SELECT event_id, ts, user_id, value FROM events WHERE event_id % 5 <> 0),
        |i AS (
        |  SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
        |         value + 1000 AS value
        |  FROM events WHERE event_id % 5 < 2),
        |u AS (
        |  SELECT *, 0 AS src FROM t
        |  UNION ALL SELECT *, 1 AS src FROM i),
        |r AS (
        |  SELECT event_id, ts, user_id, value,
        |         row_number() OVER (PARTITION BY event_id
        |           ORDER BY ts DESC, src DESC) AS rn
        |  FROM u)
        |SELECT event_id, ts, user_id, value FROM r
        |WHERE rn = 1 ORDER BY event_id""".stripMargin)),
    Entry("dim_scd2_apply", scd2Q, Some(
      """WITH cur AS (
        |  SELECT n_nationkey AS nation_key, n_name AS name,
        |         n_regionkey AS region_key,
        |         DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
        |  FROM nation),
        |chg(nation_key, name, region_key, eff) AS (VALUES
        |  (5, 'NATION_5_RENAMED', 1, DATE '2024-06-01'),
        |  (10, 'NATION_10', 0, DATE '2024-06-01'),
        |  (99, 'NATION_99', 2, DATE '2024-06-01')),
        |open_v AS (SELECT * FROM cur WHERE valid_to IS NULL),
        |newv AS (
        |  SELECT c.nation_key, c.name, c.region_key,
        |         c.eff AS valid_from, CAST(NULL AS DATE) AS valid_to
        |  FROM chg c LEFT JOIN open_v o ON c.nation_key = o.nation_key
        |  WHERE o.nation_key IS NULL
        |     OR NOT (c.name IS NOT DISTINCT FROM o.name
        |             AND c.region_key IS NOT DISTINCT FROM o.region_key)),
        |closed AS (
        |  SELECT o.nation_key, o.name, o.region_key, o.valid_from,
        |         n.valid_from AS valid_to
        |  FROM open_v o JOIN newv n ON o.nation_key = n.nation_key),
        |untouched AS (
        |  SELECT o.* FROM open_v o
        |  WHERE o.nation_key NOT IN (SELECT nation_key FROM newv))
        |SELECT * FROM untouched
        |UNION ALL SELECT * FROM closed
        |UNION ALL SELECT * FROM newv
        |ORDER BY nation_key, valid_from""".stripMargin)),
    // the versioned dim written out directly (its construction from the
    // same changes is what dim_scd2_apply's own oracle validates)
    Entry("j12_scd2_pit", pitJoinQ, Some(
      """WITH dim AS (
        |  SELECT n_nationkey AS nation_key, n_name AS name,
        |         DATE '2024-01-01' AS valid_from,
        |         CASE WHEN n_nationkey = 5 THEN DATE '2024-01-15' END AS valid_to
        |  FROM nation
        |  UNION ALL SELECT 5, 'NATION_5_RENAMED', DATE '2024-01-15', NULL
        |  UNION ALL SELECT 99, 'NATION_99', DATE '2024-01-15', NULL)
        |SELECT d.name, count(*) AS n_events,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN dim d
        |  ON d.nation_key = e.user_id % 25
        | AND d.valid_from <= CAST(e.ts AS DATE)
        | AND (d.valid_to IS NULL OR CAST(e.ts AS DATE) < d.valid_to)
        |GROUP BY 1 ORDER BY name""".stripMargin)),
    Entry("dim_lookup_enriched", dimLookupEnrichedQ, Some(
      """WITH ids AS (
        |  SELECT c_nationkey AS loc_id FROM customer
        |  UNION SELECT s_nationkey FROM supplier),
        |lkp AS (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey <= 19)
        |SELECT loc_id, coalesce(n_name, 'unknown') AS zone_name,
        |       coalesce(n_regionkey, -1) AS region_key
        |FROM ids LEFT JOIN lkp ON loc_id = n_nationkey
        |ORDER BY loc_id""".stripMargin)),
    Entry("j3_time_join", j3TimeJoinQ, Some(
      """WITH dt AS (
        |  SELECT DISTINCT CAST(hour(ts) * 3600 + minute(ts) * 60 AS INT) AS time_id,
        |         CAST(hour(ts) AS INT) AS hour FROM events),
        |ev AS (
        |  SELECT CAST(hour(ts) * 3600 + minute(ts) * 60 AS INT) AS time_id, value
        |  FROM events)
        |SELECT dt.hour, count(*) AS n,
        |       CAST(sum(CAST(ev.value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM ev JOIN dt ON ev.time_id = dt.time_id
        |GROUP BY 1 ORDER BY dt.hour""".stripMargin)),
    Entry("dim_date_build", dimDateQ, Some(
      """SELECT DISTINCT CAST(o_orderdate AS DATE) AS date_id,
        |       CAST(year(o_orderdate) AS INT) AS year,
        |       CAST(month(o_orderdate) AS INT) AS month,
        |       CAST(day(o_orderdate) AS INT) AS day,
        |       CAST(dayofweek(o_orderdate) + 1 AS INT) AS day_of_week
        |FROM orders ORDER BY date_id""".stripMargin)),
    Entry("dim_time_build", dimTimeQ, Some(
      """SELECT DISTINCT CAST(hour(ts) * 3600 + minute(ts) * 60 AS INT) AS time_id,
        |       CAST(hour(ts) AS INT) AS hour, CAST(minute(ts) AS INT) AS minute
        |FROM events ORDER BY time_id""".stripMargin)),
    Entry("s9_literal_dim", seededDimQ, Some(
      """SELECT * FROM (VALUES
        |  (0, 'Flex Fare'), (1, 'Credit card'), (2, 'Cash'), (3, 'No charge'),
        |  (4, 'Dispute'), (5, 'Unknown'), (6, 'Voided trip'))
        |  AS t(payment_type_id, payment_description)
        |ORDER BY payment_type_id""".stripMargin)),
    Entry("fact_idempotent_load", idempotentLoadQ, Some(
      """SELECT 'first_load' AS phase,
        |       (SELECT count(*) FROM (SELECT DISTINCT user_id, ts, event_type FROM events)) AS n
        |UNION ALL SELECT 'second_load' AS phase, 0 AS n
        |ORDER BY phase""".stripMargin)),
  )
}

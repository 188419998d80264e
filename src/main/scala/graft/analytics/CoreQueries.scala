package graft.analytics

import graft.{Ops, Tables}
import graft.Ops.{Entry, Q, dsum, dsumWide, dmean, pct}
import graft.operators.Cleaning

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The relational core of the engine's query surface, re-expressing the
  * reference's analytics/cleaning operators (SURVEY.md §2) over the testdata
  * star schema: `lineitem`/`orders` play fact_trip, `customer`/`nation`/
  * `region` play the dimensions, `events` plays the raw trip feed.
  *
  * Reference sites are cited per entry. Every entry here has a DuckDB oracle
  * in [[oracles]]; all outputs carry a deterministic total ORDER BY and
  * decimal-routed sums (see [[graft.Ops]]) so hashes are engine-stable.
  *
  * Scale notes (100 TB discipline):
  *  - dimension joins broadcast explicitly (`broadcast(nation)`) — never
  *    shuffle a 100-TB fact for a 25-row dim;
  *  - global sorts appear only on already-aggregated (small) results;
  *    top-k goes through orderBy+limit => TakeOrderedAndProject;
  *  - all filters/projections are pure Column exprs => parquet pushdown.
  */
object CoreQueries {

  // ---------------------------------------------------------------- cleaning

  /** P1 — cast projection as ONE select (Ex02DataIngestion.scala:50-68). */
  private val p1CastProjection: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem
    Cleaning.castProjection(li, Seq(
      "l_orderkey" -> IntegerType,
      "l_linenumber" -> LongType,
      "l_shipdate" -> DateType))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** P2 — half-open month window (Ex02DataIngestion.scala:33-42,72-77). */
  private val p2MonthWindow: Q = (s, dir) =>
    Cleaning.monthWindow(Tables(s, dir).events, "ts", 2024, 1)
      .select("event_id", "ts", "event_type")
      .orderBy("event_id")

  /** P3 — null/non-negative guards incl. nullable asymmetry
    * (Ex02DataIngestion.scala:80-87). */
  private val p3NullGuards: Q = (s, dir) =>
    Cleaning.nullGuards(Tables(s, dir).events,
      requiredNonNull = Seq("ts", "event_type"),
      nonNegative = Seq("value"),
      keepNullable = Seq("user_id"))
      .select("event_id", "user_id", "value")
      .orderBy("event_id")

  /** P7 — rename/select projection (Ex02DataIngestion.scala:131-151). */
  private val p7RenameSelect: Q = (s, dir) =>
    Tables(s, dir).lineitem.select(
      col("l_orderkey").as("okey"),
      col("l_linenumber").as("lno"),
      col("l_quantity").as("qty"),
      col("l_returnflag").as("rflag"))
      .orderBy("okey", "lno")

  /** P8 — CASE-WHEN price bucketing (error_analysis.py:229-234). */
  private val p8Bucketize: Q = (s, dir) =>
    Tables(s, dir).orders
      .withColumn("bucket", Cleaning.bucketize(col("o_totalprice"),
        Seq(50000.0 -> "low", 150000.0 -> "medium", 300000.0 -> "high"),
        "very_high"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("bucket")

  /** P9 — range predicate + LIMIT scatter query (ex04 notebook cell 30),
    * made deterministic with a total order before the limit. */
  private val p9RangeLimit: Q = (s, dir) =>
    Tables(s, dir).lineitem
      .filter(col("l_quantity") > 0 && col("l_extendedprice") <= 50000)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
      .limit(5000)

  /** P10 — BETWEEN + isin dashboard filters (streamlit app.py:248-251). */
  private val p10BetweenIsin: Q = (s, dir) =>
    Tables(s, dir).orders
      .filter(col("o_orderdate").between(
        lit("1996-01-01").cast(TimestampType), lit("1997-12-31").cast(TimestampType)) &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")

  /** P11 — sign-based error counts as ONE conditional aggregate
    * (error_analysis.py:192-193; avoids the two-job count/count pattern). */
  private val p11SignCounts: Q = (s, dir) =>
    Tables(s, dir).customer.agg(
      sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("neg_n"),
      sum(when(col("c_acctbal") > 0, 1L).otherwise(0L)).as("pos_n"),
      dsum(abs(col("c_acctbal"))).as("abs_total"))

  // ------------------------------------------------------------ aggregations

  /** A1 — global KPI aggregate (app.py:239-252). */
  private val a1KpiGlobal: Q = (s, dir) =>
    Tables(s, dir).lineitem.agg(
      count(lit(1)).as("n_rows"),
      dsum(col("l_extendedprice")).as("sum_price"),
      dmean(col("l_extendedprice")).as("avg_price"),
      dmean(col("l_quantity")).as("avg_qty"))

  /** A2 — MIN/MAX available date range (app.py:151-156). */
  private val a2MinMax: Q = (s, dir) =>
    Tables(s, dir).orders.agg(
      min(to_date(col("o_orderdate"))).as("min_date"),
      max(to_date(col("o_orderdate"))).as("max_date"))

  /** A3 — conditional null-count profile (ex04 notebook cells 5,7). */
  private val a3NullProfile: Q = (s, dir) =>
    Tables(s, dir).events.agg(
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_value"),
      sum(when(col("value") < 0, 1L).otherwise(0L)).as("neg_value"))

  /** A4/T1 — group-by-day series, ordered ascending (app.py:287-300). */
  private val a4DailySeries: Q = (s, dir) =>
    Tables(s, dir).orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("day")

  /** A5 — two-key group-by count (app.py:403-418 borough/zone analog). */
  private val a5TwoKeyGroup: Q = (s, dir) =>
    Tables(s, dir).lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A6/T2 — group-by sum ranked descending (notebook cell 27 payment revenue). */
  private val a6GroupSumDesc: Q = (s, dir) =>
    Tables(s, dir).orders
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(desc("revenue"), asc("o_orderpriority"))

  /** A7 — DISTINCT projection for dashboard filter lists (app.py:188-207). */
  private val a7DistinctList: Q = (s, dir) =>
    Tables(s, dir).customer.select("c_mktsegment").distinct().orderBy("c_mktsegment")

  /** A9/A13 — multi-stat summary with order-independent stddev
    * (error_analysis.py:176-188; eda.py:47). stddev from exact decimal
    * sum/sumsq so the value is partition-order-stable. */
  private val a9MultiStat: Q = (s, dir) => {
    val x = col("o_totalprice")
    // one percentile aggregate with an array of targets: a single counts-map
    // state pass instead of three (the Percentile agg state dominates cost)
    Tables(s, dir).orders.agg(
      count(lit(1)).as("n"),
      dsum(x).as("s1"),
      dsumWide(x * x).as("s2"),
      min(x).as("min_v"), max(x).as("max_v"),
      call_function("graft_percentile", x,
        array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
      .select(col("n"),
        round(col("s1") / col("n"), 4).as("mean_v"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)), 4)
          .as("stddev_v"),
        col("min_v"), col("max_v"),
        round(col("qs").getItem(0), 4).as("q25"),
        round(col("qs").getItem(1), 4).as("q50"),
        round(col("qs").getItem(2), 4).as("q75"))
  }

  /** A10 — percentile profile (error_analysis.py:183-187). Exact interpolated
    * percentile for oracle parity; percentile_approx is the 100-TB variant and
    * is exercised (rows-only) by `a10_percentile_approx`. */
  private val a10Percentiles: Q = (s, dir) => {
    val x = col("l_extendedprice")
    Tables(s, dir).lineitem.agg(
      call_function("graft_percentile", x,
        array(Seq(0.25, 0.5, 0.75, 0.95, 0.99).map(lit): _*)).as("qs"))
      .select(
        round(col("qs").getItem(0), 4).as("p25"),
        round(col("qs").getItem(1), 4).as("p50"),
        round(col("qs").getItem(2), 4).as("p75"),
        round(col("qs").getItem(3), 4).as("p95"),
        round(col("qs").getItem(4), 4).as("p99"))
  }

  /** A10c — exact percentiles PER GROUP (the sliced twin of [[a10Percentiles]]):
    * one hash-partitioned aggregation keyed by the group column — each
    * group's sort is partition-local, so the operator scales with the
    * largest group, not the table. */
  private val a10PercentilesGrouped: Q = (s, dir) => {
    val x = col("l_extendedprice")
    Tables(s, dir).lineitem.groupBy(col("l_returnflag"))
      .agg(call_function("graft_percentile", x,
        array(Seq(0.5, 0.9, 0.99).map(lit): _*)).as("qs"))
      .select(col("l_returnflag"),
        round(col("qs").getItem(0), 4).as("p50"),
        round(col("qs").getItem(1), 4).as("p90"),
        round(col("qs").getItem(2), 4).as("p99"))
      .orderBy("l_returnflag")
  }

  /** A10b — approx percentile, the actual at-scale operator (single pass,
    * mergeable KLL-style sketch), TOLERANCE-GRADED (VERDICT r7 item 3):
    * the entry emits the exact interpolated percentiles (which the DuckDB
    * oracle reproduces bit-for-bit) plus within-bound flags pinning the
    * sketch answer to ±0.5% relative of the exact one at accuracy=10000
    * (rank error 1e-4 — far tighter than 0.5% in value on this
    * distribution, so the bound is loose enough to be stable and tight
    * enough to catch a broken sketch). Both aggregates run in the SAME
    * single-pass agg, so the sketch path itself is still exercised. */
  private val a10Approx: Q = (s, dir) => {
    val x = col("l_extendedprice")
    val eps = 0.005
    Tables(s, dir).lineitem.agg(
      percentile_approx(x, array(lit(0.5), lit(0.95)), lit(10000)).as("qa"),
      call_function("graft_percentile", x, array(lit(0.5), lit(0.95))).as("qe"))
      .select(
        round(col("qe").getItem(0), 4).as("p50_exact"),
        round(col("qe").getItem(1), 4).as("p95_exact"),
        (abs(col("qa").getItem(0) - col("qe").getItem(0))
          <= lit(eps) * col("qe").getItem(0)).as("p50_within_eps"),
        (abs(col("qa").getItem(1) - col("qe").getItem(1))
          <= lit(eps) * col("qe").getItem(1)).as("p95_within_eps"))
  }

  /** A11 — grouped error stats incl. RMSE per price bucket
    * (error_analysis.py:237-243), with a deterministic linear "prediction". */
  private val a11ErrorBuckets: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem
      .withColumn("err", col("l_extendedprice") - (col("l_quantity") * 1000.0 + 500.0))
    li.withColumn("bucket", Cleaning.bucketize(col("l_extendedprice"),
        Seq(10000.0 -> "low", 30000.0 -> "medium", 60000.0 -> "high"), "very_high"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        round(dsumWide(col("err")) / count(lit(1)), 4).as("mean_err"),
        round(dsumWide(abs(col("err"))) / count(lit(1)), 4).as("mae"),
        round(sqrt(dsumWide(col("err") * col("err")) / count(lit(1))), 4).as("rmse"),
        round(pct(col("err"), 0.5), 4).as("median_err"))
      .orderBy("bucket")
  }

  /** A12 — per-column missing-ratio profile (eda.py:41-46). */
  private val a12MissingRatio: Q = (s, dir) =>
    Tables(s, dir).events.agg(
      round(avg(col("user_id").isNull.cast(DoubleType)), 6).as("miss_user"),
      round(avg(col("value").isNull.cast(DoubleType)), 6).as("miss_value"),
      round(avg(col("props").isNull.cast(DoubleType)), 6).as("miss_props"))

  /** A14 — regression metrics (RMSE/MAE/R²) as one aggregate pass
    * (trainer.py:130-152), deterministic via decimal sums. */
  private val a14RegMetrics: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem
      .withColumn("label", col("l_extendedprice"))
      .withColumn("pred", col("l_quantity") * 1000.0 + 500.0)
      .withColumn("err", col("label") - col("pred"))
    li.agg(
      count(lit(1)).as("n"),
      dsum(col("label")).as("s1"),
      dsumWide(col("label") * col("label")).as("s2"),
      dsumWide(col("err") * col("err")).as("sse"),
      dsumWide(abs(col("err"))).as("sae"))
      .select(col("n"),
        round(sqrt(col("sse") / col("n")), 4).as("rmse"),
        round(col("sae") / col("n"), 4).as("mae"),
        round(lit(1.0) - col("sse") / (col("s2") - col("s1") * col("s1") / col("n")), 6)
          .as("r2"))
  }

  /** A15 — natural-key dedup contract (indexes.sql:30-37,
    * dw_load_incremental.sql:94): batch dedup cardinality vs raw. */
  private val a15DedupCount: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    ev.agg(
      count(lit(1)).as("raw_rows"),
      count_distinct(struct(col("user_id"), col("ts"), col("event_type")))
        .as("dedup_rows"))
  }

  // ------------------------------------------------------------------- joins

  /** J1 — fact ⋈ tiny dim, explicitly broadcast (app.py:246 etc.). */
  private val j1BroadcastDim: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer.join(broadcast(t.nation),
        t.customer("c_nationkey") === t.nation("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("acct_total"))
      .orderBy("n_name")
  }

  /** J2 — fact ⋈ fact-side dim on the join key (app.py:247 analog):
    * lineitem ⋈ orders, shuffle-hash/sort-merge territory at scale. */
  private val j2FactJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.lineitem.join(t.orders, t.lineitem("l_orderkey") === t.orders("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        dsumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** J4 — chained star join (app.py:330-344): lineitem ⋈ orders ⋈ customer
    * ⋈ broadcast(nation) ⋈ broadcast(region), revenue per region. */
  private val j4StarJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.lineitem
      .join(t.orders, t.lineitem("l_orderkey") === t.orders("o_orderkey"))
      .join(t.customer, t.orders("o_custkey") === t.customer("c_custkey"))
      .join(broadcast(t.nation), t.customer("c_nationkey") === t.nation("n_nationkey"))
      .join(broadcast(t.region), t.nation("n_regionkey") === t.region("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_items"),
        dsumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("r_name")
  }

  /** J8 — fact ⋈ mid-size dim (part): revenue by brand. Bigger than the
    * broadcast threshold at real scale => shuffle-hash/sort-merge territory;
    * Catalyst/AQE picks, stats decide. */
  private val j8PartJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.lineitem.join(t.part, t.lineitem("l_partkey") === t.part("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        dsumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        dsum(col("p_retailprice")).as("retail_total"))
      .orderBy("p_brand")
  }

  /** J5 — FK-violation check as left_anti (dw_creation.sql:63-71 analog):
    * customers that never ordered. */
  private val j5AntiJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer.join(t.orders, t.customer("c_custkey") === t.orders("o_custkey"),
        "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")
  }

  /** J6 — left_semi (EXISTS) twin of J5. */
  private val j6SemiJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer.join(t.orders, t.customer("c_custkey") === t.orders("o_custkey"),
        "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** J7 — left outer join with null-side aggregation. */
  private val j7LeftOuter: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer.join(t.orders, t.customer("c_custkey") === t.orders("o_custkey"),
        "left_outer")
      .groupBy("c_mktsegment")
      .agg(sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_no_orders"),
        count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** J10 — null-safe equi join (`<=>`): NULL keys match each other instead
    * of disappearing, the semantics dedup/reconciliation jobs need when the
    * join key itself can be absent. Keys are derived (nullif of a modulus)
    * so both engines see identical nullable values; the null bucket would
    * be a mega-hot key at scale — exactly the case [[graft.operators.Skew]]
    * salting exists for — so the aggregate keeps it as its own group. */
  private val j10NullSafeJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    val a = t.supplier.select(col("s_suppkey"),
      nullif(col("s_suppkey") % 7, lit(0)).as("k"))
    val b = t.supplier.select(col("s_suppkey").as("b_suppkey"),
      nullif(col("s_suppkey") % 7, lit(0)).as("k2"))
    a.join(b, col("k") <=> col("k2"))
      .groupBy(coalesce(col("k"), lit(-1)).as("key_group"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("key_group")
  }

  // ----------------------------------------------------- sorts / top-k / rank

  /** T3 + W1 — top-10 by aggregate with rank column (app.py:403-421):
    * TakeOrderedAndProject first, then row_number over the tiny result —
    * never a global window over the fact. */
  private val t3TopkRank: Q = (s, dir) => {
    val top = Tables(s, dir).orders
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(desc("revenue"), asc("o_custkey"))
      .limit(10)
    top.withColumn("rank",
      row_number().over(Window.orderBy(desc("revenue"), asc("o_custkey"))))
      .select("rank", "o_custkey", "n", "revenue")
  }

  // ---------------------------------------------------------------- windows

  /** W2 — running per-partition cumulative sum (beyond-parity window op;
    * quantities are integral doubles so the cumulative sum is FP-exact).
    *
    * The window order ends in l_quantity because (orderkey, linenumber) is
    * NOT unique in the synthetic feed (sf0.1 has a (suppkey, shipdate,
    * orderkey, linenumber) tuple duplicated with two DIFFERENT
    * quantities): an accumulating window over a non-total order hands the
    * tied rows each other's prefix sums nondeterministically — caught as
    * a sometimes-flaking sf0.1 hash in round 7. With quantity as the
    * final key, any remaining ties are identical in every output column,
    * so the result multiset is order-invariant. The general rule: an
    * ACCUMULATING window's ORDER BY must be total up to output-identical
    * rows (rank()/dense_rank() tolerate ties; sum() OVER does not). */
  private val w2RunningSum: Q = (s, dir) => {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir).lineitem
      .withColumn("running_qty", sum(col("l_quantity")).over(w))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** W3 — lag/lead event gap per user in exact microseconds. */
  private val w3LagGap: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(s, dir).events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .select("user_id", "event_id", "gap_us")
      .orderBy("user_id", "event_id")
  }

  /** W7 — value-window family: first/last/nth event value per user over the
    * full frame (unbounded both ways so last_value is the true last). */
  private val w7ValueWindows: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(s, dir).events
      .withColumn("first_v", first(col("value")).over(w))
      .withColumn("last_v", last(col("value")).over(w))
      .withColumn("second_v", nth_value(col("value"), 2).over(w))
      .select("user_id", "event_id", "first_v", "last_v", "second_v")
      .orderBy("user_id", "event_id")
  }

  /** W8 — rank vs dense_rank with genuine ties (ordering on the
    * low-cardinality order date, so tied dates share a rank and the two
    * functions visibly diverge). */
  private val w8RankDense: Q = (s, dir) => {
    val w = Window.partitionBy("o_orderpriority").orderBy(desc("o_orderdate"))
    Tables(s, dir).orders
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .select("o_orderkey", "o_orderpriority", "rnk", "drnk")
      .orderBy("o_orderkey")
  }

  /** W4 — ntile bucketing per partition with a total tiebreak. */
  private val w4Ntile: Q = (s, dir) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables(s, dir).orders
      .withColumn("quartile", ntile(4).over(w))
      .select("o_orderkey", "o_orderpriority", "quartile")
      .orderBy("o_orderkey")
  }

  // ----------------------------------------------------------------- set ops

  /** U1 — union + distinct (dim_location id derivation,
    * dw_load_incremental.sql:22-32). */
  private val u1UnionDistinct: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.orders.select(col("o_custkey").as("custkey"))
      .union(t.customer.select(col("c_custkey").as("custkey")))
      .distinct()
      .orderBy("custkey")
  }

  /** U2 — UNION ALL reporting rollup (full_pipeline_dag.py:509). */
  private val u2UnionAll: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.orders.agg(count(lit(1)).as("n")).select(lit("orders").as("tbl"), col("n"))
      .unionAll(
        t.lineitem.agg(count(lit(1)).as("n")).select(lit("lineitem").as("tbl"), col("n")))
      .orderBy("tbl")
  }

  /** U3 — INTERSECT (beyond-parity set op). */
  private val u3Intersect: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer.select(col("c_custkey").as("custkey"))
      .intersect(t.orders.select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** U4 — EXCEPT (beyond-parity set op; equals J5 semantically). */
  private val u4Except: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer.select(col("c_custkey").as("custkey"))
      .except(t.orders.select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** U6 — EXCEPT ALL (multiset difference): per line-number value, lineitem
    * keeps max(n_lineitem - n_orders_mod, 0) copies — the bag semantics
    * DISTINCT-based EXCEPT loses. Summarized by value so the output is
    * deterministic without a row identity. */
  private val u6ExceptAll: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.lineitem.select(col("l_linenumber").as("v"))
      .exceptAll(t.orders.select((col("o_orderkey") % 7 + 1)
        .cast("int").as("v")))
      .groupBy("v").agg(count(lit(1)).as("n"))
      .orderBy("v")
  }

  /** J14 — plan-time join cardinality from metadata: |A ⋈ B on k| is
    * EXACTLY Σ_k cntA(k)·cntB(k), so the two keyed count aggregates a
    * planner keeps as statistics predict the join's output size without
    * running it. The entry emits the prediction next to the measured
    * count — hash-graded equality, the CBO estimate made auditable. The
    * stats frames are key-cardinality-sized; at 100 TB this is the
    * difference between sizing a shuffle from metadata and discovering a
    * blow-up join at runtime. */
  private val j14JoinSizeEstimate: Q = (s, dir) => {
    val t = Tables(s, dir)
    val ca = t.orders.groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("na"))
    val cb = t.customer.groupBy(col("c_custkey").as("k"))
      .agg(count(lit(1)).as("nb"))
    val predicted = ca.join(cb, "k")
      .agg(sum(col("na") * col("nb")).as("predicted_rows"))
    val actual = t.orders.join(t.customer,
        col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("actual_rows"))
    predicted.crossJoin(actual)
      .select(col("predicted_rows"), col("actual_rows"),
        (col("predicted_rows") === col("actual_rows")).cast("int")
          .as("exact"))
  }

  // --------------------------------------------------------- scalar functions

  /** F1 — timestamp/date part family (features.py:21-34,
    * dw_load_incremental.sql:34-51). Spark dayofweek is 1=Sunday; the oracle
    * maps DuckDB's 0=Sunday dow accordingly (SURVEY §7.5 convention pin). */
  private val f1DateParts: Q = (s, dir) =>
    Tables(s, dir).events.select(
      col("event_id"),
      year(col("ts")).as("y"),
      month(col("ts")).as("m"),
      dayofmonth(col("ts")).as("d"),
      dayofweek(col("ts")).as("dow"),
      hour(col("ts")).as("h"),
      minute(col("ts")).as("mi"),
      to_date(col("ts")).as("day"),
      date_trunc("hour", col("ts")).as("hour_bucket"),
      unix_micros(col("ts")).as("us"))
      .orderBy("event_id")

  /** F12 — date ARITHMETIC family (complement of [[f1DateParts]]'s
    * extraction family): offset, calendar-clamped month addition, period
    * boundaries, and day differences — the expressions every partition
    * layout, SLA window and retention policy is built from. Both engines
    * clamp end-of-month the same way (Jan 31 + 1 month = Feb 28/29),
    * which this entry pins cross-engine. */
  private val f12DateArith: Q = (s, dir) => {
    val d = to_date(col("o_orderdate"))
    Tables(s, dir).orders.select(
      col("o_orderkey"),
      date_add(d, 30).as("plus30d"),
      date_sub(d, 7).as("minus7d"),
      add_months(d, 2).as("plus2m"),
      last_day(d).as("eom"),
      trunc(d, "quarter").as("qstart"),
      trunc(d, "year").as("ystart"),
      datediff(d, to_date(lit("1995-01-01"))).as("days_since"),
      dayofyear(d).as("doy"),
      quarter(d).as("q"))
      .orderBy("o_orderkey")
  }

  /** F2 — math family (error_analysis.py:241,356-359). */
  private val f2Math: Q = (s, dir) =>
    Tables(s, dir).customer.select(
      col("c_custkey"),
      round(abs(col("c_acctbal")), 2).as("abs_bal"),
      round(sqrt(abs(col("c_acctbal"))), 4).as("sqrt_bal"),
      round(pow(col("c_acctbal"), 2.0), 2).as("sq_bal"),
      floor(col("c_acctbal")).as("floor_bal"),
      ceil(col("c_acctbal")).as("ceil_bal"),
      signum(col("c_acctbal")).as("sign_bal"))
      .orderBy("c_custkey")

  /** F3 — null-handling family (coalesce/nullif/is-null flags). */
  private val f3NullFuncs: Q = (s, dir) =>
    Tables(s, dir).customer.select(
      col("c_custkey"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("NONE")).as("seg2"),
      (col("c_mktsegment") === "BUILDING").cast(IntegerType).as("is_building"))
      .orderBy("c_custkey")

  /** F4 — JSON extraction from a string column (beyond-parity; the events
    * `props` column is a JSON payload as in any event feed). */
  private val f4JsonExtract: Q = (s, dir) =>
    Tables(s, dir).events.select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .orderBy("event_id")

  /** F6 — semi-structured VARIANT processing (Spark 4): parse the JSON
    * payload once into a VariantType value, extract typed fields with
    * `variant_get`, aggregate. At 100 TB the parse happens once per row in
    * the scan stage and the binary variant encoding is far cheaper to
    * re-extract than re-parsing JSON strings per field — the reason the
    * type exists. Integer sums stay exact => oracle-safe. */
  private val f6Variant: Q = (s, dir) =>
    Tables(s, dir).events
      .withColumn("__v", parse_json(col("props")))
      .withColumn("k", expr("variant_get(__v, '$.k', 'int')"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k").cast(LongType)).as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy("event_type")

  /** F5 — string function family (upper/substr/length/concat). */
  private val f5StringFuncs: Q = (s, dir) =>
    Tables(s, dir).customer.select(
      col("c_custkey"),
      length(col("c_name")).as("name_len"),
      upper(col("c_name")).as("name_up"),
      substring(col("c_name"), 1, 8).as("name_pre"),
      concat(col("c_mktsegment"), lit("_"), col("c_name")).as("seg_name"))
      .orderBy("c_custkey")

  /** F7 — `Dataset.unpivot` (wide → long melt, Spark 3.4+): the four money
    * columns of each line item become (metric, value) rows. A pure
    * per-row Generate — no shuffle beyond the final presentation sort. */
  private val f7Unpivot: Q = (s, dir) =>
    Tables(s, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  /** F8 — array function family (sort/slice/contains/reverse) over the
    * token array; array-valued outputs emit as joined strings so the
    * compare is representation-agnostic (the A20 convention). */
  private val f8ArrayFuncs: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("__toks")).as("n_toks"),
        array_join(slice(array_sort(col("__toks")), 1, 3), ",").as("first3_sorted"),
        array_contains(col("__toks"), "the").as("has_the"),
        element_at(reverse(col("__toks")), 1).as("last_tok"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- sampling

  /** R1 — seeded Bernoulli sample (spark_prepare.py:55), TOLERANCE-GRADED
    * (VERDICT r9 item 6 — the `a10_percentile_approx` sketch pattern): the
    * exact sampled row SET is engine-local by design (seed→RNG semantics
    * differ per engine), but the sampler's CONTRACT is oracle-checkable —
    * a Bernoulli(p=0.1) draw over n rows lands within ±0.03 absolute of p
    * (≈4σ at sf0.001's 1.5k orders rows, far tighter at every larger sf;
    * the fixed seed makes the observed fraction deterministic per sf, and
    * it was measured at all three test sfs), and without-replacement
    * sampling of a table with a unique natural key (orders.o_orderkey —
    * lineitem's (orderkey, linenumber) is NOT unique in the synthetic
    * data) yields no duplicate keys. The entry emits the exact total plus
    * those two contract booleans; DuckDB re-derives n_total and expects
    * TRUE, so a broken sampler (wrong fraction, repeated rows) flips a
    * flag and fails the hash. The two agg frames are 1-row each, so the
    * crossJoin is 1×1 by construction (the `q_erasure_audit`
    * convention). */
  private val r1Sample: Q = (s, dir) => {
    val ord = Tables(s, dir).orders
    val sampled = ord.sample(withReplacement = false, 0.1, 42)
    sampled.agg(
        count(lit(1)).as("n_sampled"),
        count_distinct(col("o_orderkey")).as("n_distinct"))
      .crossJoin(ord.agg(count(lit(1)).as("n_total")))
      .select(col("n_total"),
        (abs(col("n_sampled") / col("n_total") - 0.1) <= 0.03).as("frac_within_tol"),
        (col("n_sampled") === col("n_distinct")).as("no_duplicates"))
  }

  /** R2 — seeded randomSplit (train.py:35), TOLERANCE-GRADED the same way
    * as [[r1Sample]]: the row-level assignment is engine-local, but
    * `randomSplit`'s contract — the splits PARTITION the input — is exact
    * and oracle-checkable. Emits the exact total plus three contract
    * booleans: union-completeness (|train| + |test| = n, an equality, not
    * a tolerance), disjointness (left-semi train⋈test on the unique
    * o_orderkey is empty — with completeness this proves a true
    * partition), and the train fraction within ±0.03 of 0.8 (≈3σ at
    * sf0.001's 1.5k rows; the fixed seed makes it deterministic per sf,
    * measured at all three test sfs). DuckDB re-derives n_total and
    * expects TRUE everywhere. All stat frames are 1-row, so the
    * crossJoins are 1×1 by construction. */
  private val r2Split: Q = (s, dir) => {
    val ord = Tables(s, dir).orders.select("o_orderkey")
    val Array(train, test) = ord.randomSplit(Array(0.8, 0.2), 42)
    val overlap = train.join(test, Seq("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
    train.agg(count(lit(1)).as("n_train"))
      .crossJoin(test.agg(count(lit(1)).as("n_test")))
      .crossJoin(ord.agg(count(lit(1)).as("n_total")))
      .crossJoin(overlap)
      .select(col("n_total"),
        (col("n_train") + col("n_test") === col("n_total")).as("union_complete"),
        (col("n_overlap") === 0).as("disjoint"),
        (abs(col("n_train") / col("n_total") - 0.8) <= 0.03).as("train_frac_within_tol"))
  }

  /** R3+ — seeded stratified sample (`sampleBy`): per-stratum Bernoulli
    * fractions, the class-rebalancing sampler of a training-data pipeline
    * (down-sample the dominant class, keep the rare one). Seed semantics
    * are engine-specific => rows-only; the per-stratum proportions are
    * asserted in the suite. Scale: a single filtered scan — the stratum
    * fraction is applied per-row with no shuffle at all. */
  private val r3Stratified: Q = (s, dir) =>
    Tables(s, dir).orders.stat.sampleBy("o_orderpriority",
      Map("1-URGENT" -> 0.5, "3-MEDIUM" -> 0.1, "5-LOW" -> 0.02), seed = 42L)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** R3b — DETERMINISTIC stratified sample, the hash-green twin of
    * [[r3Stratified]] (VERDICT r8 item 5): per-stratum fractions become
    * integer thresholds on a per-row md5 draw over the natural key (the
    * `text_hash_split` convention — content-addressed, so membership is
    * reproducible across engines, reruns, and backfills; an unlisted
    * stratum samples at 0, matching `sampleBy`). Same single-filtered-scan
    * shape as the RNG variant: no shuffle until the count. At 100 TB this
    * is the variant a pipeline actually wants — resampling a grown corpus
    * keeps every previously selected row (no reshuffled split leakage). */
  private val r3StratifiedHash: Q = (s, dir) => {
    val draw = pmod(graft.functions.TextOps.md5Hash64Hof(
      col("o_orderkey").cast(StringType)), lit(4096L))
    // floor(fraction * 4096): 0.5 -> 2048, 0.1 -> 409, 0.02 -> 81
    val thr = element_at(typedLit(Map(
      "1-URGENT" -> 2048L, "3-MEDIUM" -> 409L, "5-LOW" -> 81L)),
      col("o_orderpriority"))
    Tables(s, dir).orders
      .filter(thr.isNotNull && draw < thr)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** R4 — deterministic k-PER-GROUP sample: rank rows inside each stratum
    * by a content-addressed md5 draw (ties broken by the natural key) and
    * keep the first k. The "give me 20 representative rows per class"
    * sampler of a training-data audit, with the same reproducibility
    * contract as [[r3StratifiedHash]]: membership survives reruns,
    * engines, and corpus growth (a grown group only ever APPENDS
    * higher-ranked rows after the kept ones are fixed... new rows can
    * displace old ones only by drawing a lower hash, which is the
    * documented uniform-without-replacement semantics). Since the r10
    * continuation the per-stratum selection rides the [[graft.functions
    * .TopKAgg]] bounded heap (score = −draw, so smallest draws win; equal
    * draws break toward the smaller key — the same total order as the
    * previous window) instead of a row_number window: no per-group sort
    * of the WHOLE stratum, one packed k-row state per (partition,
    * stratum) across the Exchange. Output is bit-identical. */
  private val r4GroupSample: Q = (s, dir) => {
    val draw = pmod(graft.functions.TextOps.md5Hash64Hof(
      col("o_orderkey").cast(StringType)), lit(1048576L))
    Tables(s, dir).orders
      .withColumn("__nd", -draw.cast(DoubleType))
      .groupBy("o_orderpriority")
      .agg(expr("graft_topk(__nd, o_orderkey, 20)").as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(col("o_orderpriority"), col("col.tag").as("o_orderkey"),
        (col("pos") + 1).as("rank_in_group"))
      .orderBy("o_orderpriority", "rank_in_group")
  }

  /** T6 — per-GROUP top-k FUSED with ordinary aggregates through the
    * native bounded-heap aggregate [[graft.functions.TopKAgg]]
    * (`graft_topk`): per priority class, order count + exact revenue +
    * the top-20 orders by price, ONE aggregation pass over the fact.
    *
    * Spark's idiomatic grouped top-k (`row_number` over a partitioned
    * window + filter) is already partially optimized since 3.5 — the
    * rank<=k filter pushes down as a partial WindowGroupLimit (pinned
    * for tfidf in PlanSpec) — but it still pays a per-partition Sort, a
    * final per-group Sort, AND it cannot produce group-level aggregates
    * in the same pass: count/sum need a second aggregation joined back.
    * `graft_topk` is an algebraic aggregate (MinHashAgg's tier-b escape
    * hatch), so the whole query is partial ObjectHashAggregate → one
    * Exchange of (count, decimal-sum, k-row heap) states → final merge:
    * sort-free on the fact, join-free, and the only Exchange carries
    * |groups|-sized state (plan + window-twin equality pinned in
    * PlanSpec/TopKAggSpec). At 100 TB that is one fact scan and one
    * metadata-sized shuffle versus two scans (or a window sort) plus a
    * re-join. */
  private val t6TopkGroupNative: Q = (s, dir) =>
    Tables(s, dir).orders
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("revenue"),
        expr("graft_topk(o_totalprice, o_orderkey, 20)").as("top"))
      .select(col("o_orderpriority"), col("n_orders"), col("revenue"),
        posexplode(col("top")))
      .select(
        col("o_orderpriority"),
        col("n_orders"),
        col("revenue"),
        (col("pos") + 1).cast(IntegerType).as("rank"),
        col("col.tag").as("o_orderkey"),
        col("col.score").as("o_totalprice"))
      .orderBy("o_orderpriority", "rank")

  // ---------------------------------------------------------------- registry

  /** Oracle sums go through DECIMAL in lockstep with
    * the Spark side (see [[graft.Ops.dsum]]); integer-ish aggregates are cast
    * to BIGINT because DuckDB's integer SUM returns HUGEINT. */
  val entries: Seq[Entry] = Seq(
    Entry("p1_cast_projection", p1CastProjection, Some(
      """SELECT CAST(l_orderkey AS INT) AS l_orderkey,
        |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       CAST(l_shipdate AS DATE) AS l_shipdate, l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Entry("p2_month_window", p2MonthWindow, Some(
      """SELECT event_id, ts, event_type FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <  TIMESTAMP '2024-02-01 00:00:00'
        |ORDER BY event_id""".stripMargin)),
    Entry("p3_null_guards", p3NullGuards, Some(
      """SELECT event_id, user_id, value FROM events
        |WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  AND value IS NOT NULL AND value >= 0
        |  AND (user_id IS NULL OR user_id >= 0)
        |ORDER BY event_id""".stripMargin)),
    Entry("p7_rename_select", p7RenameSelect, Some(
      """SELECT l_orderkey AS okey, l_linenumber AS lno, l_quantity AS qty,
        |       l_returnflag AS rflag
        |FROM lineitem ORDER BY okey, lno""".stripMargin)),
    Entry("p8_bucketize", p8Bucketize, Some(
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            WHEN o_totalprice < 300000 THEN 'high'
        |            ELSE 'very_high' END AS bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin), headline = true),
    Entry("p9_range_limit", p9RangeLimit, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 0 AND l_extendedprice <= 50000
        |ORDER BY l_orderkey, l_linenumber LIMIT 5000""".stripMargin)),
    Entry("p10_between_isin", p10BetweenIsin, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |                      AND TIMESTAMP '1997-12-31 00:00:00'
        |  AND o_orderpriority IN ('1-URGENT','2-HIGH')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),
    Entry("p11_sign_counts", p11SignCounts, Some(
      """SELECT CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_n,
        |       CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos_n,
        |       CAST(sum(CAST(abs(c_acctbal) AS DECIMAL(18,2))) AS DOUBLE) AS abs_total
        |FROM customer""".stripMargin)),
    Entry("a1_kpi_global", a1KpiGlobal, Some(
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_price,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty
        |FROM lineitem""".stripMargin), headline = true),
    Entry("a2_minmax_range", a2MinMax, Some(
      """SELECT CAST(min(o_orderdate) AS DATE) AS min_date,
        |       CAST(max(o_orderdate) AS DATE) AS max_date FROM orders""".stripMargin)),
    Entry("a3_null_profile", a3NullProfile, Some(
      """SELECT CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user,
        |       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
        |       CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_value
        |FROM events""".stripMargin)),
    Entry("a4_daily_series", a4DailySeries, Some(
      """SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY day""".stripMargin), headline = true),
    Entry("a5_two_key_group", a5TwoKeyGroup, Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin),
      headline = true),
    Entry("a6_group_sum_desc", a6GroupSumDesc, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY revenue DESC, o_orderpriority""".stripMargin)),
    Entry("a7_distinct_list", a7DistinctList, Some(
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment")),
    Entry("a9_multistat", a9MultiStat, Some(
      """WITH a AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(o_totalprice * o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS s2,
        |         min(o_totalprice) AS min_v, max(o_totalprice) AS max_v,
        |         round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
        |         round(quantile_cont(o_totalprice, 0.5), 4) AS q50,
        |         round(quantile_cont(o_totalprice, 0.75), 4) AS q75
        |  FROM orders)
        |SELECT n, round(s1 / n, 4) AS mean_v,
        |       round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS stddev_v,
        |       min_v, max_v, q25, q50, q75 FROM a""".stripMargin), headline = true),
    Entry("a10_percentiles_grouped", a10PercentilesGrouped, Some(
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    // tolerance-graded sketch (VERDICT r7 item 3): the oracle reproduces
    // the exact percentiles and expects the within-bound flags to hold
    Entry("a10_percentile_approx", a10Approx, Some(
      """SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
        |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
        |       TRUE AS p50_within_eps,
        |       TRUE AS p95_within_eps
        |FROM lineitem""".stripMargin), headline = true),
    Entry("a10_percentiles", a10Percentiles, Some(
      """SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem""".stripMargin)),
    Entry("a11_error_buckets", a11ErrorBuckets, Some(
      """WITH e AS (
        |  SELECT l_extendedprice - (l_quantity * 1000.0 + 500.0) AS err,
        |         CASE WHEN l_extendedprice < 10000 THEN 'low'
        |              WHEN l_extendedprice < 30000 THEN 'medium'
        |              WHEN l_extendedprice < 60000 THEN 'high'
        |              ELSE 'very_high' END AS bucket
        |  FROM lineitem)
        |SELECT bucket, count(*) AS n,
        |       round(CAST(sum(CAST(err AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4) AS mean_err,
        |       round(CAST(sum(CAST(abs(err) AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4) AS mae,
        |       round(sqrt(CAST(sum(CAST(err * err AS DECIMAL(30,6))) AS DOUBLE) / count(*)), 4) AS rmse,
        |       round(quantile_cont(err, 0.5), 4) AS median_err
        |FROM e GROUP BY 1 ORDER BY bucket""".stripMargin), headline = true),
    Entry("a12_missing_ratio", a12MissingRatio, Some(
      """SELECT round(avg(CASE WHEN user_id IS NULL THEN 1.0 ELSE 0.0 END), 6) AS miss_user,
        |       round(avg(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END), 6) AS miss_value,
        |       round(avg(CASE WHEN props IS NULL THEN 1.0 ELSE 0.0 END), 6) AS miss_props
        |FROM events""".stripMargin)),
    Entry("a14_regression_metrics", a14RegMetrics, Some(
      """WITH e AS (
        |  SELECT l_extendedprice AS label,
        |         l_extendedprice - (l_quantity * 1000.0 + 500.0) AS err
        |  FROM lineitem),
        |a AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CAST(label AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(label * label AS DECIMAL(30,6))) AS DOUBLE) AS s2,
        |         CAST(sum(CAST(err * err AS DECIMAL(30,6))) AS DOUBLE) AS sse,
        |         CAST(sum(CAST(abs(err) AS DECIMAL(30,6))) AS DOUBLE) AS sae
        |  FROM e)
        |SELECT n, round(sqrt(sse / n), 4) AS rmse, round(sae / n, 4) AS mae,
        |       round(1.0 - sse / (s2 - s1 * s1 / n), 6) AS r2 FROM a""".stripMargin)),
    Entry("a15_dedup_count", a15DedupCount, Some(
      """SELECT (SELECT count(*) FROM events) AS raw_rows,
        |       (SELECT count(*) FROM
        |          (SELECT DISTINCT user_id, ts, event_type FROM events)) AS dedup_rows""".stripMargin),
      headline = true),
    Entry("j1_broadcast_dim", j1BroadcastDim, Some(
      """SELECT n_name, count(*) AS n_cust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct_total
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY n_name""".stripMargin)),
    Entry("j2_fact_join", j2FactJoin, Some(
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin), headline = true),
    Entry("j8_part_join", j8PartJoin, Some(
      """SELECT p_brand, count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS retail_total
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY p_brand""".stripMargin)),
    Entry("j4_star_join", j4StarJoin, Some(
      """SELECT r_name, count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY r_name""".stripMargin), headline = true),
    Entry("j5_anti_join", j5AntiJoin, Some(
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin), headline = true),
    Entry("j6_semi_join", j6SemiJoin, Some(
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),
    Entry("j7_left_outer", j7LeftOuter, Some(
      """SELECT c_mktsegment,
        |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_orders,
        |       count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),
    Entry("t6_topk_group_native", t6TopkGroupNative, Some(
      """WITH ranked AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (
        |           PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders),
        |aggs AS (
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT r.o_orderpriority, a.n_orders, a.revenue,
        |       CAST(r.rank AS INT) AS rank, r.o_orderkey, r.o_totalprice
        |FROM ranked r JOIN aggs a USING (o_orderpriority)
        |WHERE r.rank <= 20
        |ORDER BY r.o_orderpriority, rank""".stripMargin), headline = true),
    Entry("t3_topk_rank", t3TopkRank, Some(
      """WITH top AS (
        |  SELECT o_custkey, count(*) AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1
        |  ORDER BY revenue DESC, o_custkey LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY revenue DESC, o_custkey) AS INT) AS rank,
        |       o_custkey, n, revenue
        |FROM top ORDER BY rank""".stripMargin), headline = true),
    Entry("w2_running_sum", w2RunningSum, Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       sum(l_quantity) OVER (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
      headline = true),
    Entry("w3_lag_gap", w3LagGap, Some(
      """SELECT user_id, event_id,
        |       epoch_us(ts) - lag(epoch_us(ts), 1)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |FROM events ORDER BY user_id, event_id""".stripMargin)),
    Entry("w4_ntile", w4Ntile, Some(
      """SELECT o_orderkey, o_orderpriority,
        |       CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |         ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Entry("w7_value_windows", w7ValueWindows, Some(
      """SELECT user_id, event_id,
        |       first_value(value) OVER w AS first_v,
        |       last_value(value) OVER w AS last_v,
        |       nth_value(value, 2) OVER w AS second_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin)),
    Entry("w8_rank_dense", w8RankDense, Some(
      """SELECT o_orderkey, o_orderpriority,
        |       CAST(rank() OVER w AS INT) AS rnk,
        |       CAST(dense_rank() OVER w AS INT) AS drnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate DESC)
        |ORDER BY o_orderkey""".stripMargin)),
    Entry("j10_nullsafe_join", j10NullSafeJoin, Some(
      """WITH a AS (SELECT s_suppkey, nullif(s_suppkey % 7, 0) AS k FROM supplier),
        |b AS (SELECT s_suppkey AS b_suppkey, nullif(s_suppkey % 7, 0) AS k2 FROM supplier)
        |SELECT coalesce(a.k, -1) AS key_group, count(*) AS n_pairs
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k2
        |GROUP BY 1 ORDER BY key_group""".stripMargin)),
    Entry("u1_union_distinct", u1UnionDistinct, Some(
      """SELECT o_custkey AS custkey FROM orders
        |UNION SELECT c_custkey FROM customer ORDER BY custkey""".stripMargin), headline = true),
    Entry("u2_union_all", u2UnionAll, Some(
      """SELECT 'orders' AS tbl, count(*) AS n FROM orders
        |UNION ALL SELECT 'lineitem' AS tbl, count(*) AS n FROM lineitem
        |ORDER BY tbl""".stripMargin)),
    Entry("u3_intersect", u3Intersect, Some(
      """SELECT c_custkey AS custkey FROM customer
        |INTERSECT SELECT o_custkey FROM orders ORDER BY custkey""".stripMargin)),
    Entry("u4_except", u4Except, Some(
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT SELECT o_custkey FROM orders ORDER BY custkey""".stripMargin)),
    Entry("u6_except_all", u6ExceptAll, Some(
      """WITH d AS (
        |  SELECT l_linenumber AS v FROM lineitem
        |  EXCEPT ALL
        |  SELECT CAST(o_orderkey % 7 + 1 AS INT) AS v FROM orders)
        |SELECT v, count(*) AS n FROM d GROUP BY 1 ORDER BY v""".stripMargin), headline = true),
    Entry("j14_join_size_estimate", j14JoinSizeEstimate, Some(
      """WITH ca AS (SELECT o_custkey AS k, count(*) AS na
        |            FROM orders GROUP BY 1),
        |cb AS (SELECT c_custkey AS k, count(*) AS nb
        |       FROM customer GROUP BY 1),
        |p AS (SELECT CAST(sum(na * nb) AS BIGINT) AS predicted_rows
        |      FROM ca JOIN cb USING (k)),
        |a AS (SELECT count(*) AS actual_rows
        |      FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT predicted_rows, actual_rows,
        |       CAST(predicted_rows = actual_rows AS INT) AS exact
        |FROM p, a""".stripMargin), headline = true),
    Entry("f1_date_parts", f1DateParts, Some(
      """SELECT event_id,
        |       CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
        |       CAST(day(ts) AS INT) AS d,
        |       CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |       CAST(hour(ts) AS INT) AS h, CAST(minute(ts) AS INT) AS mi,
        |       CAST(ts AS DATE) AS day, date_trunc('hour', ts) AS hour_bucket,
        |       epoch_us(ts) AS us
        |FROM events ORDER BY event_id""".stripMargin)),
    Entry("f12_date_arith", f12DateArith, Some(
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
        |SELECT o_orderkey,
        |       CAST(d + INTERVAL 30 DAY AS DATE) AS plus30d,
        |       CAST(d - INTERVAL 7 DAY AS DATE) AS minus7d,
        |       CAST(d + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |       last_day(d) AS eom,
        |       CAST(date_trunc('quarter', d) AS DATE) AS qstart,
        |       CAST(date_trunc('year', d) AS DATE) AS ystart,
        |       CAST(date_diff('day', DATE '1995-01-01', d) AS INT) AS days_since,
        |       CAST(dayofyear(d) AS INT) AS doy,
        |       CAST(quarter(d) AS INT) AS q
        |FROM o ORDER BY o_orderkey""".stripMargin), headline = true),
    Entry("f2_math", f2Math, Some(
      """SELECT c_custkey,
        |       round(abs(c_acctbal), 2) AS abs_bal,
        |       round(sqrt(abs(c_acctbal)), 4) AS sqrt_bal,
        |       round(pow(c_acctbal, 2.0), 2) AS sq_bal,
        |       CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
        |       CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
        |       CAST(sign(c_acctbal) AS DOUBLE) AS sign_bal
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Entry("f3_null_funcs", f3NullFuncs, Some(
      """SELECT c_custkey,
        |       coalesce(nullif(c_mktsegment, 'BUILDING'), 'NONE') AS seg2,
        |       CAST(c_mktsegment = 'BUILDING' AS INT) AS is_building
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Entry("f4_json_extract", f4JsonExtract, Some(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin)),
    Entry("f5_string_funcs", f5StringFuncs, Some(
      """SELECT c_custkey, CAST(length(c_name) AS INT) AS name_len,
        |       upper(c_name) AS name_up, substr(c_name, 1, 8) AS name_pre,
        |       c_mktsegment || '_' || c_name AS seg_name
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Entry("f6_variant_agg", f6Variant, Some(
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
        |       CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_min,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_max
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),
    Entry("f7_unpivot", f7Unpivot, Some(
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),
    Entry("f8_array_funcs", f8ArrayFuncs, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
        |SELECT doc_id, CAST(len(ts) AS INT) AS n_toks,
        |       array_to_string(list_sort(ts)[1:3], ',') AS first3_sorted,
        |       list_contains(ts, 'the') AS has_the,
        |       ts[-1] AS last_tok
        |FROM t ORDER BY doc_id""".stripMargin)),
    // tolerance-graded seeded samplers (VERDICT r9 item 6): the oracle
    // re-derives the exact total and expects the contract booleans —
    // fraction-within-tolerance, no duplicate keys, partition
    // completeness/disjointness — to hold; the sampled row sets themselves
    // stay engine-local by design
    Entry("r1_sample", r1Sample, Some(
      """SELECT count(*) AS n_total, TRUE AS frac_within_tol,
        |       TRUE AS no_duplicates FROM orders""".stripMargin)),
    Entry("r2_split", r2Split, Some(
      """SELECT count(*) AS n_total, TRUE AS union_complete, TRUE AS disjoint,
        |       TRUE AS train_frac_within_tol FROM orders""".stripMargin)),
    // rows-only: the seeded row set is engine-specific (EntrySpec checks
    // the per-stratum fractions); r3_stratified_hash is its graded twin
    Entry("r3_stratified_sample", r3Stratified, None),
    // deterministic stratified twin (VERDICT r8 item 5): same md5-draw
    // convention as the text_hash_split oracle; thresholds floor(f*4096)
    Entry("r3_stratified_hash", r3StratifiedHash, Some(
      """WITH t AS (
        |  SELECT o_orderpriority,
        |         md5_number_upper(CAST(o_orderkey AS VARCHAR)) % 4096 AS draw,
        |         CASE o_orderpriority WHEN '1-URGENT' THEN 2048
        |              WHEN '3-MEDIUM' THEN 409
        |              WHEN '5-LOW' THEN 81 END AS thr
        |  FROM orders)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE thr IS NOT NULL AND draw < thr
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // same md5-draw convention; ties broken by the natural key so the
    // per-group ranking is a total order in both engines
    Entry("r4_group_sample", r4GroupSample, Some(
      """WITH t AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(row_number() OVER (
        |           PARTITION BY o_orderpriority
        |           ORDER BY md5_number_upper(CAST(o_orderkey AS VARCHAR))
        |                      % 1048576, o_orderkey) AS INT) AS rank_in_group
        |  FROM orders)
        |SELECT o_orderpriority, o_orderkey, rank_in_group
        |FROM t WHERE rank_in_group <= 20
        |ORDER BY o_orderpriority, rank_in_group""".stripMargin), headline = true),
  )
}

package graft.operators

import graft.Tables
import graft.Ops.{Entry, Q, dsumWide}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for joins whose key distribution would
  * overload single reducers at 100 TB (a hot `pickup_location_id`, a viral
  * document, a null-heavy FK). Two complementary tools:
  *
  *  - AQE skew-join splitting is ON in [[graft.GraftSession]] — the runtime
  *    fix for *discovered* skew;
  *  - [[saltedJoin]] is the static fix for *known* skew: the big side gets a
  *    deterministic per-row salt in [0, k), the small side is replicated k×,
  *    and the join key becomes (key, salt) — each hot key fans out over k
  *    reducers. Result is row-identical to the unsalted join (oracle-checked
  *    below), cost is k× the small side, which is the side you could afford
  *    to broadcast anyway.
  */
object Skew {

  /** Inner equi-join with the big side salted k ways. `saltSource` must be a
    * deterministic per-row expression on the big side (any well-distributed
    * column; uniqueness not required). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, k: Int,
                 saltSource: String): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(col(saltSource)), lit(k.toLong)))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(k.toLong - 1))))
    saltedBig.join(replicatedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-stage salted aggregation — the skew fix for a HOT GROUP rather
    * than a hot join key: stage 1 aggregates on (key, salt) so a hot key's
    * rows land on k reducers, stage 2 folds the k partials. Works for any
    * algebraic aggregate; sums ride DECIMAL partials so the two-stage
    * result is bit-identical to the direct aggregation (oracle-checked),
    * not merely close — double partials would drift with merge order. */
  def saltedAgg(df: DataFrame, key: String, valueCol: String, k: Int,
                saltSource: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val partial = df
      .withColumn("__salt", pmod(xxhash64(col(saltSource)), lit(k.toLong)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast(DecimalType(18, 2))).as("__s"),
        min(col(valueCol)).as("__min"), max(col(valueCol)).as("__max"))
    partial.groupBy(col(key))
      .agg(sum(col("__n")).as("n"),
        sum(col("__s")).cast(DoubleType).as("total"),
        min(col("__min")).as("min_v"), max(col("__max")).as("max_v"))
  }

  // ---------------------------------------------------------------- entries

  /** Salted lineitem⋈orders must equal the plain join bit-for-bit. */
  private val saltedJoinQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val dim = t.orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    saltedJoin(t.lineitem, dim, key = "l_orderkey", k = 8, saltSource = "l_linenumber")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        dsumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Salted two-stage event-type aggregate must equal the direct one. */
  private val saltedAggQ: Q = (s, dir) =>
    saltedAgg(Tables(s, dir).events.filter(col("value").isNotNull),
      key = "event_type", valueCol = "value", k = 8, saltSource = "event_id")
      .orderBy("event_type")

  val entries: Seq[Entry] = Seq(
    Entry("skew_salted_join", saltedJoinQ, Some(
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin), headline = true),
    // the oracle is the DIRECT aggregation: two-stage salting must not
    // change a single bit of the result
    Entry("skew_salted_agg", saltedAggQ, Some(
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(value) AS min_v, max(value) AS max_v
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin)),
  )
}

package graft.operators

import graft.Tables
import graft.Ops.{Entry, Q, dsumWide}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Runtime-filter join shapes: cut the FACT side's shuffle volume with a
  * membership sketch of the (selective) dimension's join keys before the
  * join ever exchanges data.
  *
  * At 100 TB the dominant cost of `fact ⋈ σ(dim)` is shuffling fact rows
  * that cannot possibly match — a dim filtered to 20% selectivity means 80%
  * of the fact exchange is wasted bytes. The fix is the classic runtime
  * bloom filter (the same idea behind the reference's partition-pruned
  * reads, `ex03_batch_analytics/src/queries.rs` predicate-first layout, and
  * Spark's own `spark.sql.optimizer.runtime.bloomFilter.enabled` AQE rule):
  *
  *  1. aggregate the filtered dim's join keys into one Bloom sketch
  *     (executor-side partial sketches, driver merge — bytes bounded by
  *     `expectedItems`, never by dim rows; the same require() budget guard
  *     as [[Dedup.seenBeforeProbe]]);
  *  2. broadcast the sketch and filter the fact AT THE SCAN — a non-member
  *     key is DEFINITELY not in the dim (Bloom has no false negatives), so
  *     dropping it cannot change the join result;
  *  3. run the exact equi-join on the survivors — Bloom false positives
  *     (~fpp of non-matching rows) are eliminated here, so the output is
  *     bit-identical to the unfiltered join (the DuckDB oracle checks the
  *     PLAIN join).
  *
  * Why an explicit operator when AQE can inject one: the AQE rule fires only
  * when column statistics justify it and the source supports it; the
  * explicit form is deterministic, works on DSv2 sources without stats, and
  * lets the caller size the sketch from domain knowledge (e.g. "the urgent
  * slice is ~20% of 1e9 orders").
  */
object RuntimeFilters {

  /** Inner equi-join `fact ⋈ dim` with a Bloom prefilter on the fact side.
    * Result is row-identical to `fact.join(dim, factKey === dimKey)`.
    *
    * The probe is a Scala UDF by necessity (Spark's `might_contain`
    * expression is internal to the AQE runtime-filter rule, not a public
    * function); it does one hash probe per row against a broadcast bitset,
    * no per-row allocation. Null fact keys are dropped (inner-join
    * semantics drop them anyway). */
  def bloomPrefilterJoin(fact: DataFrame, dim: DataFrame,
                         factKey: String, dimKey: String,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.01,
                         maxSketchBytes: Long = 256L << 20): DataFrame = {
    val bytes = Dedup.bloomBytes(expectedItems, fpp)
    require(bytes <= maxSketchBytes,
      s"bloomPrefilterJoin sketch for expectedItems=$expectedItems at " +
        s"fpp=$fpp needs ~$bytes bytes on the DRIVER (> budget " +
        s"$maxSketchBytes). Lower expectedItems/raise fpp, or raise " +
        "maxSketchBytes only with driver memory to match.")
    val bloom = dim.select(col(dimKey).cast("long").as("__k"))
      .na.drop("any", Seq("__k"))
      .stat.bloomFilter("__k", expectedItems, fpp)
    val bloomBc = fact.sparkSession.sparkContext.broadcast(bloom)
    val maybeMatch = udf((k: java.lang.Long) =>
      k != null && bloomBc.value.mightContainLong(k))
    fact.filter(maybeMatch(col(factKey)))
      .join(dim, col(factKey) === col(dimKey))
  }

  /** The fact rows that SURVIVE the prefilter, for contract tests: must be
    * a superset of the true semi-join set (no false negatives) and, for a
    * selective dim, a strict subset of the fact. */
  private[operators] def prefilterSurvivors(fact: DataFrame, dim: DataFrame,
                                            factKey: String, dimKey: String,
                                            expectedItems: Long,
                                            fpp: Double): DataFrame = {
    val bloom = dim.select(col(dimKey).cast("long").as("__k"))
      .na.drop("any", Seq("__k"))
      .stat.bloomFilter("__k", expectedItems, fpp)
    val bloomBc = fact.sparkSession.sparkContext.broadcast(bloom)
    val maybeMatch = udf((k: java.lang.Long) =>
      k != null && bloomBc.value.mightContainLong(k))
    fact.filter(maybeMatch(col(factKey)))
  }

  // ---------------------------------------------------------------- entries

  /** J13 — runtime-filtered fact join: lineitem ⋈ σ(orders) where only the
    * urgent slice (~20%) of orders survives; the Bloom prefilter drops
    * ~80% of lineitem before the join exchange. Output must equal the
    * plain filtered join bit-for-bit (Bloom FPs die in the exact join). */
  private val bloomPrefilterQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val dim = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"))
    bloomPrefilterJoin(t.lineitem, dim,
      factKey = "l_orderkey", dimKey = "o_orderkey",
      expectedItems = 100000L, fpp = 0.01)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        dsumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderstatus")
  }

  val entries: Seq[Entry] = Seq(
    // the oracle is the PLAIN filtered join: the runtime filter must not
    // change a single bit of the result
    Entry("j13_bloom_prefilter", bloomPrefilterQ, Some(
      """SELECT o_orderstatus, count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin), headline = true),
  )
}

package graft.warehouse

import graft.Tables
import graft.Ops.{Entry, Q, dsum}

import org.apache.spark.sql.functions._

/** Bucketed-table co-located joins: the storage-level answer to "this join
  * shuffles 100 TB every night".
  *
  * Writing both fact and dimension bucketed (and sorted) by the join key
  * pins `outputPartitioning` at the SCAN, so EnsureRequirements inserts NO
  * Exchange for a key-equal sort-merge join — the shuffle is paid once at
  * write time and amortized over every subsequent join (the same contract
  * the reference gets from its Postgres composite indexes,
  * `indexes.sql:5-27`, re-expressed for distributed storage). The custom
  * [[graft.plans.AsOfJoinExec]] declares the same distribution requirement,
  * so bucketed inputs satisfy IT with zero exchanges too.
  *
  * The merge hint forces the sort-merge path (a broadcast would hide the
  * co-location at test scale); PlanSpec pins "no Exchange on the join key".
  */
object Bucketing {

  private val bucketedJoinQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    // the in-memory catalog forgets tables across sessions but the managed
    // LOCATION persists — clear both, or a re-run hits LOCATION_ALREADY_EXISTS
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("orders_bkt", "customer_bkt").foreach { tbl =>
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, tbl))
    }
    t.orders.select("o_custkey", "o_totalprice")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_bkt")
    t.customer.select("c_custkey", "c_mktsegment")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_bkt")
    s.table("orders_bkt")
      .join(s.table("customer_bkt").hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }

  val entries: Seq[Entry] = Seq(
    Entry("j9_bucketed_join", bucketedJoinQ, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin), headline = true),
  )
}

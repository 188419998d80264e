package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contract pins for the native bounded-heap grouped top-k aggregate
  * (`graft_topk`): bit-equality to the window row_number twin, partition
  * invariance (the heap merge is order-independent by construction), and
  * the tie-break convention (score desc, then tag asc). */
class TopKAggSpec extends SparkSpec {

  private def ordersTop(dir: String, k: Int) = {
    spark.read.parquet(s"$dir/orders.parquet")
      .groupBy("o_orderpriority")
      .agg(expr(s"graft_topk(o_totalprice, o_orderkey, $k)").as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(
        col("o_orderpriority"),
        (col("pos") + 1).as("rank"),
        col("col.tag").as("o_orderkey"),
        col("col.score").as("o_totalprice"))
  }

  private def windowTwin(dir: String, k: Int) =
    spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("rank", row_number().over(
        Window.partitionBy("o_orderpriority")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))))
      .filter(col("rank") <= k)
      .select(col("o_orderpriority"), col("rank").cast("long").as("rank"),
        col("o_orderkey"), col("o_totalprice"))

  test("graft_topk equals the window row_number twin exactly") {
    val native = ordersTop(sf001, 20).collect().toSet
    val twin = windowTwin(sf001, 20).collect().toSet
    assert(native == twin)
    assert(native.nonEmpty)
  }

  test("graft_topk is invariant to input partitioning") {
    val base = spark.read.parquet(s"$sf001/orders.parquet")
    val results = Seq(1, 7, 32).map { n =>
      base.repartition(n)
        .groupBy("o_orderpriority")
        .agg(expr("graft_topk(o_totalprice, o_orderkey, 5)").as("top"))
        .select(col("o_orderpriority"), col("top").cast("string").as("t"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    assert(results.distinct.size == 1, "results differ across partitionings")
  }

  test("ties on score break toward the smaller tag; k caps the group") {
    import spark.implicits._
    val df = Seq(
      ("g", 5.0, 10L), ("g", 5.0, 3L), ("g", 5.0, 7L), ("g", 9.0, 99L),
      ("h", 1.0, 1L))
      .toDF("g", "s", "t")
    val out = df.groupBy("g")
      .agg(expr("graft_topk(s, t, 3)").as("top"))
      .select(col("g"), col("top.tag").as("tags"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("g") == Seq(99L, 3L, 7L), s"got ${out("g")}")
    assert(out("h") == Seq(1L))
  }

  test("null scores and tags are skipped, not kept") {
    import spark.implicits._
    val df = Seq(
      ("g", Some(2.0), Some(1L)), ("g", None, Some(2L)), ("g", Some(4.0), None))
      .toDF("g", "s", "t")
    val out = df.groupBy("g")
      .agg(expr("graft_topk(s, t, 10)").as("top"))
      .select(col("top.tag").as("tags"))
      .head().getSeq[Long](0)
    assert(out == Seq(1L))
  }

  test("DECIMAL score and INT tag are implicitly cast, not executor-crashed (ADVICE r10)") {
    import spark.implicits._
    // the standard warehouse money type + an int key: before the
    // ImplicitCastInputTypes fix this threw ClassCastException on the
    // executor; now Catalyst inserts the casts at analysis time
    val df = Seq(("g", BigDecimal("12.50"), 1), ("g", BigDecimal("99.99"), 2),
      ("g", BigDecimal("50.00"), 3))
      .toDF("g", "price", "id")
      .select(col("g"), col("price").cast("decimal(18,2)").as("price"), col("id"))
    val out = df.groupBy("g")
      .agg(expr("graft_topk(price, id, 2)").as("top"))
      .select(col("top.tag").as("tags"))
      .head().getSeq[Long](0)
    assert(out == Seq(2L, 3L), s"got $out")
  }

  test("NaN scores never occupy heap slots (ADVICE r10)") {
    import spark.implicits._
    // NaN first so it would seed the heap while size<k under the old raw-<
    // compare; it must be skipped like a null and never block finite scores
    val df = Seq(("g", Double.NaN, 1L), ("g", 1.0, 2L), ("g", 3.0, 3L))
      .toDF("g", "s", "t")
    val out = df.coalesce(1).groupBy("g")
      .agg(expr("graft_topk(s, t, 2)").as("top"))
      .select(col("top.tag").as("tags"))
      .head().getSeq[Long](0)
    assert(out == Seq(3L, 2L), s"got $out")
  }

  test("k accepts any foldable integral constant, rejects non-constants (ADVICE r10)") {
    import spark.implicits._
    val df = Seq(("g", 1.0, 1L), ("g", 2.0, 2L)).toDF("g", "s", "t")
    // CAST(2 AS BIGINT) is foldable but not a bare Int literal
    val out = df.groupBy("g")
      .agg(expr("graft_topk(s, t, CAST(2 AS BIGINT))").as("top"))
      .select(col("top.tag").as("tags"))
      .head().getSeq[Long](0)
    assert(out == Seq(2L, 1L))
    val err = intercept[Exception] {
      df.groupBy("g").agg(expr("graft_topk(s, t, t)").as("top")).collect()
    }
    assert(err.getMessage.contains("graft_topk"), s"got: ${err.getMessage}")
  }
}

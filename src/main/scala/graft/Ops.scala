package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for the query registry.
  *
  * The central trick: every "money-style" SUM that an oracle checks goes
  * through a DECIMAL cast *before* aggregation, in both Spark and the DuckDB
  * oracle SQL. Decimal addition is exact and associative, so the result is
  * independent of partitioning / summation order — a plain double SUM over
  * 60k values can drift by ~1e-4 absolute between engines (enough to flip a
  * 2-decimal rounding), while the decimal sum is bit-stable at any scale.
  * The final cast back to double is a single deterministic conversion.
  * This mirrors what a production engine does for auditable money columns
  * and costs nothing at scale (decimal sums are still map-side combinable).
  */
object Ops {
  /** A registered query: (session, sf data dir) => result frame. */
  type Q = (SparkSession, String) => DataFrame

  /** One registry entry: its name, its query, the DuckDB SQL that must hash
    * the same (`None`: only the row count is checked), and whether the
    * graded bench times it. */
  final case class Entry(name: String, q: Q, oracle: Option[String], headline: Boolean = false)

  /** The decimal-exact aggregates below run through the native kernels:
    * every sum, narrow or wide, is the one exact decimal sum
    * `graft_dec_sum` ([[graft.functions.DecSum128]], a codegen
    * HashAggregate at every precision), and [[pct]] is
    * [[graft.functions.PercentileAgg]]. Both are bit-identical to the
    * builtin `sum(cast(… as decimal))` / `percentile` chains (pinned in
    * NativeAggEqualitySpec). */

  /** Order-independent exact sum of a money-ish double column
    * (= `sum(cast(c as decimal(18, scale))).cast(double)`, bit-exact). */
  def dsum(c: Column, scale: Int = 2): Column =
    call_function("graft_dec_sum", c, lit(18), lit(scale)).cast(DoubleType)

  /** Exact sum for wide products (x*y style) needing more integer digits
    * (= `sum(cast(c as decimal(30, scale))).cast(double)`, bit-exact). */
  def dsumWide(c: Column, scale: Int = 6): Column =
    call_function("graft_dec_sum", c, lit(30), lit(scale)).cast(DoubleType)

  /** Spreads `df` across the session width by a hash of `key`, before
    * CPU-heavy per-row work whose input would otherwise keep the scan-split
    * count (one task for one small file). The width is pinned
    * (REPARTITION_BY_NUM): an unpinned keyed repartition is
    * AQE-coalescible back to the scan splits. xxhash64 of the key is
    * deterministic under task retry (content-derived, never round-robin). */
  def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, xxhash64(col(key)))

  /** `target/tmp/<name>`, created; its absolute path. The scratch
    * directory a query writes its roundtrip output under. */
  def scratchDir(name: String): String = {
    val d = new java.io.File(s"target/tmp/$name")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Deterministic mean: exact decimal sum divided by count, rounded. */
  def dmean(c: Column, scale: Int = 4): Column =
    round(dsum(c, 4) / count(lit(1)), scale)

  /** Exact interpolated percentile (matches DuckDB quantile_cont;
    * = the builtin `percentile(c, p)`, bit-exact). */
  def pct(c: Column, p: Double): Column =
    call_function("graft_percentile", c.cast(DoubleType), lit(p))
}

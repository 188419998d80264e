package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed accessors over the harness testdata directory (TESTDATA.md).
  *
  * Plays the role of the reference's zone/path layer
  * (`ex01_data_retrieval/src/main/scala/Ex01DataRetrieval.scala:57-58`,
  * `ex05_ml_prediction_service/src/spark_io.py:133-135`): one place that knows
  * where tables live, so operators stay path-free. Reads are plain
  * `spark.read.parquet` — Catalyst handles column pruning and predicate
  * pushdown into the scan, which is the scale-critical property (SURVEY §4).
  */
final case class Tables(spark: SparkSession, dir: String) {
  // Memoized PER (session, dir) — the catalog role this layer plays
  // (r15, VERDICT next-round item 3): a bare `spark.read.parquet` re-lists
  // the path, re-reads the parquet footer (a one-task Spark job) and
  // rebuilds the relation on EVERY call, so each of the ~340 registry
  // queries paid a fixed ~50–100 ms of schema-plumbing per build — the
  // single largest slice of the per-query floor (r15 FloorAudit, now the
  // `Bench` probe: build 80–135 ms/query warm, 1–2 footer jobs each). A production engine
  // reads tables through a catalog whose schemas are resolved once per
  // session; memoizing the base frames is exactly that (plan/metadata
  // reuse only — every query still scans the parquet files; nothing about
  // RESULTS is cached). Within-query instance identity (required for
  // semi/anti self-joins: fresh reads get fresh expr IDs) is implied by
  // the stronger session-level identity.
  private def t(name: String): DataFrame = Tables.cached(spark, s"$dir/$name.parquet",
    () => spark.read.parquet(s"$dir/$name.parquet"))

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** The events feed's `ts` encoding has varied across testdata
    * generations, so the loader adapts to whichever physical type is on
    * disk and always hands operators a session-zone `TimestampType`:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright —
    *    read nanos as long (SPARK-40819 legacy flag, set in
    *    [[GraftSession.baseConf]]) and rebuild a
    *    microsecond timestamp with exact integral division (the feed has
    *    no sub-microsecond values). The rebuild blocks parquet filter
    *    pushdown on `ts`; at scale this table would be re-encoded at the
    *    bronze->silver hop precisely to keep pushdown.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): inferred as
    *    TIMESTAMP_NTZ — cast to TimestampType (a no-op under the
    *    session's pinned UTC zone, and DuckDB reads the same naive
    *    micros, so oracle comparisons stay exact).
    *  - already TimestampType: pass through untouched (pushdown intact). */
  def events: DataFrame = Tables.cached(spark, s"$dir/events.parquet",
    () => Tables.normalizeEventsTs(spark.read.parquet(s"$dir/events.parquet")))
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  // Session-keyed base-frame catalog (see [[Tables.t]]). WeakHashMap on the
  // session so a stopped session's entries are collectable; the inner map
  // is keyed by the resolved file path, so different sf dirs coexist.
  private val catalog =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, DataFrame]]
  private[graft] def cached(spark: SparkSession, path: String,
                            build: () => DataFrame): DataFrame =
    catalog.synchronized {
      var m = catalog.get(spark)
      if (m == null) {
        m = scala.collection.mutable.Map.empty[String, DataFrame]
        catalog.put(spark, m)
      }
      m.getOrElseUpdate(path, build())
    }

  /** Encoding-adaptive `ts` normalization (see [[Tables.events]]). Shared
    * with the file-based streaming reads in StreamingSpec, which stream the
    * same feed and must apply the identical rebuild; works on streaming
    * frames too (pure projection). */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // The NTZ->TZ cast reinterprets the naive micros IN THE SESSION
        // ZONE — exact only under the UTC zone every Graft session pins
        // (ADVICE r8: from any other zone it would silently shift every
        // event timestamp and break oracle comparisons). Fail fast rather
        // than corrupt.
        val zone = raw.sparkSession.conf.get("spark.sql.session.timeZone")
        require(zone == "UTC",
          s"normalizeEventsTs needs spark.sql.session.timeZone=UTC to cast " +
            s"TIMESTAMP_NTZ losslessly (session has '$zone'); set the zone " +
            "or read the feed through GraftSession")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}

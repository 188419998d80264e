package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Ops.{Entry, Q}

/** The query registry. Each module lists its queries once, as a
  * `Seq[Entry]` after every query and oracle helper it names; [[all]]
  * joins those lists in module order, and the maps below are derived from
  * it once, when this object loads:
  *  - [[queries]]: every entry's query, which Verify dumps;
  *  - [[oracleSql]]: the DuckDB SQL of every entry that has one. An entry
  *    with `oracle = None` gets the weaker rows-only check (for seed- or
  *    engine-specific output);
  *  - [[headline]]: the entries `Bench` and `Slope` time, in registry order.
  *
  * Loading fails if two entries share a name, and the error names them.
  */
object SparkEntry {

  val all: Seq[Entry] = unique(
    analytics.CoreQueries.entries ++
      analytics.ExtendedQueries.entries ++
      analytics.Behavior.entries ++
      analytics.Graph.entries ++
      analytics.RobustStats.entries ++
      analytics.Drift.entries ++
      operators.Incremental.entries ++
      warehouse.Layout.entries ++
      warehouse.StarSchema.entries ++
      functions.TextOps.entries ++
      functions.CatalogFunctions.entries ++
      operators.Dedup.entries ++
      operators.Curation.entries ++
      operators.Similarity.entries ++
      operators.Multimodal.entries ++
      operators.Skew.entries ++
      operators.Linkage.entries ++
      operators.RuntimeFilters.entries ++
      operators.AsOfJoin.entries ++
      operators.RangeJoin.entries ++
      warehouse.Bucketing.entries ++
      quality.Gates.entries ++
      streaming.EventStream.entries ++
      sources.Sources.entries ++
      sources.Tiles.entries ++
      ml.FarePipeline.entries)

  /** `entries` as given; fails naming every name that occurs twice. */
  private[graft] def unique(entries: Seq[Entry]): Seq[Entry] = {
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"registry names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }

  val queries: Map[String, Q] = all.map(e => e.name -> e.q).toMap

  val oracleSql: Map[String, String] = all.flatMap(e => e.oracle.map(e.name -> _)).toMap

  val headline: Seq[String] = all.filter(_.headline).map(_.name)

  /** The benches' untimed warm-up query. A lookup that fails here fails
    * the warm-up, which reports it. */
  private[graft] def warmUp: Q = queries("a7_distinct_list")

  /** Flagship: the A5 pricing-summary aggregate (TPC-H Q1 shape — the same
    * groupBy/agg pattern as the reference's KPI queries, app.py:239-252). */
  def entry(spark: SparkSession): DataFrame =
    queries("a5_two_key_group")(spark, "/root/testdata/sf0.001")
}

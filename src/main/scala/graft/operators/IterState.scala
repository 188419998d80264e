package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one life cycle of the iterative operators (connected components,
  * PageRank, k-core, label propagation, BFS/SSSP): [[fixpoint]] runs it,
  * and each operator supplies only its step and its convergence test.
  *
  * '''Input cache.''' The edge or adjacency frame feeds every round, so it
  * is persisted and counted first, at the session's full shuffle width:
  * the edge build upstream is data-sized and keeps its parallelism.
  * Partition it on the probe key before handing it over, and each round's
  * join reads the cache co-located and exchanges only the state side.
  *
  * '''State width.''' The state frames are node-sized metadata (thousands
  * of rows at bench scale, a few GB at 100 TB) but would shuffle at the
  * session's `spark.sql.shuffle.partitions`, sized for data. With M map
  * tasks and R reduce partitions every exchange writes M·R block files: a
  * thread dump of a propagation round (OPTIMIZATION_r15.md) showed ~10 s
  * of executor CPU per round opening 32·32 files of a few KB each, which
  * AQE's read-side coalescing cannot undo. So the rounds run under
  * [[withStateShuffle]], at ~4M state rows per partition derived from the
  * input's measured count ([[statePartitions]]): 1 partition at bench
  * scale, hundreds at 100 TB, never wider than the session's own setting.
  * Results are partitioning-independent (keyed joins and aggregates,
  * deterministic min/argmin tie-breaks).
  *
  * '''Cadence.''' A loop with a convergence test persists each round's
  * state and ends the round in one action, the test itself; the previous
  * round's cache is released once the new one is filled. A loop without
  * one folds its rounds into one lazy plan and pays no per-round action:
  * each round reads the previous state once, so the plan grows by one
  * join per round. Either way, every [[CheckpointEvery]] rounds with
  * rounds still to go, the state is cut to an eager `localCheckpoint`, so
  * the lineage the analyzer and the planner walk stays bounded at any
  * depth. A state that already reads only checkpoints has no lineage to
  * cap and is not cut again (connected components' pointer-jump step
  * checkpoints its own relax state every round).
  *
  * '''Snapshot before release.''' The result is an eager
  * `localCheckpoint(true)` taken BEFORE the caches are released, never a
  * persisted frame: `Dataset.unpersist` drops the materialized blocks of
  * every cache entry whose plan reads the released one, for lazy re-cache
  * (`CacheManager.recacheByCondition`), so a persisted result would make
  * the caller's first action re-run the whole loop against cold caches
  * (a 5.1 s re-run of a 1,500-row result, PERF.md r10). A local
  * checkpoint truncates lineage at the RDD level, outside the cache
  * manager's dependency tracking. Every cache the driver made is released
  * in a `finally`, on failure too. */
private[graft] object IterState {
  /** ~4M (id, label)-style rows per state partition (~100 MB). */
  private val RowsPerPartition = 4L * 1000 * 1000

  /** Rounds between lineage cuts. */
  val CheckpointEvery = 5

  def statePartitions(spark: SparkSession, stateRows: Long): Int = {
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(cur.toLong,
      (stateRows + RowsPerPartition - 1) / RowsPerPartition)).toInt
  }

  /** Run `body` with the shuffle width sized to `stateRows`; restore the
    * session's R afterwards. The caller must have already materialized
    * any data-sized upstream (edge cache) — everything inside `body`
    * should touch only state-sized frames and cached inputs. */
  def withStateShuffle[T](spark: SparkSession, stateRows: Long)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitions(spark, stateRows).toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The round-less half of the life cycle: cache `input`, snapshot
    * `body`'s result over the cache, release the cache. For operators
    * whose intermediates are data-sized (wedge joins), so the session's
    * width is the right one and nothing is counted. */
  def snapshot(input: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val in = input.persist()
    try body(in).localCheckpoint(true)
    finally in.unpersist()
  }

  /** Up to `maxRounds` rounds of `step` from `init(inputRows)`, with
    * `input` cached; returns the snapshot of `result(final state)`. The
    * functions read `input` itself: the cache is found by its plan. With
    * a `converged` test (one action over the new, persisted state) the
    * loop stops at the first round that passes it. */
  def fixpoint(input: DataFrame, maxRounds: Int,
               converged: Option[DataFrame => Boolean] = None)
              (init: Long => DataFrame)
              (step: DataFrame => DataFrame)
              (result: DataFrame => DataFrame): DataFrame = {
    val in = input.persist()
    var held = List.empty[DataFrame] // state caches the rounds made, newest first
    def release(keep: Int): Unit = { held.drop(keep).foreach(_.unpersist()); held = held.take(keep) }
    try {
      val rows = in.count()
      withStateShuffle(in.sparkSession, rows) {
        var state = init(rows)
        if (converged.isDefined && (state ne in)) held = List(state.persist())
        var round = 0
        var done = false
        while (!done && round < maxRounds) {
          round += 1
          state = step(state)
          for (test <- converged) {
            held = state.persist() :: held
            done = test(state)
            release(1)
          }
          if (!done && round < maxRounds && round % CheckpointEvery == 0 &&
              !state.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LogicalRDD])) {
            state = state.localCheckpoint(true)
            release(0)
          }
        }
        result(state).localCheckpoint(true)
      }
    } finally {
      release(0)
      in.unpersist()
    }
  }
}

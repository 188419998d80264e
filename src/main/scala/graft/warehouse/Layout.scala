package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.Ops.{Entry, Q}

/** Multi-dimensional data LAYOUT: Z-order (Morton) clustering.
  *
  * Sorting a table by one key makes file-level min/max statistics tight on
  * that key and useless on every other; interleaving the bits of two keys
  * into one Morton code and sorting by THAT gives every file a tight
  * bounding box on BOTH keys — so a predicate on either column (or both)
  * prunes files at the scan. This is the layout trick behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`, expressed here as plain codegen'd
  * column arithmetic + an ordinary range-partitioned sort — at 100 TB it
  * is one `repartitionByRange(zval)` + `sortWithinPartitions` write, no
  * shuffle beyond the one the re-layout itself is.
  *
  * The graded entry proves the property instead of asserting it: cluster
  * lineitem by z(partkey, suppkey), cut the sorted order into 32
  * equal-size "files" (ntile), and report each tile's bounding box over
  * both keys — tight spans on BOTH dimensions are exactly what a scan
  * planner skips with. The oracle recomputes the same Morton codes with
  * integer arithmetic in DuckDB, so the entry is hash-green, not a
  * narrative.
  */
object Layout {

  /** Morton code: interleave the low `bits` bits of x (even positions)
    * and y (odd positions). Pure integer expression — whole-stage
    * codegen, no UDF. Keys wider than `bits` are masked first (at real
    * scale the coordinates come from a bounded hash or a dictionary
    * rank). */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    val xl = x.cast(LongType).bitwiseAND(lit((1L << bits) - 1))
    val yl = y.cast(LongType).bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map { i =>
      shiftright(xl, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(yl, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Hilbert curve index (the canonical xy2d bit-transform): appends
    * column `out` = the Hilbert d-index of the low-`bits` grid cell
    * (x, y). Unlike the Morton code, CONSECUTIVE Hilbert indices are
    * always grid-ADJACENT (no 2^k jumps at quadrant seams), which is why
    * Hilbert clustering yields tighter tile bounding boxes than Z-order
    * on box predicates — the curve every modern OPTIMIZE implementation
    * offers beside Z-order. The per-step quadrant rotation makes the
    * index a FOLD over bit positions with mutating (x, y) state, so it
    * is built as one small projection per bit (CollapseProject keeps
    * them separate — the when() chains are non-cheap and multiply
    * referenced; inlining all `bits` steps into one expression grows the
    * tree ~3x per step). Pure integer arithmetic, whole-stage codegen,
    * no UDF; bit-identical to the unrolled-CTE SQL twin in the
    * layout_hilbert_prune oracle. */
  def withHilbert(df: DataFrame, x: Column, y: Column, bits: Int,
                  out: String): DataFrame = {
    val mask = lit((1L << bits) - 1)
    var cur = df
      .withColumn("__hx", x.cast(LongType).bitwiseAND(mask))
      .withColumn("__hy", y.cast(LongType).bitwiseAND(mask))
      .withColumn(out, lit(0L))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val rx = when(col("__hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(col("__hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      cur = cur
        .withColumn(out,
          col(out) + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry))
        // quadrant rotation: ry=0 => (x', y') = rx=1 ? (s-1-y, s-1-x)
        // : (y, x); ry=1 => unchanged — both new values read the OLD
        // state, so they are computed in one projection step
        .withColumn("__hx2",
          when(col("__hy").bitwiseAND(lit(s)) === 0,
            when(col("__hx").bitwiseAND(lit(s)) > 0,
              lit(s - 1) - col("__hy")).otherwise(col("__hy")))
            .otherwise(col("__hx")))
        .withColumn("__hy",
          when(col("__hy").bitwiseAND(lit(s)) === 0,
            when(col("__hx").bitwiseAND(lit(s)) > 0,
              lit(s - 1) - col("__hx")).otherwise(col("__hx")))
            .otherwise(col("__hy")))
        .withColumn("__hx", col("__hx2"))
    }
    cur.drop("__hx", "__hy", "__hx2")
  }

  /** Per-"file" bounding boxes after Z-order clustering — the GRADED-SCALE
    * PROOF HARNESS, not the production re-layout. It uses a global
    * unpartitioned `ntile` (a single-task sort) ONLY because exact
    * equal-size tiles are what the DuckDB oracle can reproduce bit-for-bit;
    * at real scale that global window is exactly the bottleneck the layout
    * exists to avoid. The 100-TB shape is [[zOrderCluster]] /
    * [[zOrderFileStats]] below: one range exchange, per-partition sort,
    * no single-task stage. */
  def zOrderTileStats(df: DataFrame, xCol: String, yCol: String,
                      tiles: Int): DataFrame = {
    val z = df.withColumn("__z", zValue(col(xCol), col(yCol)))
    val w = Window.orderBy(col("__z"), col(xCol), col(yCol))
    z.withColumn("tile", ntile(tiles).over(w))
      .groupBy("tile")
      .agg(count(lit(1)).as("n"),
        min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"),
        min(col("__z")).as("z_min"), max(col("__z")).as("z_max"))
  }

  /** The PRODUCTION re-layout: range-partition on the Morton code into
    * `files` output partitions and sort within each — the exact shape
    * Delta/Iceberg `OPTIMIZE ZORDER BY` runs at 100 TB. One range exchange
    * (whose boundaries come from Spark's distributed range sampler, so
    * files are approximately — not exactly — equal-size), then a
    * per-partition sort; no global single-task stage anywhere. The result
    * is ready for `.write.parquet` where each partition becomes one
    * z-clustered file. */
  def zOrderCluster(df: DataFrame, xCol: String, yCol: String,
                    files: Int): DataFrame =
    df.withColumn("__z", zValue(col(xCol), col(yCol)))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")

  /** Realized per-file bounding boxes of [[zOrderCluster]]'s layout, read
    * off with `spark_partition_id` — the zone-map a scan planner would
    * skip with. Distributed end-to-end (stats are a per-partition hash
    * agg); file sizes vary with the range sampler, so this variant is
    * plan/property-tested rather than oracle-hashed. */
  def zOrderFileStats(df: DataFrame, xCol: String, yCol: String,
                      files: Int): DataFrame =
    zOrderCluster(df, xCol, yCol, files)
      .withColumn("file", spark_partition_id())
      .groupBy("file")
      .agg(count(lit(1)).as("n"),
        min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"),
        min(col("__z")).as("z_min"), max(col("__z")).as("z_max"))

  /** Small-file compaction PLAN (the other half of `OPTIMIZE`): given a
    * file inventory (partition key, file id, size), assign files to
    * target-sized output bins — size-descending greedy running-sum
    * packing, `bin = floor(bytes_before_me / target)` within the
    * partition. Deterministic (integer arithmetic, fully tie-broken
    * ordering) and windowed PER PARTITION KEY — the inventory is metadata
    * (one row per FILE, not per data row), so even a 100-TB table's plan
    * is a few million rows keyed by partition, never data-sized. Returns
    * one row per output bin with its file count and byte total; bins at
    * or above `targetBytes` (one oversized file alone) ship as-is. */
  def compactionPlan(inventory: DataFrame, partCol: String, fileCol: String,
                     sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0)
    val w = Window.partitionBy(partCol)
      .orderBy(col(sizeCol).desc, col(fileCol))
    inventory
      .withColumn("__before",
        sum(col(sizeCol)).over(w) - col(sizeCol))
      .withColumn("bin", floor(col("__before") / targetBytes).cast("int"))
      .groupBy(col(partCol), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col(sizeCol)).as("bytes"))
      .orderBy(col(partCol), col("bin"))
  }

  /** Scan-planner MANIFEST: one row per partition with row count and
    * min/max "zone map" stats for the named columns — the metadata table a
    * planner consults before touching data (Iceberg manifests / Delta
    * checkpoint stats / parquet footers, expressed as a first-class
    * queryable artifact). One pass, map-side combinable min/max/count; the
    * output is partition-count-sized, never data-sized, so at 100 TB the
    * manifest of a million-file table is a few-MB frame a planner can
    * broadcast. */
  def manifestStats(df: DataFrame, partExpr: Column,
                    statCols: Seq[String]): DataFrame =
    df.groupBy(partExpr.as("part"))
      .agg(count(lit(1)).as("n_rows"),
        statCols.flatMap(c => Seq(
          min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)
      .orderBy("part")

  /** Merge two manifests built from disjoint row sets of the same table:
    * counts add, mins take min, maxes take max — manifest stats are
    * mergeable aggregates, which is the property that lets a 100-TB
    * table's manifest be maintained incrementally (each ingest batch
    * contributes its own partition stats; the planner's view is a rollup,
    * never a rescan). Column layout must match [[manifestStats]]. */
  def mergeManifests(a: DataFrame, b: DataFrame,
                     statCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy("part")
      .agg(sum(col("n_rows")).as("n_rows"),
        statCols.flatMap(c => Seq(
          min(col(s"min_$c")).as(s"min_$c"),
          max(col(s"max_$c")).as(s"max_$c"))): _*)
      .orderBy("part")

  /** Prune PLAN for a half-open range predicate `[lo, hi)` on `statCol`,
    * evaluated against the manifest alone: `skip` when the partition's
    * [min, max] is disjoint from the predicate, `full` when it is entirely
    * contained (the scan can skip re-evaluating the filter), `partial`
    * otherwise. This is the decision a format-aware scan makes per file
    * from footer stats — materialized as a frame so the skip ratio is an
    * auditable number instead of a hope. Runs on manifest-sized metadata;
    * the data itself is never read. */
  def prunePlan(manifest: DataFrame, statCol: String,
                lo: Column, hi: Column): DataFrame =
    manifest.select(col("part"), col("n_rows"),
      when(col(s"max_$statCol") < lo || col(s"min_$statCol") >= hi, "skip")
        .when(col(s"min_$statCol") >= lo && col(s"max_$statCol") < hi, "full")
        .otherwise("partial").as("decision"))
      .orderBy("part")

  // ------------------------------------------------------- transaction log

  /** Live file set of a commit log at `asOf`: for every file, its LATEST
    * action with `version <= asOf` decides — live iff that action is an
    * `add`. This is snapshot reconstruction through a Delta/Iceberg-style
    * log of (version, add|remove, file, stats) actions: the table's state
    * at any version is a pure function of the metadata log, the data files
    * are never read. Assumes at most ONE action per (version, file) — the
    * invariant every transaction log guarantees (a commit either adds or
    * removes a given file, never both). The log of a 100-TB table is a few
    * million rows — the window below shuffles metadata, and in a real
    * deployment the log is checkpointed so only the tail replays
    * ([[checkpointLog]]). */
  def snapshotAt(log: DataFrame, asOf: Int): DataFrame = {
    val w = Window.partitionBy("file").orderBy(col("version").desc)
    log.filter(col("version") <= asOf)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("action") === "add")
      .drop("__rn")
  }

  /** Time-travel census: one row per requested version with the snapshot's
    * file count, row count, and byte total — `SELECT ... VERSION AS OF v`
    * resolved for every v in one pass. The versions frame is a broadcast
    * literal; the log replays once per version but stays metadata-sized.
    * Invariants the graded entry hash-pins: a compaction version keeps
    * n_rows constant while n_files drops; a delete version drops both. */
  def timeTravelCensus(log: DataFrame, versions: Seq[Int]): DataFrame = {
    val spark = log.sparkSession
    import spark.implicits._
    val vs = versions.toDF("as_of")
    val w = Window.partitionBy("as_of", "file").orderBy(col("version").desc)
    log.join(broadcast(vs), col("version") <= col("as_of"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("action") === "add")
      .groupBy("as_of")
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("n_rows"),
        sum(col("bytes")).as("bytes"))
      .orderBy("as_of")
  }

  /** VACUUM plan: the files that are safe to physically delete because no
    * RETAINED snapshot can reach them — a file is deletable iff it appears
    * in the log but is live in none of `retainedVersions`. Everything
    * newer than the retention horizon is protected even if already
    * `remove`d (time travel to a retained version must still work), which
    * is exactly why Delta's `VACUUM` refuses sub-horizon retention. Pure
    * metadata anti-join; emits the reclaimable inventory with its stats so
    * the reclaimed bytes are an auditable number. */
  def vacuumPlan(log: DataFrame, retainedVersions: Seq[Int]): DataFrame = {
    val spark = log.sparkSession
    import spark.implicits._
    // liveness across ALL retained versions in one log pass (the
    // timeTravelCensus broadcast-versions shape) instead of one
    // snapshotAt per version — the log replays once however long the
    // retention window is
    val vs = retainedVersions.toDF("as_of")
    val w = Window.partitionBy("as_of", "file").orderBy(col("version").desc)
    val live = log.join(broadcast(vs), col("version") <= col("as_of"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("action") === "add")
      .select("file").distinct()
    log.filter(col("action") === "add")
      .select("file", "part", "n_rows", "bytes").distinct()
      .join(live, Seq("file"), "left_anti")
      .orderBy("file")
  }

  /** Log CHECKPOINT at version `v` (Delta's checkpoint-parquet mechanism):
    * every action at `version <= v` collapses into the equivalent live
    * snapshot re-stamped as `add`s AT `v`; later actions pass through
    * unchanged. Replay equivalence — `snapshotAt(checkpoint(log, v), u) ==
    * snapshotAt(log, u)` for every `u >= v` — is what lets a reader of a
    * 100-TB table replay a bounded log tail instead of every commit since
    * table creation; versions BEFORE `v` become unreachable (the graded
    * entry's oracle replays the FULL log, so the hash is the equivalence
    * theorem checked by an independent derivation, not a self-test). */
  def checkpointLog(log: DataFrame, v: Int): DataFrame =
    snapshotAt(log, v)
      .select(lit(v).as("version"), lit("add").as("action"),
        col("file"), col("part"), col("n_rows"), col("bytes"))
      .unionAll(log.filter(col("version") > v))

  /** Optimistic-concurrency conflict detection between two transactions
    * that committed against the SAME base snapshot: per partition, the
    * size of each transaction's remove-set and of their intersection —
    * two txns that both remove a common file cannot serialize (Delta's
    * ConcurrentDeleteDelete), disjoint remove-sets commit in either order.
    * Inputs are the txns' (file, part) remove-sets; the check is one
    * metadata-sized full-outer join on `file`, no data read, which is why
    * a 100-TB table can run conflict detection per commit. */
  def commitConflicts(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("file"), col("part"), lit(1).as("__a"))
      .join(b.select(col("file"), col("part").as("__pb"), lit(1).as("__b")),
        Seq("file"), "full_outer")
      .select(coalesce(col("part"), col("__pb")).as("part"),
        col("__a"), col("__b"))
      .groupBy("part")
      .agg(sum(coalesce(col("__a"), lit(0))).as("n_txn_a"),
        sum(coalesce(col("__b"), lit(0))).as("n_txn_b"),
        sum(when(col("__a") === 1 && col("__b") === 1, 1)
          .otherwise(0)).as("n_common"))
      .withColumn("verdict",
        when(col("n_common") > 0, "delete_delete").otherwise("disjoint"))
      .orderBy("part")

  /** Bloom-augmented manifest: per partition, the zone-map row count and
    * min/max PLUS the distinct Bloom bit-position set of a point-lookup
    * key (`hashes` positions per key, `xxhash64(key, seed) mod bits`).
    * Zone maps prune RANGE predicates but are nearly useless for point
    * lookups on a key that is scattered across every partition (each
    * tile's [min, max] spans the whole key space, so no tile ever skips);
    * the per-tile Bloom answers "could this key be here at all" — the
    * Iceberg/parquet bloom-filter column stat as a first-class queryable
    * artifact. The position SET saturates at `bits` ints per tile no
    * matter how many rows feed it (a storage format packs it to bits/8
    * bytes), so the manifest stays metadata-sized at 100 TB; the build is
    * one map-side-combinable aggregation pass. By construction the union
    * of a tile's row positions contains every present key's positions —
    * a Bloom probe can false-POSITIVE (hash collisions) but never
    * false-negative, and the graded entry verifies that guarantee
    * against the data rather than asserting it. */
  def bloomManifest(df: DataFrame, partExpr: Column, keyCol: String,
                    bits: Int = 4096, hashes: Int = 3): DataFrame = {
    require(bits > 0 && hashes > 0)
    df.groupBy(partExpr.as("part"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(keyCol)).as(s"min_$keyCol"),
        max(col(keyCol)).as(s"max_$keyCol"),
        array_distinct(flatten(collect_list(
          bloomPositions(col(keyCol), bits, hashes)))).as("bloom"))
  }

  /** The `hashes` Bloom bit positions of one key — shared by build and
    * probe so the two sides can never drift. */
  def bloomPositions(key: Column, bits: Int, hashes: Int): Column =
    array((0 until hashes).map(i =>
      pmod(xxhash64(key, lit(i)), lit(bits.toLong)).cast("int")): _*)

  /** Tile bounding boxes for an arbitrary clustering order — the generic
    * form of [[zOrderTileStats]], used to compare layouts under the same
    * prune predicate. */
  def tileStats(df: DataFrame, xCol: String, yCol: String,
                tiles: Int, orderCols: Seq[Column]): DataFrame = {
    val w = Window.orderBy(orderCols: _*)
    df.withColumn("tile", ntile(tiles).over(w))
      .groupBy("tile")
      .agg(count(lit(1)).as("n"),
        min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"))
  }

  /** 2-D prune plan over z-ordered tiles: the payoff measurement for
    * [[zValue]] clustering. Each tile's bounding box (from
    * [[zOrderTileStats]]) is tested against a closed rectangular predicate
    * `[x1,x2] × [y1,y2]`: `skip` when disjoint on EITHER axis, `full` when
    * contained on BOTH, else `partial`. Because the Morton order keeps both
    * axes locally tight, a 2-D predicate skips most tiles — the property a
    * single-column sort only delivers for its own column. Tile-count-sized
    * metadata; the data is never read at plan time. */
  def zOrderPrunePlan(tiles: DataFrame, x1: Long, x2: Long,
                      y1: Long, y2: Long): DataFrame =
    tiles.select(col("tile"), col("n"),
      when(col("x_max") < x1 || col("x_min") > x2 ||
           col("y_max") < y1 || col("y_min") > y2, "skip")
        .when(col("x_min") >= x1 && col("x_max") <= x2 &&
              col("y_min") >= y1 && col("y_max") <= y2, "full")
        .otherwise("partial").as("decision"))
      .orderBy("tile")

  // ---------------------------------------------------------------- entries

  private val zorderQ: Q = (s, dir) =>
    zOrderTileStats(
      Tables(s, dir).lineitem.select("l_partkey", "l_suppkey"),
      "l_partkey", "l_suppkey", 32)
      .orderBy("tile")

  /** A deterministic stand-in file inventory: one "file" per
    * (event_type, day) of the events feed, sized by its payload bytes
    * (16-byte row header + props length) — the shape a real inventory has
    * after a day of streaming micro-batch writes. Target bin: 32 KiB at
    * test scale. */
  private val compactionQ: Q = (s, dir) =>
    compactionPlan(
      Tables(s, dir).events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg((sum(coalesce(octet_length(col("props")), lit(0)))
          + lit(16L) * count(lit(1))).as("size_bytes")),
      "event_type", "day", "size_bytes", targetBytes = 32768L)

  /** Monthly manifest of the lineitem feed with zone maps on the ship
    * date and the two most-filtered measures. */
  private def lineitemManifest(s: org.apache.spark.sql.SparkSession,
                               dir: String): DataFrame =
    manifestStats(Tables(s, dir).lineitem,
      date_trunc("month", col("l_shipdate")).cast("date"),
      Seq("l_shipdate", "l_quantity", "l_extendedprice"))

  private val manifestQ: Q = (s, dir) => lineitemManifest(s, dir)

  /** Incremental-maintenance proof: the manifest of the whole table equals
    * the MERGE of manifests built from two disjoint halves — graded
    * against the direct manifest's own oracle, so mergeability is a
    * hash-checked equality, not a claim. */
  private val manifestMergeQ: Q = (s, dir) => {
    val cols = Seq("l_shipdate", "l_quantity", "l_extendedprice")
    def half(pred: org.apache.spark.sql.Column) =
      manifestStats(Tables(s, dir).lineitem.filter(pred),
        date_trunc("month", col("l_shipdate")).cast("date"), cols)
    mergeManifests(half(col("l_orderkey") % 2 === 0),
      half(col("l_orderkey") % 2 =!= 0), cols)
  }

  /** Deterministic file inventory for the transaction-log entries: one
    * "file" per (ship month, orderkey % 4) of lineitem, with row count and
    * an exact-decimal byte proxy — the post-ingest layout of a partitioned
    * table where each month received four bucketed writer outputs.
    *
    * Materialized ONCE via eager localCheckpoint: in a deployment this
    * inventory (like the commit log built from it) is a STORED metadata
    * table the format reads back, never re-derived from data. The lazy
    * form re-aggregated lineitem per downstream reference — the commit
    * log's five union slices alone re-ran the data-sized groupBy five
    * times and `layout_vacuum_plan` planned 39 Exchanges; checkpointed,
    * every log operation is a scan over ~4·months metadata rows. */
  private def fileInventory(s: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame =
    Tables(s, dir).lineitem
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("part"),
        (col("l_orderkey") % 4).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        // exact-decimal sum (the engine-vs-oracle double-summation-order
        // convention of CoreQueries): cents as BIGINT, bit-stable
        (sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
          .cast("long").as("bytes"))
      .withColumn("file",
        concat(col("part").cast("string"), lit("/b"), col("bucket")))
      .localCheckpoint(true)

  /** Deterministic four-version commit log over [[fileInventory]] — the
    * lifecycle a real table walks: v0/v1 ingest (buckets 0-1, then 2-3),
    * v2 compaction (buckets 0-1 removed, one `c01` file per month added
    * with their combined stats — row count invariant, file count down),
    * v3 deletion (bucket-2 files before 1997 removed — rows actually
    * drop). Remove actions carry the file's stats, as Delta remove
    * actions reference known files. */
  private def commitLog(s: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    val inv = fileInventory(s, dir)
    def slice(pred: Column, ver: Int, act: String) =
      inv.filter(pred).select(lit(ver).as("version"), lit(act).as("action"),
        col("file"), col("part"), col("n_rows"), col("bytes"))
    val c01 = inv.filter(col("bucket").isin(0, 1))
      .groupBy("part")
      .agg(sum("n_rows").as("n_rows"), sum("bytes").as("bytes"))
      .select(lit(2).as("version"), lit("add").as("action"),
        concat(col("part").cast("string"), lit("/c01")).as("file"),
        col("part"), col("n_rows"), col("bytes"))
    slice(col("bucket").isin(0, 1), 0, "add")
      .unionAll(slice(col("bucket").isin(2, 3), 1, "add"))
      .unionAll(slice(col("bucket").isin(0, 1), 2, "remove"))
      .unionAll(c01)
      .unionAll(slice(col("bucket") === 2
        && col("part") < lit("1997-01-01").cast("date"), 3, "remove"))
      // the log, like the inventory it derives from, is a STORED table in
      // any real format — materialize so multi-reference consumers
      // (vacuum's live-set + add-set passes) scan it, not its derivation
      .localCheckpoint(true)
  }

  /** Snapshot census at every version of the log: the compaction (v1→v2)
    * must keep n_rows constant while n_files drops, the delete (v2→v3)
    * drops both — both invariants land in the hash. */
  private val timeTravelQ: Q = (s, dir) =>
    timeTravelCensus(commitLog(s, dir), Seq(0, 1, 2, 3))

  /** Reclaimable-file inventory with snapshots 2 and 3 retained: the
    * compacted-away bucket-0/1 files are deletable; the v3-deleted
    * bucket-2 files are NOT (still live at retained v2) — the retention
    * horizon protecting time travel is what the hash pins. */
  private val vacuumQ: Q = (s, dir) =>
    vacuumPlan(commitLog(s, dir), retainedVersions = Seq(2, 3))

  /** Replay-equivalence grading: the snapshot census at versions 2 and 3
    * computed from the CHECKPOINTED-at-2 log, while the oracle replays the
    * FULL log — equal hashes prove the checkpoint preserved every
    * reachable snapshot through an independent derivation. */
  private val logCheckpointQ: Q = (s, dir) =>
    timeTravelCensus(checkpointLog(commitLog(s, dir), 2), Seq(2, 3))

  /** Conflict matrix between the v2 compaction (removes buckets 0-1) and a
    * concurrent delete of bucket-1 files from 1997 on, both based on v1:
    * months ≥ 1997 collide on the bucket-1 file (`delete_delete`), earlier
    * months serialize (`disjoint`). */
  private val conflictsQ: Q = (s, dir) => {
    val inv = fileInventory(s, dir)
    commitConflicts(
      inv.filter(col("bucket").isin(0, 1)).select("file", "part"),
      inv.filter(col("bucket") === 1
        && col("part") >= lit("1997-01-01").cast("date"))
        .select("file", "part"))
  }

  /** Prune decisions for a ~16-month ship-date range: months before/after
    * skip outright, interior months scan filter-free (`full`), the two
    * boundary months scan with the residual filter (`partial`). */
  private val pruneQ: Q = (s, dir) =>
    prunePlan(lineitemManifest(s, dir), "l_shipdate",
      lit("1997-03-10").cast("timestamp"), lit("1998-06-20").cast("timestamp"))

  /** Prune decisions for a 2-D box predicate (partkey 200..600 x suppkey
    * 20..80) against the 32 z-ordered tiles — most tiles skip on one axis
    * or the other, which is the measurable point of the Morton layout. */
  private val zorderPruneQ: Q = (s, dir) =>
    zOrderPrunePlan(
      zOrderTileStats(
        Tables(s, dir).lineitem.select("l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", 32),
      200L, 600L, 20L, 80L)

  /** The layout A/B/C the Morton scaladoc argues in prose, MEASURED: three
    * predicates (x-range only, y-range only, the 2-D box) pruned against 32
    * tiles from (a) a plain (x, y) lexicographic sort, (b) RAW Morton on
    * the native key values, (c) Morton on RANGE-NORMALIZED coordinates
    * (each axis scaled to 8 bits off its own max). The census captures two
    * real phenomena: the linear sort prunes nothing on y; and raw Morton on
    * ASYMMETRIC domains (partkey spans ~11 bits, suppkey ~8) degrades
    * toward an x-sort at coarse tile granularity — the high interleaved
    * bits are all x — which is exactly why Delta/Iceberg z-order
    * implementations rank/scale each column before interleaving. The
    * scaled variant bounds both axes and skips on every predicate.
    * Tile-count-sized metadata throughout. */
  private val comparePruneQ: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir).lineitem.select("l_partkey", "l_suppkey")
    val big = 1L << 40
    val preds = Seq(
      ("x_range", 200L, 600L, 0L, big),
      ("y_range", 0L, big, 20L, 80L),
      ("box", 200L, 600L, 20L, 80L),
    ).toDF("pred", "x1", "x2", "y1", "y2")
    def census(tiles: DataFrame, name: String) =
      tiles.crossJoin(broadcast(preds))
        .select(col("pred"), col("n"),
          when(col("x_max") < col("x1") || col("x_min") > col("x2") ||
               col("y_max") < col("y1") || col("y_min") > col("y2"), "skip")
            .when(col("x_min") >= col("x1") && col("x_max") <= col("x2") &&
                  col("y_min") >= col("y1") && col("y_max") <= col("y2"),
              "full")
            .otherwise("partial").as("decision"))
        .groupBy("pred", "decision")
        .agg(count(lit(1)).as("n_tiles"), sum(col("n")).as("n_rows"))
        .withColumn("layout", lit(name))
    val ranges = li.agg(max(col("l_partkey")).as("xmax"),
      max(col("l_suppkey")).as("ymax"))
    val scaled = li.crossJoin(broadcast(ranges))
      .withColumn("zn", zValue(
        floor(col("l_partkey") * lit(256.0) / (col("xmax") + lit(1))),
        floor(col("l_suppkey") * lit(256.0) / (col("ymax") + lit(1))),
        bits = 8))
    census(zOrderTileStats(li, "l_partkey", "l_suppkey", 32), "zorder_raw")
      .unionByName(census(
        tileStats(li, "l_partkey", "l_suppkey", 32,
          Seq(col("l_partkey"), col("l_suppkey"))), "linear"))
      .unionByName(census(
        tileStats(scaled, "l_partkey", "l_suppkey", 32,
          Seq(col("zn"), col("l_partkey"), col("l_suppkey"))),
        "zorder_scaled"))
      .select("layout", "pred", "decision", "n_tiles", "n_rows")
      .orderBy("layout", "pred", "decision")
  }

  /** Bloom-manifest point-lookup prune, GRADED on its guarantee: build
    * the [[bloomManifest]] of lineitem over ship-month tiles keyed on
    * l_orderkey, probe 24 literal keys (TPC-H orderkeys are sparse, so
    * the set mixes present and absent keys), and emit per key the two
    * numbers DuckDB re-derives exactly — tiles truly containing the key
    * and tiles a zone-map planner must read — plus the in-engine
    * no-false-negative check (every truly-containing tile survives the
    * Bloom probe; a position-arithmetic bug would flip it to FALSE and
    * hash-fail). The engine-local Bloom SURVIVOR count is hash-dependent
    * and deliberately not emitted; LayoutSpec pins its effectiveness
    * (it must out-prune the zone map on this scattered key). */
  private val bloomPruneQ: Q = (s, dir) => {
    import s.implicits._
    val bits = 4096
    val hashes = 3
    val li = Tables(s, dir).lineitem
    val part = date_trunc("month", col("l_shipdate")).cast("date")
    val m = bloomManifest(li, part, "l_orderkey", bits, hashes)
    val keysDf = (1L to 24L).toDF("key")
    val probed = m.crossJoin(broadcast(keysDf))
      .withColumn("minmax_hit",
        col("key") >= col("min_l_orderkey") && col("key") <= col("max_l_orderkey"))
      .withColumn("bloom_hit",
        forall(bloomPositions(col("key"), bits, hashes),
          p => array_contains(col("bloom"), p)))
    val truthTiles = li.filter(col("l_orderkey").between(1L, 24L))
      .select(col("l_orderkey").as("key"), part.as("part")).distinct()
    val truth = truthTiles
      .join(probed.select(col("part"), col("key"), col("bloom_hit")),
        Seq("part", "key"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_tiles_true"),
        sum(when(!col("bloom_hit"), 1L).otherwise(0L)).as("__viol"))
    val minmax = probed.groupBy("key")
      .agg(sum(when(col("minmax_hit"), 1L).otherwise(0L)).as("n_tiles_minmax"))
    keysDf.join(minmax, Seq("key"), "left")
      .join(truth, Seq("key"), "left")
      .select(col("key"),
        coalesce(col("n_tiles_true"), lit(0L)).as("n_tiles_true"),
        coalesce(col("n_tiles_minmax"), lit(0L)).as("n_tiles_minmax"),
        (coalesce(col("__viol"), lit(0L)) === 0L).as("bloom_no_false_neg"))
      .orderBy("key")
  }

  /** Hilbert-clustered tile census against the same three rectangular
    * predicates as [[comparePruneQ]] — the curve-quality capstone of the
    * layout family. Same harness shape (256-grid scaled coordinates,
    * ntile(32) proof tiles, skip/full/partial census); the oracle is the
    * GENERATED 8-step-unrolled CTE twin of [[withHilbert]]
    * ([[hilbertStepsSql]]). Honest measurement note: at this coarse proof
    * granularity (32 tiles over a uniform grid) the census reads
    * comparable to zorder_scaled (box skip 18 vs 19 at sf0.01) — the
    * adjacency advantage shows up as tile counts approach grid cells,
    * i.e. in per-FILE bounding boxes at real scale, not in 1875-row proof
    * tiles. What IS pinned (LayoutSpec): the canonical 4×4 curve table
    * and the adjacency property Morton provably lacks — consecutive
    * Hilbert indices are always grid-adjacent, so a tile of consecutive
    * indices is a connected region with a perimeter-bound bounding box. */
  private val hilbertPruneQ: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir).lineitem.select("l_partkey", "l_suppkey")
    val big = 1L << 40
    val preds = Seq(
      ("x_range", 200L, 600L, 0L, big),
      ("y_range", 0L, big, 20L, 80L),
      ("box", 200L, 600L, 20L, 80L),
    ).toDF("pred", "x1", "x2", "y1", "y2")
    val ranges = li.agg(max(col("l_partkey")).as("xmax"),
      max(col("l_suppkey")).as("ymax"))
    val scaled = withHilbert(
      li.crossJoin(broadcast(ranges)),
      floor(col("l_partkey") * lit(256.0) / (col("xmax") + lit(1))),
      floor(col("l_suppkey") * lit(256.0) / (col("ymax") + lit(1))),
      bits = 8, out = "hv")
    val tiles = tileStats(scaled, "l_partkey", "l_suppkey", 32,
      Seq(col("hv"), col("l_partkey"), col("l_suppkey")))
    tiles.crossJoin(broadcast(preds))
      .select(col("pred"), col("n"),
        when(col("x_max") < col("x1") || col("x_min") > col("x2") ||
             col("y_max") < col("y1") || col("y_min") > col("y2"), "skip")
          .when(col("x_min") >= col("x1") && col("x_max") <= col("x2") &&
                col("y_min") >= col("y1") && col("y_max") <= col("y2"),
            "full")
          .otherwise("partial").as("decision"))
      .groupBy("pred", "decision")
      .agg(count(lit(1)).as("n_tiles"), sum(col("n")).as("n_rows"))
      .orderBy("pred", "decision")
  }

  /** The generated unrolled-CTE SQL twin of [[withHilbert]]: one CTE per
    * bit position threading (hx, hy, d) through the xy2d rotation. */
  private def hilbertStepsSql(bits: Int): String =
    ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, k) =>
      val s = 1L << i
      s"""h${k + 1} AS (
         |  SELECT l_partkey, l_suppkey,
         |    CASE WHEN (hy & $s) = 0
         |         THEN CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hy ELSE hy END
         |         ELSE hx END AS hx,
         |    CASE WHEN (hy & $s) = 0
         |         THEN CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hx ELSE hx END
         |         ELSE hy END AS hy,
         |    d + ${s * s} * xor(3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
         |                       (CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)) AS d
         |  FROM h$k)""".stripMargin
    }.mkString(",\n")

  private[graft] def zTerms(xc: String, yc: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($xc >> $i) & 1) * ${1L << (2 * i)}) + " +
        s"((($yc >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  /** DuckDB twin of [[fileInventory]] (shared WITH-prefix, ends open for
    * appending further CTEs). */
  private val invCteSql: String =
    """WITH inv AS (
      |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part,
      |         CAST(l_orderkey % 4 AS INT) AS bucket,
      |         count(*) AS n_rows,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
      |              AS BIGINT) AS bytes
      |  FROM lineitem GROUP BY 1, 2),
      |files AS (
      |  SELECT CAST(part AS VARCHAR) || '/b' || CAST(bucket AS VARCHAR)
      |           AS file,
      |         part, bucket, n_rows, bytes FROM inv)""".stripMargin

  /** DuckDB twin of [[commitLog]], built on [[invCteSql]]. */
  private val logCteSql: String =
    s"""$invCteSql,
       |c01 AS (
       |  SELECT CAST(part AS VARCHAR) || '/c01' AS file, part,
       |         CAST(sum(n_rows) AS BIGINT) AS n_rows,
       |         CAST(sum(bytes) AS BIGINT) AS bytes
       |  FROM files WHERE bucket IN (0, 1) GROUP BY part),
       |log AS (
       |  SELECT 0 AS version, 'add' AS action, file, part, n_rows, bytes
       |  FROM files WHERE bucket IN (0, 1)
       |  UNION ALL SELECT 1, 'add', file, part, n_rows, bytes
       |  FROM files WHERE bucket IN (2, 3)
       |  UNION ALL SELECT 2, 'remove', file, part, n_rows, bytes
       |  FROM files WHERE bucket IN (0, 1)
       |  UNION ALL SELECT 2, 'add', file, part, n_rows, bytes FROM c01
       |  UNION ALL SELECT 3, 'remove', file, part, n_rows, bytes
       |  FROM files WHERE bucket = 2 AND part < DATE '1997-01-01')""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("layout_hilbert_prune", hilbertPruneQ, Some(
      s"""WITH rng AS (SELECT max(l_partkey) AS xmax, max(l_suppkey) AS ymax
         |             FROM lineitem),
         |h0 AS (
         |  SELECT l_partkey, l_suppkey,
         |         (CAST(floor(l_partkey * 256.0 / (xmax + 1)) AS BIGINT) & 255)
         |           AS hx,
         |         (CAST(floor(l_suppkey * 256.0 / (ymax + 1)) AS BIGINT) & 255)
         |           AS hy,
         |         CAST(0 AS BIGINT) AS d
         |  FROM lineitem, rng),
         |${hilbertStepsSql(8)},
         |t AS (
         |  SELECT *, ntile(32) OVER (ORDER BY d, l_partkey, l_suppkey) AS tile
         |  FROM h8),
         |tiles AS (
         |  SELECT tile, count(*) AS n,
         |         min(l_partkey) AS x_min, max(l_partkey) AS x_max,
         |         min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
         |  FROM t GROUP BY 1),
         |preds(pred, x1, x2, y1, y2) AS (VALUES
         |  ('x_range', 200, 600, 0, 1099511627776),
         |  ('y_range', 0, 1099511627776, 20, 80),
         |  ('box', 200, 600, 20, 80)),
         |dec AS (
         |  SELECT pred, n,
         |         CASE WHEN x_max < x1 OR x_min > x2
         |                OR y_max < y1 OR y_min > y2 THEN 'skip'
         |              WHEN x_min >= x1 AND x_max <= x2
         |               AND y_min >= y1 AND y_max <= y2 THEN 'full'
         |              ELSE 'partial' END AS decision
         |  FROM tiles, preds)
         |SELECT pred, decision, count(*) AS n_tiles,
         |       CAST(sum(n) AS BIGINT) AS n_rows
         |FROM dec GROUP BY 1, 2 ORDER BY pred, decision""".stripMargin), headline = true),
    // zone-map counts and true-containment counts re-derived from the
    // data; the Bloom guarantee flag asserted TRUE (the engine computes
    // it against the data — no false negative is a structural property
    // of the position-set union, and a build/probe drift would hash-fail)
    Entry("layout_bloom_prune", bloomPruneQ, Some(
      """WITH m AS (
        |  SELECT date_trunc('month', l_shipdate) AS part,
        |         min(l_orderkey) AS mn, max(l_orderkey) AS mx
        |  FROM lineitem GROUP BY 1),
        |keys AS (SELECT CAST(unnest(range(1, 25)) AS BIGINT) AS key),
        |mm AS (
        |  SELECT k.key,
        |         CAST(sum(CASE WHEN k.key >= m.mn AND k.key <= m.mx
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_tiles_minmax
        |  FROM keys k CROSS JOIN m GROUP BY k.key),
        |tt AS (
        |  SELECT l_orderkey AS key,
        |         CAST(count(DISTINCT date_trunc('month', l_shipdate))
        |              AS BIGINT) AS n_tiles_true
        |  FROM lineitem WHERE l_orderkey BETWEEN 1 AND 24 GROUP BY 1)
        |SELECT k.key, COALESCE(tt.n_tiles_true, 0) AS n_tiles_true,
        |       mm.n_tiles_minmax, TRUE AS bloom_no_false_neg
        |FROM keys k JOIN mm ON k.key = mm.key
        |            LEFT JOIN tt ON k.key = tt.key
        |ORDER BY k.key""".stripMargin), headline = true),
    // merged-halves manifest must equal the direct manifest — same oracle
    Entry("layout_manifest_merge", manifestMergeQ, Some(
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part,
        |       count(*) AS n_rows,
        |       min(l_shipdate) AS min_l_shipdate,
        |       max(l_shipdate) AS max_l_shipdate,
        |       min(l_quantity) AS min_l_quantity,
        |       max(l_quantity) AS max_l_quantity,
        |       min(l_extendedprice) AS min_l_extendedprice,
        |       max(l_extendedprice) AS max_l_extendedprice
        |FROM lineitem GROUP BY 1 ORDER BY part""".stripMargin)),
    Entry("layout_zorder", zorderQ, Some(
      s"""WITH z AS (
         |  SELECT l_partkey, l_suppkey,
         |         CAST(${zTerms("(l_partkey & 65535)", "(l_suppkey & 65535)", 16)}
         |              AS BIGINT) AS zv
         |  FROM lineitem),
         |t AS (
         |  SELECT *, ntile(32) OVER (ORDER BY zv, l_partkey, l_suppkey) AS tile
         |  FROM z)
         |SELECT tile, count(*) AS n,
         |       min(l_partkey) AS x_min, max(l_partkey) AS x_max,
         |       min(l_suppkey) AS y_min, max(l_suppkey) AS y_max,
         |       min(zv) AS z_min, max(zv) AS z_max
         |FROM t GROUP BY 1 ORDER BY tile""".stripMargin), headline = true),
    Entry("layout_compaction_plan", compactionQ, Some(
      """WITH inv AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         -- DuckDB's byte length for VARCHAR is strlen (octet_length
        |         -- is BLOB/BIT-only); Spark's is octet_length
        |         sum(coalesce(strlen(props), 0))
        |           + 16 * count(*) AS size_bytes
        |  FROM events GROUP BY 1, 2),
        |packed AS (
        |  SELECT event_type,
        |         CAST(floor((sum(size_bytes) OVER (
        |                 PARTITION BY event_type
        |                 ORDER BY size_bytes DESC, day
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               - size_bytes) / 32768) AS INT) AS bin,
        |         size_bytes
        |  FROM inv)
        |SELECT event_type, bin, count(*) AS n_files,
        |       CAST(sum(size_bytes) AS BIGINT) AS bytes
        |FROM packed GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin)),
    Entry("layout_time_travel", timeTravelQ, Some(
      s"""$logCteSql,
         |vs AS (SELECT unnest([0, 1, 2, 3]) AS as_of),
         |last AS (
         |  SELECT as_of, file, action, n_rows, bytes,
         |         row_number() OVER (PARTITION BY as_of, file
         |                            ORDER BY version DESC) AS rn
         |  FROM log JOIN vs ON version <= as_of)
         |SELECT as_of, count(*) AS n_files,
         |       CAST(sum(n_rows) AS BIGINT) AS n_rows,
         |       CAST(sum(bytes) AS BIGINT) AS bytes
         |FROM last WHERE rn = 1 AND action = 'add'
         |GROUP BY as_of ORDER BY as_of""".stripMargin), headline = true),
    // the oracle replays the FULL log; the engine replays the
    // checkpointed-at-2 log — equal hashes = replay equivalence
    Entry("layout_log_checkpoint", logCheckpointQ, Some(
      s"""$logCteSql,
         |vs AS (SELECT unnest([2, 3]) AS as_of),
         |last AS (
         |  SELECT as_of, file, action, n_rows, bytes,
         |         row_number() OVER (PARTITION BY as_of, file
         |                            ORDER BY version DESC) AS rn
         |  FROM log JOIN vs ON version <= as_of)
         |SELECT as_of, count(*) AS n_files,
         |       CAST(sum(n_rows) AS BIGINT) AS n_rows,
         |       CAST(sum(bytes) AS BIGINT) AS bytes
         |FROM last WHERE rn = 1 AND action = 'add'
         |GROUP BY as_of ORDER BY as_of""".stripMargin), headline = true),
    Entry("layout_vacuum_plan", vacuumQ, Some(
      s"""$logCteSql,
         |vs AS (SELECT unnest([2, 3]) AS as_of),
         |last AS (
         |  SELECT as_of, file, action,
         |         row_number() OVER (PARTITION BY as_of, file
         |                            ORDER BY version DESC) AS rn
         |  FROM log JOIN vs ON version <= as_of),
         |live AS (
         |  SELECT DISTINCT file FROM last WHERE rn = 1 AND action = 'add')
         |SELECT DISTINCT file, part, n_rows, bytes
         |FROM log WHERE action = 'add'
         |  AND file NOT IN (SELECT file FROM live)
         |ORDER BY file""".stripMargin), headline = true),
    Entry("layout_commit_conflicts", conflictsQ, Some(
      s"""$invCteSql,
         |a AS (SELECT file, part FROM files WHERE bucket IN (0, 1)),
         |b AS (SELECT file, part FROM files
         |      WHERE bucket = 1 AND part >= DATE '1997-01-01'),
         |j AS (
         |  SELECT coalesce(a.part, b.part) AS part,
         |         CASE WHEN a.file IS NOT NULL THEN 1 ELSE 0 END AS fa,
         |         CASE WHEN b.file IS NOT NULL THEN 1 ELSE 0 END AS fb
         |  FROM a FULL OUTER JOIN b ON a.file = b.file)
         |SELECT part,
         |       CAST(sum(fa) AS BIGINT) AS n_txn_a,
         |       CAST(sum(fb) AS BIGINT) AS n_txn_b,
         |       CAST(sum(fa * fb) AS BIGINT) AS n_common,
         |       CASE WHEN sum(fa * fb) > 0 THEN 'delete_delete'
         |            ELSE 'disjoint' END AS verdict
         |FROM j GROUP BY part ORDER BY part""".stripMargin), headline = true),
    Entry("layout_manifest_stats", manifestQ, Some(
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part,
        |       count(*) AS n_rows,
        |       min(l_shipdate) AS min_l_shipdate,
        |       max(l_shipdate) AS max_l_shipdate,
        |       min(l_quantity) AS min_l_quantity,
        |       max(l_quantity) AS max_l_quantity,
        |       min(l_extendedprice) AS min_l_extendedprice,
        |       max(l_extendedprice) AS max_l_extendedprice
        |FROM lineitem GROUP BY 1 ORDER BY part""".stripMargin), headline = true),
    Entry("layout_prune_plan", pruneQ, Some(
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part,
        |         count(*) AS n_rows,
        |         min(l_shipdate) AS mn, max(l_shipdate) AS mx
        |  FROM lineitem GROUP BY 1)
        |SELECT part, n_rows,
        |       CASE WHEN mx < TIMESTAMP '1997-03-10'
        |              OR mn >= TIMESTAMP '1998-06-20' THEN 'skip'
        |            WHEN mn >= TIMESTAMP '1997-03-10'
        |             AND mx < TIMESTAMP '1998-06-20' THEN 'full'
        |            ELSE 'partial' END AS decision
        |FROM m ORDER BY part""".stripMargin)),
    Entry("layout_zorder_prune", zorderPruneQ, Some(
      s"""WITH z AS (
         |  SELECT l_partkey, l_suppkey,
         |         CAST(${zTerms("(l_partkey & 65535)", "(l_suppkey & 65535)", 16)}
         |              AS BIGINT) AS zv
         |  FROM lineitem),
         |t AS (
         |  SELECT *, ntile(32) OVER (ORDER BY zv, l_partkey, l_suppkey) AS tile
         |  FROM z),
         |boxes AS (
         |  SELECT tile, count(*) AS n,
         |         min(l_partkey) AS x_min, max(l_partkey) AS x_max,
         |         min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
         |  FROM t GROUP BY 1)
         |SELECT tile, n,
         |       CASE WHEN x_max < 200 OR x_min > 600
         |              OR y_max < 20 OR y_min > 80 THEN 'skip'
         |            WHEN x_min >= 200 AND x_max <= 600
         |             AND y_min >= 20 AND y_max <= 80 THEN 'full'
         |            ELSE 'partial' END AS decision
         |FROM boxes ORDER BY tile""".stripMargin), headline = true),
    Entry("layout_compare_prune", comparePruneQ, Some(
      s"""WITH z AS (
         |  SELECT l_partkey, l_suppkey,
         |         CAST(${zTerms("(l_partkey & 65535)", "(l_suppkey & 65535)", 16)}
         |              AS BIGINT) AS zv
         |  FROM lineitem),
         |tz AS (
         |  SELECT *, ntile(32) OVER (ORDER BY zv, l_partkey, l_suppkey) AS tile
         |  FROM z),
         |tl AS (
         |  SELECT *, ntile(32) OVER (ORDER BY l_partkey, l_suppkey) AS tile
         |  FROM lineitem),
         |rng AS (SELECT max(l_partkey) AS xmax, max(l_suppkey) AS ymax
         |        FROM lineitem),
         |zs AS (
         |  SELECT l_partkey, l_suppkey,
         |         CAST(${zTerms(
             "(CAST(floor(l_partkey * 256.0 / (xmax + 1)) AS BIGINT) & 255)",
             "(CAST(floor(l_suppkey * 256.0 / (ymax + 1)) AS BIGINT) & 255)",
             8)}
         |              AS BIGINT) AS zn
         |  FROM lineitem, rng),
         |ts AS (
         |  SELECT *, ntile(32) OVER (ORDER BY zn, l_partkey, l_suppkey) AS tile
         |  FROM zs),
         |bz AS (
         |  SELECT tile, count(*) AS n,
         |         min(l_partkey) AS x_min, max(l_partkey) AS x_max,
         |         min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
         |  FROM tz GROUP BY 1),
         |bl AS (
         |  SELECT tile, count(*) AS n,
         |         min(l_partkey) AS x_min, max(l_partkey) AS x_max,
         |         min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
         |  FROM tl GROUP BY 1),
         |bs AS (
         |  SELECT tile, count(*) AS n,
         |         min(l_partkey) AS x_min, max(l_partkey) AS x_max,
         |         min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
         |  FROM ts GROUP BY 1),
         |boxes AS (
         |  SELECT 'zorder_raw' AS layout, * FROM bz
         |  UNION ALL SELECT 'linear' AS layout, * FROM bl
         |  UNION ALL SELECT 'zorder_scaled' AS layout, * FROM bs),
         |preds(pred, x1, x2, y1, y2) AS (VALUES
         |  ('x_range', 200, 600, 0, 1099511627776),
         |  ('y_range', 0, 1099511627776, 20, 80),
         |  ('box', 200, 600, 20, 80)),
         |dec AS (
         |  SELECT layout, pred, n,
         |         CASE WHEN x_max < x1 OR x_min > x2
         |                OR y_max < y1 OR y_min > y2 THEN 'skip'
         |              WHEN x_min >= x1 AND x_max <= x2
         |               AND y_min >= y1 AND y_max <= y2 THEN 'full'
         |              ELSE 'partial' END AS decision
         |  FROM boxes, preds)
         |SELECT layout, pred, decision, count(*) AS n_tiles,
         |       CAST(sum(n) AS BIGINT) AS n_rows
         |FROM dec GROUP BY 1, 2, 3 ORDER BY layout, pred, decision""".stripMargin),
      headline = true),
  )
}

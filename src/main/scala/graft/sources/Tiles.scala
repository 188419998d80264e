package graft.sources

import graft.Tables
import graft.Ops.{Entry, Q, dsum, scratchDir}

import org.apache.spark.sql.functions._

/** Graded entries for the `graft-tiles` DataSource V2 connector
  * ([[graft.sources.tiles.GraftTilesSource]]). Each entry writes real data
  * through the connector's commit protocol and reads it back through the
  * full planner path (pushdown → zone-map prune → row-exact re-check), so
  * the DuckDB oracle over the ORIGIN parquet table grades the whole
  * write+read roundtrip, not a mock.
  *
  * Plan-shape pins (tiles skipped, zero tiles opened for the metadata
  * aggregate, runtime DPP prune) live in `TilesSpec` — correctness here
  * never depends on pruning firing, only on results matching.
  */
object Tiles {

  private val Fmt = "graft-tiles"

  // scratchDir("tile_warehouse") is also the default warehouse of
  // `tiles_cat`, the catalog every graft session registers
  // (`GraftSession.baseConf`), so a table written to
  // `<tile_warehouse>/db/t` by path is `tiles_cat.db.t` to SQL.

  /** S16 — commit-protocol roundtrip: orders through the DSv2 write path
    * (task tiles + driver manifest publish), read back and aggregated. */
  private val roundtripQ: Q = (s, dir) => {
    val out = scratchDir("tiles_orders")
    Tables(s, dir).orders.write.format(Fmt).mode("overwrite").save(out)
    s.read.format(Fmt).load(out)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** S17 — planning-time file skipping: tiles range-clustered on
    * o_orderdate so the date predicate's zone-map prune drops the leading
    * tiles before any task runs; the pushed filters are also re-applied
    * row-exactly in the reader (absorbing them with an empty residual).
    * The testdata date span is 1995..2001, so the 1997+ slice drops the
    * first ~2/8 tiles at every sf (the prune is suite-pinned on a
    * tighter slice; the entry grades correctness). */
  private val filterPruneQ: Q = (s, dir) => {
    val out = scratchDir("tiles_orders_bydate")
    // the TABLE requests its own clustered layout (cluster_by →
    // RequiresDistributionAndOrdering); no caller-side repartitionByRange
    Tables(s, dir).orders
      .write.format(Fmt).mode("overwrite")
      .option("cluster_by", "o_orderdate").option("write_partitions", "8")
      .save(out)
    val back = s.read.format(Fmt).load(out)
    // cast the literal to the column's own timestamp flavor (parquet
    // TIMESTAMP(isAdjustedToUTC=false) loads as TIMESTAMP_NTZ) so the
    // comparison stays a plain pushable predicate, not a column cast
    val tsType = back.schema("o_orderdate").dataType
    back
      .filter(col("o_orderdate") >= lit("1997-01-01").cast(tsType) &&
        col("o_orderstatus") === "O")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"))
  }

  /** S18 — metadata-only aggregate: COUNT/MIN/MAX answered from the
    * manifest zone maps through `SupportsPushDownAggregates` complete
    * pushdown — zero tiles opened (suite-pinned). The 100-TB shape of
    * `SELECT count(*), max(ts) FROM huge_table`. */
  private val aggPushdownQ: Q = (s, dir) => {
    val out = scratchDir("tiles_orders_agg")
    Tables(s, dir).orders.write.format(Fmt).mode("overwrite").save(out)
    s.read.format(Fmt).load(out)
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("n_cust"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** S19 — runtime (DPP-shaped) tile pruning: the fact side is
    * custkey-range-clustered tiles; the selective customer dim hands the
    * scan its join keys at execution start via `SupportsRuntimeFiltering`,
    * dropping tiles whose custkey range can't match. Oracle grades the
    * plain join, so the prune must be lossless. */
  private val runtimePruneQ: Q = (s, dir) => {
    val out = scratchDir("tiles_orders_bycust")
    Tables(s, dir).orders
      .repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.format(Fmt).mode("overwrite").save(out)
    val fact = s.read.format(Fmt).load(out)
    // the dim filter is on a NON-key column so nothing transits the join
    // statically (a key filter would be propagated by
    // InferFiltersFromConstraints and prune at planning time instead —
    // verified: that shape needs no runtime machinery at all); the keys
    // Customer#000000001..099 exist at every sf
    val dim = Tables(s, dir).customer.filter(col("c_name") < "Customer#000000100")
    fact.join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")
  }

  /** S20 — exactly-once STREAMING sink: the events feed drains through the
    * connector's `StreamingWrite` (epoch-committed tiles, `last_epoch`
    * watermark in the manifest) with `Trigger.AvailableNow`, then the
    * query is started AGAIN on the same checkpoint — the restart must not
    * double-append (the sink-side idempotence contract; a leak would shift
    * every count below and fail the hash). Read back through the same
    * connector and aggregate against the batch events oracle. */
  private val streamSinkQ: Q = (s, dir) => {
    val out = scratchDir("tiles_stream_sink")
    val ckpt = scratchDir("tiles_stream_ckpt")
    // the entry owns its lifecycle: wipe sink + checkpoint so every
    // invocation grades a fresh stream -> sink -> restart -> read cycle
    wipe(out); wipe(ckpt)
    val ev = graft.streaming.EventStream.eventsStream(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    def once(): Unit = {
      val q = ev.writeStream.format(Fmt)
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    once(); once() // restart on one checkpoint: sink must stay single-count
    s.read.format(Fmt).load(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  /** S21 — the DDL face: CREATE TABLE / INSERT INTO ... SELECT / SELECT
    * through the `TableCatalog` ([[graft.sources.tiles.GraftTileCatalog]]),
    * pure SQL end to end; the read rides the same pushdown/prune scan and
    * the INSERT rides the same commit protocol, so the oracle over the
    * origin table grades the whole lifecycle. */
  private val sqlDdlQ: Q = (s, dir) => {
    Tables(s, dir).orders.createOrReplaceTempView("orders_ddl_src")
    s.sql("DROP TABLE IF EXISTS tiles_cat.db.orders_t")
    s.sql("""CREATE TABLE tiles_cat.db.orders_t
            |  (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
    s.sql("""INSERT INTO tiles_cat.db.orders_t
            |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_ddl_src""".stripMargin)
    s.sql("""SELECT o_orderstatus, count(*) AS n,
            |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
            |       min(o_orderkey) AS min_key
            |FROM tiles_cat.db.orders_t
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** S22 — metadata-only DELETE (the retention pattern): the table is
    * ingested the way a time-partitioned pipeline ingests — one append per
    * period slice — so every tile's o_year zone map sits wholly on one
    * side of the retention horizon BY CONSTRUCTION (range-clustering a
    * tiny key domain can land both sides in one sampled task, measured;
    * per-slice appends cannot). `DELETE WHERE o_year < 1998` is then a
    * pure manifest edit: provably-all-match tiles drop, provably-no-match
    * tiles stay, nothing is read or rewritten (zero tiles opened,
    * suite-pinned). The oracle re-derives the survivors from the origin
    * table, so a tile dropped or kept wrongly fails the hash. */
  private val deleteWhereQ: Q = (s, dir) => {
    val wh = scratchDir("tile_warehouse")
    val base = Tables(s, dir).orders.withColumn("o_year", year(col("o_orderdate")))
    val tdir = s"$wh/db/orders_del"
    base.filter(col("o_year") < 1998)
      .write.format(Fmt).mode("overwrite").save(tdir)
    base.filter(col("o_year") >= 1998)
      .write.format(Fmt).mode("append").save(tdir)
    s.sql("DELETE FROM tiles_cat.db.orders_del WHERE o_year < 1998")
    s.sql("""SELECT o_year, count(*) AS n,
            |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM tiles_cat.db.orders_del
            |GROUP BY o_year ORDER BY o_year""".stripMargin)
  }

  /** S23 — row-level DELETE via deletion vectors (merge-on-read): the
    * table is key-clustered, so BOTH price predicates split every tile —
    * the connector rewrites them to per-tile DVs (no tile dropped or
    * rewritten; readers mask ordinals). Two DELETEs exercise the DV merge;
    * the read-back aggregate grades the masked table against the origin
    * rows the deletes should have left. */
  private val deleteRowsQ: Q = (s, dir) => {
    val wh = scratchDir("tile_warehouse")
    Tables(s, dir).orders.write.format(Fmt).mode("overwrite")
      .option("cluster_by", "o_orderkey").option("write_partitions", "8")
      .save(s"$wh/db/orders_dv")
    s.sql("DELETE FROM tiles_cat.db.orders_dv WHERE o_totalprice < 50000.0")
    s.sql("DELETE FROM tiles_cat.db.orders_dv WHERE o_totalprice > 200000.0")
    s.sql("""SELECT o_orderpriority, count(*) AS n,
            |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
            |       min(o_orderkey) AS min_key
            |FROM tiles_cat.db.orders_dv
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** S24 — STRING zone-map pruning (r12): the most common warehouse filter
    * shape is an equality on a low-cardinality string column; clustering
    * by that column makes each tile's [min,max] string bounds tight, so
    * the equality prunes most tiles at planning time (suite-pinned; this
    * entry grades the row-exact result). */
  private val stringPruneQ: Q = (s, dir) => {
    val out = scratchDir("tiles_orders_byprio")
    Tables(s, dir).orders.write.format(Fmt).mode("overwrite")
      .option("cluster_by", "o_orderpriority,o_orderkey")
      .option("write_partitions", "8").save(out)
    s.read.format(Fmt).load(out)
      .filter(col("o_orderpriority") === "1-URGENT")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
  }

  private def wipe(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  /** S25 — compaction (the OPTIMIZE rung): ingest lands 16 small tiles, a
    * splitting DELETE leaves deletion vectors on them, then
    * [[graft.sources.tiles.GraftTileMaintenance.compact]] rewrites the
    * small+DV'd tiles into few large ones with tight zone maps and NO
    * DVs (merge-on-read debt paid down copy-on-write), publishes
    * manifest-first, and vacuum reclaims the originals. The report
    * invariants are contract-checked in-entry; the oracle grades that the
    * rewritten table still answers exactly. */
  private val compactQ: Q = (s, dir) => {
    val wh = scratchDir("tile_warehouse")
    val tdir = s"$wh/db/orders_cmp"
    wipe(tdir)
    Tables(s, dir).orders.repartition(16)
      .write.format(Fmt).mode("overwrite").save(tdir)
    s.sql("DELETE FROM tiles_cat.db.orders_cmp WHERE o_totalprice < 10000.0")
    val before = graft.sources.tiles.TileFormat.readManifest(tdir).get
    val r = graft.sources.tiles.GraftTileMaintenance.compact(tdir)
    require(r.tilesOut < r.tilesIn && r.dvsPurged > 0,
      s"compaction made no progress: $r over ${before.tiles.size} tiles")
    graft.sources.tiles.TileFormat.vacuumOrphans(tdir)
    s.sql("""SELECT o_orderstatus, count(*) AS n,
            |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
            |       min(o_orderkey) AS min_key
            |FROM tiles_cat.db.orders_cmp
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** S26 — streaming SOURCE over the tile log (the change-feed face):
    * batch-written tiles drain through `readStream` with AvailableNow,
    * then MORE tiles are appended and the SAME checkpoint drains again —
    * the second run must read ONLY the new tiles ((generation, tileCount)
    * offsets; a double-read would double every count below and fail the
    * hash). The sink is plain parquet, so the oracle grades the whole
    * log → stream → files loop against the origin table. */
  private val streamSourceQ: Q = (s, dir) => {
    val src = scratchDir("tiles_stream_src")
    val outP = scratchDir("tiles_stream_src_out")
    val ckpt = scratchDir("tiles_stream_src_ckpt")
    wipe(src); wipe(outP); wipe(ckpt)
    val base = Tables(s, dir).orders.withColumn("o_year", year(col("o_orderdate")))
    def drain(): Unit = {
      val q = s.readStream.format(Fmt).load(src)
        .writeStream.format("parquet")
        .option("path", outP).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    base.filter(col("o_year") < 1998).write.format(Fmt).mode("overwrite").save(src)
    drain()
    base.filter(col("o_year") >= 1998).write.format(Fmt).mode("append").save(src)
    drain() // restart on one checkpoint: must pick up ONLY the appended tiles
    s.read.parquet(outP)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_year")
  }

  /** S27 — REPLACE WHERE (the idempotent backfill swap): the table is
    * ingested per-year (so the slice is tile-aligned and the swap is a
    * pure manifest edit) with the 1998+ slice deliberately CORRUPTED
    * (prices negated); `writeTo(...).overwrite(o_year >= 1998)` then
    * atomically swaps in the recomputed correct slice — delete-by-
    * predicate and insert in ONE manifest publish, so no reader ever
    * sees the slice missing. The oracle over the origin table passes
    * only if the corrupted rows are ALL gone and the replacement is
    * complete: the exactness grade of the swap. */
  private val replaceWhereQ: Q = (s, dir) => {
    val wh = scratchDir("tile_warehouse")
    val tdir = s"$wh/db/orders_rw"
    wipe(tdir)
    val base = Tables(s, dir).orders.withColumn("o_year", year(col("o_orderdate")))
    base.filter(col("o_year") < 1998)
      .write.format(Fmt).mode("overwrite").save(tdir)
    base.filter(col("o_year") >= 1998)
      .withColumn("o_totalprice", -col("o_totalprice")) // the "bad" backfill
      .write.format(Fmt).mode("append").save(tdir)
    base.filter(col("o_year") >= 1998)
      .writeTo("tiles_cat.db.orders_rw")
      .overwrite(col("o_year") >= 1998) // the corrected slice, swapped atomically
    s.sql("""SELECT o_year, count(*) AS n,
            |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
            |       min(o_orderkey) AS min_key
            |FROM tiles_cat.db.orders_rw
            |GROUP BY o_year ORDER BY o_year""".stripMargin)
  }

  /** S28 — schema evolution (ADD COLUMN, the Iceberg add-column
    * contract): the table is ingested under the ORIGINAL schema, gains a
    * nullable column via SQL ALTER (metadata-only: no tile rewritten),
    * and later slices append WITH the column. Old tiles read it as null;
    * the grouped aggregate mixes pre- and post-evolution tiles, so the
    * oracle passes only if the null semantics and the evolved values are
    * both exact across the boundary. */
  private val addColumnQ: Q = (s, dir) => {
    val wh = scratchDir("tile_warehouse")
    val tdir = s"$wh/db/orders_evo"
    wipe(tdir)
    val base = Tables(s, dir).orders
    base.filter(year(col("o_orderdate")) < 1998)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.format(Fmt).mode("overwrite").save(tdir)
    s.sql("ALTER TABLE tiles_cat.db.orders_evo ADD COLUMN o_year INT")
    base.filter(year(col("o_orderdate")) >= 1998)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      .write.format(Fmt).mode("append").save(tdir)
    s.sql("""SELECT o_orderpriority, count(*) AS n,
            |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
            |       count(o_year) AS n_year,
            |       CAST(sum(o_year) AS BIGINT) AS sum_year
            |FROM tiles_cat.db.orders_evo
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** S29 — MERGE INTO (keyed upsert, merge-on-read): the table is
    * ingested key-clustered across 4 tiles; the merge source UPDATES every
    * 97th key (price bumped) and INSERTS fresh keys above the existing
    * range — updates span multiple tiles, so the merge DVs several tiles
    * and appends new ones in ONE manifest swap. The oracle recomputes the
    * upsert relationally over the origin table: it passes only if every
    * updated row shows the new value exactly once, every inserted row
    * appears, and every untouched row survives — across tile boundaries. */
  private val mergeUpsertQ: Q = (s, dir) => {
    val out = scratchDir("tiles_orders_merge")
    wipe(out)
    val base = Tables(s, dir).orders.select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
      col("o_totalprice").as("v"))
    base.write.format(Fmt).mode("overwrite")
      .option("cluster_by", "k").option("write_partitions", "4").save(out)
    val src = base.filter(col("k") % 97 === 0)
      .withColumn("v", col("v") + 1000.0d)
      .unionAll(base.filter(col("k") % 101 === 0)
        .select((col("k") + 100000000L).as("k"), lit("N").as("status"), col("v")))
    graft.sources.tiles.GraftTileMaintenance.mergeUpsert(s, out, src, Seq("k"))
    s.read.format(Fmt).load(out)
      .groupBy("status")
      .agg(count(lit(1)).as("n"), dsum(col("v")).as("total"),
        min("k").as("min_key"), max("k").as("max_key"))
      .orderBy("status")
  }

  /** S30 — storage-partitioned join (Iceberg SPJ): both sides are written
    * `partition_by=bucket` (identity transform, one bucket per tile), so
    * the scans report `KeyGroupedPartitioning` and Spark co-schedules
    * matching buckets — the join plans ZERO shuffle Exchanges (suite-
    * pinned; this entry grades the grouped-partition read path's
    * correctness through the DuckDB oracle). The 100-TB shape: two
    * co-partitioned fact tables join with no data movement at all. */
  private val spjQ: Q = (s, dir) => {
    val outO = scratchDir("tiles_spj_orders")
    val outC = scratchDir("tiles_spj_customer")
    wipe(outO); wipe(outC)
    Tables(s, dir).orders
      .groupBy((col("o_custkey") % 32).as("bucket"))
      .agg(count(lit(1)).as("n_o"), dsum(col("o_totalprice")).as("total"))
      .write.format(Fmt).mode("overwrite").option("partition_by", "bucket").save(outO)
    Tables(s, dir).customer
      .groupBy((col("c_custkey") % 32).as("bucket"))
      .agg(count(lit(1)).as("n_c"), dsum(col("c_acctbal")).as("acct"))
      .write.format(Fmt).mode("overwrite").option("partition_by", "bucket").save(outC)
    // the entry grades the grouped-partition read path's correctness; the
    // zero-Exchange SPJ plan itself is pinned in TilesSpec, where the
    // v2-bucketing conf can be scoped around the whole (lazy) execution
    s.read.format(Fmt).load(outO)
      .join(s.read.format(Fmt).load(outC), "bucket")
      .select(col("bucket"), col("n_o"), col("total"), col("n_c"), col("acct"))
      .orderBy("bucket")
  }

  /** S31 — metadata GROUP BY: on an identity-partitioned table every tile
    * holds one partition value, so `GROUP BY <col>` + COUNT/MIN/MAX is
    * answered entirely from the manifest zone maps — complete aggregate
    * pushdown with ZERO tiles opened (suite-pinned). The 100-TB shape of
    * `SELECT day, count(*) FROM events GROUP BY day` on a partitioned
    * lakehouse table: a driver-side manifest fold, no cluster scan. The
    * table is created through SQL `PARTITIONED BY` (identity) and filled
    * with a plain INSERT — the write adopts the table's partitioning. */
  private val groupMetaQ: Q = (s, dir) => {
    val wh = scratchDir("tile_warehouse")
    wipe(s"$wh/db/orders_pby")
    s.sql("""CREATE TABLE tiles_cat.db.orders_pby
            |  (o_orderpriority STRING, o_orderkey BIGINT, o_totalprice DOUBLE)
            |  PARTITIONED BY (o_orderpriority)""".stripMargin)
    Tables(s, dir).orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .writeTo("tiles_cat.db.orders_pby").append()
    s.sql("""SELECT o_orderpriority, count(*) AS n,
            |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            |FROM tiles_cat.db.orders_pby
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** S32 — time travel: every manifest publish keeps its version in
    * history and no commit path unlinks previous generations' tiles, so
    * `version_at=<commit_seq>` (or SQL `VERSION AS OF`) plans against the
    * old manifest with the full pushdown machinery. The entry reads the
    * SAME table at two versions — pre-DELETE (seq 1) and current (post-
    * DELETE) — and the oracle recomputes both snapshots from the origin
    * table: it passes only if the pinned read sees exactly the deleted
    * rows back and the current read sees exactly the survivors. */
  private val timeTravelQ: Q = (s, dir) => {
    val out = scratchDir("tiles_orders_tt")
    wipe(out)
    val base = Tables(s, dir).orders
    base.filter(year(col("o_orderdate")) < 1998)
      .write.format(Fmt).mode("overwrite").save(out) // commit_seq 0
    base.filter(year(col("o_orderdate")) >= 1998)
      .write.format(Fmt).mode("append").save(out) // commit_seq 1: full table
    val table = new graft.sources.tiles.GraftTileTable(out,
      graft.sources.tiles.TileFormat.readManifest(out).get.schema)
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan(
        "o_totalprice", java.lang.Double.valueOf(50000.0)))) // commit_seq 2
    def snap(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key")).withColumn("snap", lit(tag))
        .select("snap", "n", "total", "min_key")
    snap(s.read.format(Fmt).option("version_at", "1").load(out), "v1")
      .unionAll(snap(s.read.format(Fmt).load(out), "current"))
      .orderBy("snap")
  }

  /** S33 — bloom-sidecar point lookup: the table is key-clustered (so
    * o_custkey is SCATTERED across tiles and zone maps cannot prune a
    * custkey probe) with `bloom_columns=o_custkey`; the IN probe then
    * prunes through the per-tile blooms (suite-pinned on a synthetic
    * needle fixture; this entry grades the bloom path's EXACTNESS — a
    * false drop would lose rows and fail the oracle). The 100-TB shape:
    * `WHERE user_id = ?` on a time-partitioned events table — the lookup
    * that reads 3 files instead of 30,000. */
  private val bloomPointQ: Q = (s, dir) => {
    val out = scratchDir("tiles_orders_bloom")
    wipe(out)
    Tables(s, dir).orders
      .write.format(Fmt).mode("overwrite")
      .option("cluster_by", "o_orderkey").option("write_partitions", "8")
      .option("bloom_columns", "o_custkey").save(out)
    s.read.format(Fmt).load(out)
      .filter(col("o_custkey").isin(7L, 11L, 13L, 964L))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"))
      .orderBy("o_custkey")
  }

  /** S34 — RENAME/DROP COLUMN through field-id mapping (r14): the table is
    * ingested under its ORIGINAL schema, then evolves by pure manifest
    * edits — a column rename (old tiles resolve by field id, zone maps
    * re-keyed), a column drop, and a re-ADD of the dropped NAME (fresh id:
    * the old chunk must read as null, never resurface) — before the second
    * slice appends WITH the evolved schema. The aggregate mixes pre- and
    * post-evolution tiles on every column, so the oracle passes only if
    * the rename resolves old data exactly, the dropped column's data is
    * gone, and the null/value split across the evolution boundary is
    * exact. No tile is rewritten at any step (suite-pinned). */
  private val renameDropQ: Q = (s, dir) => {
    val wh = scratchDir("tile_warehouse")
    val tdir = s"$wh/db/orders_fid"
    wipe(tdir)
    val base = Tables(s, dir).orders
    base.filter(year(col("o_orderdate")) < 1998)
      .select(col("o_orderkey"), col("o_custkey").as("legacy_cust"),
        col("o_totalprice"), (col("o_totalprice") * 2.0d).as("junk"))
      .write.format(Fmt).mode("overwrite").save(tdir)
    s.sql("ALTER TABLE tiles_cat.db.orders_fid RENAME COLUMN legacy_cust TO o_custkey")
    s.sql("ALTER TABLE tiles_cat.db.orders_fid DROP COLUMN junk")
    s.sql("ALTER TABLE tiles_cat.db.orders_fid ADD COLUMN junk DOUBLE")
    base.filter(year(col("o_orderdate")) >= 1998)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (col("o_totalprice") + 1.0d).as("junk"))
      .write.format(Fmt).mode("append").save(tdir)
    s.sql("""SELECT count(*) AS n,
            |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
            |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
            |       count(junk) AS n_junk,
            |       CAST(sum(CAST(junk AS DECIMAL(18,2))) AS DOUBLE) AS sum_junk,
            |       min(o_orderkey) AS min_key
            |FROM tiles_cat.db.orders_fid""".stripMargin)
  }

  /** S35 — OPTIMIZE … ZORDER BY (r14): lineitem lands UNCLUSTERED in many
    * small tiles (hash partitions — every tile spans ~the full key space,
    * so a box predicate prunes nothing), then
    * [[graft.sources.tiles.GraftTileMaintenance.optimizeZOrder]] re-lays
    * the table along the Morton curve of (l_partkey, l_suppkey) in one
    * atomic manifest swap. After the rewrite each tile covers a tight
    * bounding box on BOTH columns, so the same zone maps prune the box
    * query (prune-ratio suite-pinned in TilesSpec); the oracle grades the
    * answer stays exact through the rewrite. */
  private val zorderTilesQ: Q = (s, dir) => {
    val out = scratchDir("tiles_li_zorder")
    Tables(s, dir).lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"))
      .repartition(8)
      .write.format(Fmt).mode("overwrite")
      .option("target_tile_rows", "2000").save(out)
    val rep = graft.sources.tiles.GraftTileMaintenance.optimizeZOrder(
      s, out, "l_partkey", "l_suppkey", bits = 16, targetRows = 2000L)
    require(rep.rows > 0 && rep.tilesOut > 0, s"z-order rewrote nothing: $rep")
    s.read.format(Fmt).load(out)
      .filter(col("l_partkey").between(100L, 300L) &&
        col("l_suppkey").between(10L, 30L))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"),
        dsum(col("l_quantity")).as("qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
  }

  /** S36 — ALTER COLUMN TYPE widening (r14): the first slice is ingested
    * with `o_custkey` narrowed to INT, then the column is widened to
    * BIGINT and RENAMED — both pure manifest edits stacked on the same
    * field id — before the second slice appends as BIGINT. The aggregate
    * mixes int-chunk and long-chunk tiles under one BIGINT column, so the
    * oracle passes only if the recorded physical tags decode old chunks
    * exactly and the upcast is value-faithful. No tile rewritten. */
  private val widenQ: Q = (s, dir) => {
    val wh = scratchDir("tile_warehouse")
    val tdir = s"$wh/db/orders_widen"
    wipe(tdir)
    val base = Tables(s, dir).orders
    base.filter(year(col("o_orderdate")) < 1998)
      .select(col("o_orderkey"),
        col("o_custkey").cast("int").as("cust_small"), col("o_totalprice"))
      .write.format(Fmt).mode("overwrite").save(tdir)
    s.sql("ALTER TABLE tiles_cat.db.orders_widen ALTER COLUMN cust_small TYPE BIGINT")
    s.sql("ALTER TABLE tiles_cat.db.orders_widen RENAME COLUMN cust_small TO o_custkey")
    base.filter(year(col("o_orderdate")) >= 1998)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.format(Fmt).mode("append").save(tdir)
    s.sql("""SELECT count(*) AS n,
            |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
            |       max(o_custkey) AS max_cust,
            |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
            |       min(o_orderkey) AS min_key
            |FROM tiles_cat.db.orders_widen""".stripMargin)
  }

  val entries: Seq[Entry] = Seq(
    Entry("s36_tiles_widen", widenQ, Some(
      """SELECT count(*) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       max(o_custkey) AS max_cust,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key
        |FROM orders""".stripMargin), headline = true),
    Entry("s35_tiles_zorder", zorderTilesQ, Some(
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 30""".stripMargin),
      headline = true),
    Entry("s34_tiles_rename_drop", renameDropQ, Some(
      """SELECT count(*) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       count(CASE WHEN year(o_orderdate) >= 1998 THEN 1 END) AS n_junk,
        |       CAST(sum(CASE WHEN year(o_orderdate) >= 1998
        |                     THEN CAST(o_totalprice + 1.0 AS DECIMAL(18,2)) END)
        |            AS DOUBLE) AS sum_junk,
        |       min(o_orderkey) AS min_key
        |FROM orders""".stripMargin), headline = true),
    Entry("s33_tiles_bloom_point", bloomPointQ, Some(
      """SELECT o_custkey, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key
        |FROM orders WHERE o_custkey IN (7, 11, 13, 964)
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin), headline = true),
    Entry("s32_tiles_time_travel", timeTravelQ, Some(
      """SELECT 'current' AS snap, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key
        |FROM orders WHERE o_totalprice >= 50000.0
        |UNION ALL
        |SELECT 'v1' AS snap, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key
        |FROM orders
        |ORDER BY snap""".stripMargin), headline = true),
    Entry("s31_tiles_group_meta", groupMetaQ, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin), headline = true),
    Entry("s30_tiles_spj", spjQ, Some(
      """WITH o AS (
        |  SELECT o_custkey % 32 AS bucket, count(*) AS n_o,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT c_custkey % 32 AS bucket, count(*) AS n_c,
        |         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct
        |  FROM customer GROUP BY 1)
        |SELECT o.bucket AS bucket, n_o, total, n_c, acct
        |FROM o JOIN c ON o.bucket = c.bucket ORDER BY bucket""".stripMargin), headline = true),
    Entry("s29_tiles_merge_upsert", mergeUpsertQ, Some(
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS v
        |  FROM orders),
        |src AS (
        |  SELECT k, status, v + 1000.0 AS v FROM base WHERE k % 97 = 0
        |  UNION ALL
        |  SELECT k + 100000000 AS k, 'N' AS status, v FROM base WHERE k % 101 = 0),
        |merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM src))
        |SELECT status, count(*) AS n,
        |       CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(k) AS min_key, max(k) AS max_key
        |FROM merged GROUP BY status ORDER BY status""".stripMargin), headline = true),
    Entry("s16_tiles_roundtrip", roundtripQ, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin), headline = true),
    Entry("s17_tiles_filter_prune", filterPruneQ, Some(
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderstatus = 'O'""".stripMargin),
      headline = true),
    Entry("s18_tiles_agg_pushdown", aggPushdownQ, Some(
      """SELECT count(*) AS n_rows, count(o_custkey) AS n_cust,
        |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders""".stripMargin), headline = true),
    Entry("s19_tiles_runtime_prune", runtimePruneQ, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_name < 'Customer#000000100'
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin), headline = true),
    Entry("s20_tiles_stream_sink", streamSinkQ, Some(
      """SELECT event_type, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin), headline = true),
    Entry("s21_tiles_sql_ddl", sqlDdlQ, Some(
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin), headline = true),
    Entry("s22_tiles_delete_where", deleteWhereQ, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) >= 1998
        |GROUP BY 1 ORDER BY o_year""".stripMargin), headline = true),
    Entry("s23_tiles_delete_rows", deleteRowsQ, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key
        |FROM orders
        |WHERE o_totalprice >= 50000.0 AND o_totalprice <= 200000.0
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin), headline = true),
    Entry("s24_tiles_string_prune", stringPruneQ, Some(
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin), headline = true),
    Entry("s25_tiles_compact", compactQ, Some(
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key
        |FROM orders WHERE o_totalprice >= 10000.0
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin), headline = true),
    Entry("s26_tiles_stream_source", streamSourceQ, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin), headline = true),
    Entry("s27_tiles_replace_where", replaceWhereQ, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS min_key
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin), headline = true),
    Entry("s28_tiles_add_column", addColumnQ, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       count(CASE WHEN year(o_orderdate) >= 1998 THEN 1 END) AS n_year,
        |       CAST(sum(CASE WHEN year(o_orderdate) >= 1998
        |                     THEN year(o_orderdate) END) AS BIGINT) AS sum_year
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin), headline = true),
  )
}

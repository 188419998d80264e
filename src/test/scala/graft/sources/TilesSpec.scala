package graft.sources

import graft.{SparkSpec, Tables}
import graft.sources.tiles.{GraftTileScan, GraftTilesSource, TileFormat}

import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In, IsNull, LessThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

class TilesSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = new java.io.File(s"target/tmp/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getAbsolutePath
  }

  private val Fmt = "graft-tiles"

  /** Build the connector's ScanBuilder directly (unit-level planner access). */
  private def scanBuilderFor(dir: String) = {
    val provider = new GraftTilesSource
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val schema = provider.inferSchema(opts)
    val table = provider.getTable(schema, Array.empty[Transform],
      java.util.Map.of("path", dir))
    (schema, table.asInstanceOf[SupportsRead].newScanBuilder(opts)
      .asInstanceOf[graft.sources.tiles.GraftTileScanBuilder])
  }

  test("roundtrip is value-faithful for every supported type") {
    val dir = tmp("tiles_spec_rt")
    val src = Tables(spark, sf001).orders // long, string, double, timestamp
      .withColumn("k_int", col("o_orderkey").cast(IntegerType))
      .withColumn("k_date", to_date(col("o_orderdate")))
      .withColumn("k_bool", col("o_orderkey") % 2 === 0)
    src.write.format(Fmt).mode("overwrite").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "read-back rows differ from the written frame")
  }

  test("append accumulates tiles; overwrite publishes manifest-first (snapshot isolation)") {
    val dir = tmp("tiles_spec_modes")
    val r = Tables(spark, sf001).region
    r.write.format(Fmt).mode("overwrite").save(dir)
    r.write.format(Fmt).mode("append").save(dir)
    assert(spark.read.format(Fmt).load(dir).count() === 2 * r.count())
    // hold the PRE-truncate manifest (a concurrent reader's snapshot) …
    val oldManifest = TileFormat.readManifest(dir).get
    r.write.format(Fmt).mode("overwrite").save(dir)
    assert(spark.read.format(Fmt).load(dir).count() === r.count())
    // … its tiles must still be readable AFTER the overwrite commits: the
    // truncate publishes the new manifest and leaves the previous
    // generation's files as orphans (VERDICT r11 wrong-item 4)
    val tags = oldManifest.schema.fields.map(f => TileFormat.typeTag(f.dataType))
    oldManifest.tiles.foreach { t =>
      val cur = TileFormat.openCursor(new java.io.File(dir, t.file),
        oldManifest.schema.indices.toArray, tags)
      val dest = new Array[Any](tags.length)
      var n = 0L
      while (cur.next(dest)) n += 1
      cur.close()
      assert(n === t.rows, s"pre-truncate tile ${t.file} unreadable after overwrite")
    }
    // the explicit reclaim step removes exactly the orphans
    val removed = TileFormat.vacuumOrphans(dir)
    // (r13: vacuum also truncates the manifest HISTORY to the current
    // version — compare the tile subset)
    assert(removed.filter(_.endsWith(".gtile")).toSet ===
      oldManifest.tiles.map(_.file).toSet)
    val tilesOnDisk = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("tile-") && f.getName.endsWith(".gtile"))
    val manifestTiles = TileFormat.readManifest(dir).get.tiles.size
    assert(tilesOnDisk === manifestTiles, "orphan tiles after vacuum")
    assert(spark.read.format(Fmt).load(dir).count() === r.count(), "vacuum touched live tiles")
  }

  test("pushed filters prune tiles at planning time and stay row-exact") {
    val dir = tmp("tiles_spec_prune")
    val orders = Tables(spark, sf001).orders
    orders.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.format(Fmt).mode("overwrite").save(dir)

    // unit level: the planner keeps a strict subset of tiles
    val (_, sb) = scanBuilderFor(dir)
    val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
    val residual = sb.pushFilters(Array(LessThan("o_orderkey", java.lang.Long.valueOf(maxKey / 4))))
    assert(residual.isEmpty, "supported filter must be fully absorbed")
    val scan = sb.build().asInstanceOf[GraftTileScan]
    val planned = scan.planInputPartitions().length
    assert(planned < 8 && planned >= 1, s"expected a zone-map prune, planned $planned/8")

    // end to end: skipped tiles are never opened and the result is exact
    TileFormat.tilesOpened.set(0L)
    val got = spark.read.format(Fmt).load(dir)
      .filter(col("o_orderkey") < maxKey / 4).count()
    val want = orders.filter(col("o_orderkey") < maxKey / 4).count()
    assert(got === want)
    assert(TileFormat.tilesOpened.get() <= planned.toLong,
      s"opened ${TileFormat.tilesOpened.get()} tiles, planner kept $planned")
  }

  test("filter semantics match Spark over nulls, strings, IN, and dates") {
    val dir = tmp("tiles_spec_sem")
    import spark.implicits._
    val df = Seq[(java.lang.Integer, java.lang.Double, String)](
      (1, 1.5, "a"), (2, null, "b"), (null, 3.0, null), (4, Double.NaN, "d"),
      (5, -0.0, "e"), (6, 0.0, "a"))
      .toDF("i", "d", "s")
    df.write.format(Fmt).mode("overwrite").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    val cases: Seq[org.apache.spark.sql.Column] = Seq(
      col("i") > 2, col("i") <= 2, col("d").isNull, col("d").isNotNull,
      col("s") === "a", col("s") < "c", col("i").isin(1, 4, 9),
      col("d") > 1.0, col("d") === 0.0, col("d").isNaN === false)
    for (c <- cases) {
      val got = back.filter(c).select("i", "d", "s")
      val want = df.filter(c).select("i", "d", "s")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"filter mismatch for $c")
    }
  }

  test("count/min/max aggregates answer from the manifest with zero tiles opened") {
    val dir = tmp("tiles_spec_agg")
    val orders = Tables(spark, sf001).orders
    orders.write.format(Fmt).mode("overwrite").save(dir)
    TileFormat.tilesOpened.set(0L)
    val q = spark.read.format(Fmt).load(dir)
      .agg(count(lit(1)).as("n"), count(col("o_custkey")).as("nc"),
        min("o_totalprice").as("mn"), max("o_totalprice").as("mx"),
        max("o_orderdate").as("mxd"))
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("agg=["), s"expected the scan to carry the pushed aggregate:\n${p.take(1200)}")
    val row = q.head()
    val want = orders.agg(count(lit(1)), count(col("o_custkey")),
      min("o_totalprice"), max("o_totalprice"), max("o_orderdate")).head()
    assert(row === want)
    assert(TileFormat.tilesOpened.get() === 0L,
      s"metadata aggregate opened ${TileFormat.tilesOpened.get()} tiles")
  }

  test("aggregate pushdown declines under a filter and stays correct") {
    val dir = tmp("tiles_spec_aggf")
    val orders = Tables(spark, sf001).orders
    orders.write.format(Fmt).mode("overwrite").save(dir)
    val q = spark.read.format(Fmt).load(dir)
      .filter(col("o_orderstatus") === "O")
      .agg(count(lit(1)).as("n"), min("o_totalprice").as("mn"))
    val want = orders.filter(col("o_orderstatus") === "O")
      .agg(count(lit(1)), min("o_totalprice")).head()
    assert(q.head() === want)
  }

  test("runtime filtering prunes tiles through the scan's filter() contract") {
    val dir = tmp("tiles_spec_rtf")
    Tables(spark, sf001).orders
      .repartitionByRange(8, col("o_custkey")).sortWithinPartitions("o_custkey")
      .write.format(Fmt).mode("overwrite").save(dir)
    val (_, sb) = scanBuilderFor(dir)
    val scan = sb.build().asInstanceOf[GraftTileScan]
    val before = scan.planInputPartitions().length
    assert(scan.filterAttributes().map(_.describe()).contains("o_custkey"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("o_custkey",
      Array[Any](java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)))))
    val after = scan.planInputPartitions().length
    assert(after < before && after >= 1,
      s"runtime In-filter kept $after/$before tiles")
  }

  test("end-to-end: a non-key dim filter runtime-prunes fact tiles (DPP shape)") {
    val dir = tmp("tiles_spec_dpp")
    Tables(spark, sf001).orders
      .repartitionByRange(8, col("o_custkey")).sortWithinPartitions("o_custkey")
      .write.format(Fmt).mode("overwrite").save(dir)
    val fact = spark.read.format(Fmt).load(dir)
    // non-key filter: nothing transits the join statically, so any prune
    // below total proves SupportsRuntimeFiltering carried the join keys
    val dim = Tables(spark, sf001).customer
      .filter(col("c_name") < "Customer#000000020")
    val q = fact.join(dim, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("s"))
    TileFormat.tilesOpened.set(0L)
    val got = q.head()
    val want = Tables(spark, sf001).orders
      .join(dim, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)), sum("o_orderkey")).head()
    assert(got === want)
    assert(TileFormat.tilesOpened.get() < 8,
      s"runtime filter did not prune: opened ${TileFormat.tilesOpened.get()}/8 tiles")
  }

  test("all-null and null-bearing zone maps prune IsNull/comparisons correctly") {
    val dir = tmp("tiles_spec_nulls")
    import spark.implicits._
    // tile A: i all null; tile B: i fully present (coalesce(1) per write)
    Seq[(java.lang.Long, String)]((null, "x"), (null, "y")).toDF("i", "s")
      .coalesce(1).write.format(Fmt).mode("overwrite").save(dir)
    Seq[(java.lang.Long, String)]((5L, "z"), (6L, "w")).toDF("i", "s")
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    val (schema, _) = scanBuilderFor(dir)
    val tiles = TileFormat.readManifest(dir).get.tiles
    assert(tiles.size === 2)
    val allNull = tiles.find(t => t.stats("i").min.isEmpty).get
    val present = tiles.find(t => t.stats("i").min.isDefined).get
    // a comparison can never match the all-null tile
    assert(!TileFormat.tileMayMatch(schema, allNull,
      GreaterThanOrEqual("i", java.lang.Long.valueOf(0L))))
    assert(TileFormat.tileMayMatch(schema, present,
      GreaterThanOrEqual("i", java.lang.Long.valueOf(0L))))
    // IsNull keeps only the tile that has nulls
    assert(TileFormat.tileMayMatch(schema, allNull, IsNull("i")))
    assert(!TileFormat.tileMayMatch(schema, present, IsNull("i")))
    // equality outside the range prunes
    assert(!TileFormat.tileMayMatch(schema, present, EqualTo("i", java.lang.Long.valueOf(99L))))
    // and the graded results agree with Spark over the union
    val back = spark.read.format(Fmt).load(dir)
    assert(back.filter(col("i").isNull).count() === 2)
    assert(back.filter(col("i") >= 0).count() === 2)
  }

  test("LIMIT pushes a per-reader cap (partial) and stays exact with filters") {
    val dir = tmp("tiles_spec_limit")
    val orders = Tables(spark, sf001).orders
    orders.repartitionByRange(4, col("o_orderkey")).write.format(Fmt)
      .mode("overwrite").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.limit(7).count() === 7)
    val p = back.limit(7).queryExecution.executedPlan.toString()
    assert(p.contains("limit=7"), s"expected the scan to carry the pushed limit:\n${p.take(800)}")
    // with an absorbed filter: the cap counts POST-filter rows, so the
    // global limit still sees enough survivors
    val few = back.filter(col("o_orderstatus") === "F").limit(9)
    assert(few.count() === 9)
    assert(few.collect().forall(_.getAs[String]("o_orderstatus") == "F"))
  }

  test("streaming sink: epoch commits accumulate; an epoch replay is a no-op") {
    val dir = tmp("tiles_spec_stream")
    import spark.implicits._

    // end to end over MemoryStream: two micro-batches, each an epoch commit
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](
      spark)
    val q = mem.toDF().toDF("k", "v").writeStream.format(Fmt)
      .option("path", dir)
      .option("checkpointLocation", tmp("tiles_spec_stream_ckpt"))
      .outputMode("append").start()
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.format(Fmt).load(dir)
    assert(back.count() === 3)
    assert(back.orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val m = TileFormat.readManifest(dir).get
    assert(m.lastEpoch >= 1L, s"expected two committed epochs, lastEpoch=${m.lastEpoch}")
    assert(m.queryId.isDefined, "streaming commit must record its query identity")

    def oneRowMsg(taskId: Long) = {
      val w = new graft.sources.tiles.GraftTileWriter(dir, back.schema, 0, taskId)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        9L, org.apache.spark.unsafe.types.UTF8String.fromString("z")))
      w.commit()
    }

    // a SECOND query (new checkpoint ⇒ epochs restart at 0) is NEW WORK:
    // the watermark is keyed by query id (ADVICE r11), so epoch 0 from a
    // different query must append, not be swallowed as a replay
    val sw2 = new graft.sources.tiles.GraftTileWrite(dir, back.schema, "unit-q2")
    sw2.commit(0L, Array(oneRowMsg(99L)))
    assert(spark.read.format(Fmt).load(dir).count() === 4,
      "a second query's epoch-0 commit was discarded as a replay")
    assert(TileFormat.readManifest(dir).get.queryId === Some("unit-q2"))

    // replaying the SAME query's committed epoch must be a no-op
    sw2.commit(0L, Array(oneRowMsg(100L)))
    assert(spark.read.format(Fmt).load(dir).count() === 4,
      "epoch replay appended rows — exactly-once contract broken")
    // and the replay cleaned its tmp tile up
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".tmp-")),
      "replayed epoch left a tmp tile behind")
    // a genuinely new epoch of the same query commits
    sw2.commit(1L, Array(oneRowMsg(101L)))
    assert(spark.read.format(Fmt).load(dir).count() === 5)
    // and a batch APPEND preserves the watermark identity for the query
    Seq((7L, "b")).toDF("k", "v").write.format(Fmt).mode("append").save(dir)
    val m2 = TileFormat.readManifest(dir).get
    assert(m2.queryId === Some("unit-q2") && m2.lastEpoch === 1L,
      "batch append must not disturb the streaming watermark")
  }

  test("cluster_by makes the write request its own layout: disjoint tile ranges") {
    val dir = tmp("tiles_spec_cluster")
    // NO caller-side repartition: the Write's RequiresDistributionAndOrdering
    // must produce range-disjoint tasks by itself
    Tables(spark, sf001).orders.write.format(Fmt).mode("overwrite")
      .option("cluster_by", "o_orderkey").option("write_partitions", "4")
      .save(dir)
    val tiles = TileFormat.readManifest(dir).get.tiles
    assert(tiles.size === 4, s"expected 4 clustered tiles, got ${tiles.size}")
    val ranges = tiles.map(_.stats("o_orderkey"))
      .map(s => (s.min.get.toLong, s.max.get.toLong)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"tile key ranges overlap: $ranges")
      case _ => ()
    }
    // and the layout actually prunes: a narrow key slice opens few tiles
    TileFormat.tilesOpened.set(0L)
    spark.read.format(Fmt).load(dir)
      .filter(col("o_orderkey") <= ranges.head._2).count()
    assert(TileFormat.tilesOpened.get() === 1L,
      s"clustered layout should prune to 1 tile, opened ${TileFormat.tilesOpened.get()}")
  }

  test("metadata columns _tile_file/_tile_row are hidden until named, then exact") {
    val dir = tmp("tiles_spec_meta")
    val orders = Tables(spark, sf001).orders
    orders.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.format(Fmt).mode("overwrite").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    // hidden: a plain scan exposes only the data schema
    assert(!back.schema.fieldNames.contains("_tile_file"))
    val withMeta = back.select(col("o_orderkey"), col("_tile_file"), col("_tile_row"))
    // provenance: one file name per committed tile, ordinals unique per file
    assert(withMeta.select("_tile_file").distinct().count() === 4)
    val dupPos = withMeta.groupBy("_tile_file", "_tile_row")
      .count().filter(col("count") > 1).count()
    assert(dupPos === 0, "(_tile_file, _tile_row) must be a physical row id")
    assert(withMeta.count() === orders.count())
    // ordinal is PRE-filter (stable under predicates): filtering must not
    // renumber surviving rows
    val filtered = back.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("_tile_file"), col("_tile_row"))
    val joined = withMeta.withColumnRenamed("o_orderkey", "k")
      .join(filtered, Seq("_tile_file", "_tile_row"))
    assert(joined.filter(col("k") =!= col("o_orderkey")).count() === 0,
      "_tile_row shifted under a pushed filter")
    assert(joined.count() === filtered.count())
  }

  test("TableCatalog lifecycle: create/exists/insert/rename/drop/list + guards") {
    import org.apache.spark.sql.connector.catalog.Identifier
    val wh = tmp("tiles_spec_warehouse")
    spark.conf.set("spark.sql.catalog.tspec",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tspec.warehouse", wh)
    spark.sql("CREATE TABLE tspec.ns.t1 (k BIGINT, v STRING)")
    // a created-but-unwritten table is an EMPTY table, not an error —
    // and its count answers from the (empty) manifest
    assert(spark.sql("SELECT count(*) AS n FROM tspec.ns.t1").head().getLong(0) === 0L)
    spark.sql("INSERT INTO tspec.ns.t1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO tspec.ns.t1 VALUES (3, 'c')")
    assert(spark.sql("SELECT sum(k) FROM tspec.ns.t1").head().getLong(0) === 6L)
    // catalog surface
    val cat = spark.sessionState.catalogManager.catalog("tspec")
      .asInstanceOf[graft.sources.tiles.GraftTileCatalog]
    assert(cat.tableExists(Identifier.of(Array("ns"), "t1")))
    assert(cat.listTables(Array("ns")).map(_.name()).toSeq === Seq("t1"))
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      spark.sql("CREATE TABLE tspec.ns.t1 (x BIGINT)")
    }
    // rewrite-shaped retype (not the INT -> BIGINT widening): rejected
    val retypeErr = intercept[IllegalArgumentException] {
      cat.alterTable(Identifier.of(Array("ns"), "t1"),
        org.apache.spark.sql.connector.catalog.TableChange.updateColumnType(
          Array("v"), org.apache.spark.sql.types.DoubleType))
    }
    assert(retypeErr.getMessage.contains("rewrite territory"), retypeErr.getMessage)
    cat.renameTable(Identifier.of(Array("ns"), "t1"), Identifier.of(Array("ns"), "t2"))
    assert(spark.sql("SELECT count(*) FROM tspec.ns.t2").head().getLong(0) === 3L)
    assert(spark.sql("DROP TABLE tspec.ns.t2") != null)
    assert(!cat.tableExists(Identifier.of(Array("ns"), "t2")))
    assert(cat.listTables(Array("ns")).isEmpty)
  }

  test("metadata DELETE drops whole tiles; a tile-splitting predicate rewrites to DVs") {
    import org.apache.spark.sql.connector.catalog.Identifier
    val wh = tmp("tiles_spec_del_wh")
    spark.conf.set("spark.sql.catalog.tdel",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tdel.warehouse", wh)
    val orders = Tables(spark, sf001).orders
      .withColumn("o_year", year(col("o_orderdate")))
    orders.write.format(Fmt).mode("overwrite")
      .option("cluster_by", "o_year").option("write_partitions", "4")
      .save(s"$wh/db/t")
    val tilesBefore = TileFormat.readManifest(s"$wh/db/t").get.tiles
    val before = tilesBefore.size
    // pick a TILE-ALIGNED retention horizon from the manifest itself:
    // the min year of the second tile (range clustering never splits a
    // year, so this cutoff cleanly classifies every tile)
    val cutoff = tilesBefore.map(_.stats("o_year").min.get.toLong).sorted.apply(1)
    // hold the PRE-DELETE manifest — a concurrent reader's snapshot
    val preDelete = TileFormat.readManifest(s"$wh/db/t").get
    TileFormat.tilesOpened.set(0L)
    spark.sql(s"DELETE FROM tdel.db.t WHERE o_year < $cutoff")
    assert(TileFormat.tilesOpened.get() === 0L, "metadata DELETE read tiles")
    val after = TileFormat.readManifest(s"$wh/db/t").get.tiles
    assert(after.size < before && after.nonEmpty)
    // survivors match the row-level answer exactly
    assert(spark.sql("SELECT count(*) FROM tdel.db.t").head().getLong(0) ===
      orders.filter(col("o_year") >= cutoff).count())
    // snapshot isolation (r13, VERDICT r12 wrong-item 5): EVERY tile the
    // pre-DELETE manifest references is still readable after the DELETE
    // commits — dropped tiles become orphans, not dangling references
    val delTags = preDelete.schema.fields.map(f => TileFormat.typeTag(f.dataType))
    preDelete.tiles.foreach { t =>
      val cur = TileFormat.openCursor(new java.io.File(s"$wh/db/t", t.file),
        preDelete.schema.indices.toArray, delTags)
      val dest = new Array[Any](delTags.length)
      var nRead = 0L
      while (cur.next(dest)) nRead += 1
      cur.close()
      assert(nRead === t.rows, s"pre-DELETE tile ${t.file} unreadable after DELETE")
    }
    // the explicit reclaim removes exactly the dropped tiles
    val delOrphans = TileFormat.vacuumOrphans(s"$wh/db/t")
    assert(delOrphans.filter(_.endsWith(".gtile")).toSet ===
      preDelete.tiles.map(_.file).toSet -- after.map(_.file).toSet)
    val onDisk = new java.io.File(s"$wh/db/t").listFiles()
      .count(f => f.getName.startsWith("tile-") && f.getName.endsWith(".gtile"))
    assert(onDisk === after.size)
    // a predicate that splits tiles (key column the tiles are NOT aligned
    // to) rewrites to DELETION VECTORS: no tile dropped or rewritten, the
    // deleted ordinals masked at read (merge-on-read)
    spark.sql("DELETE FROM tdel.db.t WHERE o_orderkey < 10")
    val expectDv = orders.filter(col("o_year") >= cutoff && col("o_orderkey") >= 10).count()
    assert(spark.sql("SELECT count(*) FROM tdel.db.t").head().getLong(0) === expectDv)
    val withDv = TileFormat.readManifest(s"$wh/db/t").get.tiles
    assert(withDv.map(_.file).toSet === after.map(_.file).toSet,
      "row-level DELETE must not drop or rewrite tile files")
    assert(withDv.exists(_.dv.nonEmpty), "expected a deletion vector on a split tile")
    assert(withDv.map(_.dv.size).sum ===
      orders.filter(col("o_year") >= cutoff && col("o_orderkey") < 10).count())
    // DELETE without WHERE truncates through the same path
    spark.sql("DELETE FROM tdel.db.t WHERE true")
    assert(spark.sql("SELECT count(*) FROM tdel.db.t").head().getLong(0) === 0L)
    val cat = spark.sessionState.catalogManager.catalog("tdel")
      .asInstanceOf[graft.sources.tiles.GraftTileCatalog]
    assert(cat.tableExists(Identifier.of(Array("db"), "t")), "truncate dropped the table")
  }

  test("columnar payload: a narrow projection reads fewer bytes (IO-skip, not parse-skip)") {
    val dir = tmp("tiles_spec_col")
    Tables(spark, sf001).orders.write.format(Fmt).mode("overwrite").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    TileFormat.bytesRead.set(0L)
    val fullSum = back.agg(sum(length(col("o_orderpriority"))),
      sum("o_orderkey"), sum("o_totalprice"), count(col("o_orderstatus"))).head()
    val fullBytes = TileFormat.bytesRead.get()
    TileFormat.bytesRead.set(0L)
    assert(back.select("o_orderkey").agg(sum("o_orderkey")).head().getLong(0) ===
      Tables(spark, sf001).orders.agg(sum("o_orderkey")).head().getLong(0))
    val narrowBytes = TileFormat.bytesRead.get()
    assert(fullSum != null && fullBytes > 0 && narrowBytes > 0)
    // 1 of 6 columns projected: the reader must load ~1/6 of the bytes,
    // not parse past the other five (strings dominate, so be generous)
    assert(narrowBytes * 3 < fullBytes,
      s"narrow projection read $narrowBytes of $fullBytes bytes — not an IO skip")
  }

  test("string zone maps prune tiles; long bounds drop to exact-or-absent") {
    val dir = tmp("tiles_spec_str")
    Tables(spark, sf001).orders.write.format(Fmt).mode("overwrite")
      .option("cluster_by", "o_orderpriority,o_orderkey")
      .option("write_partitions", "8").save(dir)
    // unit: the equality literal lands inside some tiles' [min,max] only
    val (schema, sb) = scanBuilderFor(dir)
    val residual = sb.pushFilters(Array(EqualTo("o_orderpriority", "1-URGENT")))
    assert(residual.isEmpty, "string equality must be absorbed")
    val planned = sb.build().asInstanceOf[GraftTileScan].planInputPartitions().length
    assert(planned < 8 && planned >= 1,
      s"string zone map should prune priority-clustered tiles, planned $planned/8")
    // end to end: exact result, skipped tiles never opened
    TileFormat.tilesOpened.set(0L)
    val got = spark.read.format(Fmt).load(dir)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(got === Tables(spark, sf001).orders
      .filter(col("o_orderpriority") === "1-URGENT").count())
    assert(TileFormat.tilesOpened.get() <= planned.toLong)
    // range predicates prune through the same bounds
    val tiles = TileFormat.readManifest(dir).get.tiles
    assert(tiles.exists(t => !TileFormat.tileMayMatch(schema, t,
      org.apache.spark.sql.sources.GreaterThan("o_orderpriority", "4"))))
    // a bound past the stat cap drops BOTH bounds (exact-or-absent): the
    // MIN/MAX pushdown must then decline rather than answer from a lie
    import spark.implicits._
    val longDir = tmp("tiles_spec_longstr")
    Seq(("a" * 100, 1L), ("zz", 2L)).toDF("s", "k")
      .coalesce(1).write.format(Fmt).mode("overwrite").save(longDir)
    val lt = TileFormat.readManifest(longDir).get.tiles.head
    assert(lt.stats("s").min.isEmpty && lt.stats("s").max.isEmpty,
      "over-cap string bounds must be dropped, not truncated")
    TileFormat.tilesOpened.set(0L)
    val mm = spark.read.format(Fmt).load(longDir).agg(min("s"), max("s")).head()
    assert(mm.getString(0) === "a" * 100 && mm.getString(1) === "zz")
    assert(TileFormat.tilesOpened.get() > 0L,
      "min/max over capped string bounds must read the tile, not the manifest")
    // …while short string bounds DO answer min/max from the manifest
    TileFormat.tilesOpened.set(0L)
    val pr = spark.read.format(Fmt).load(dir)
      .agg(min("o_orderpriority"), max("o_orderpriority")).head()
    assert(pr.getString(0) === "1-URGENT" && pr.getString(1) === "5-LOW")
    assert(TileFormat.tilesOpened.get() === 0L,
      "short string min/max should be metadata-only")
  }

  test("deletion vectors: split deletes mask rows, keep _tile_row stable, poison min/max pushdown") {
    val dir = tmp("tiles_spec_dv")
    val orders = Tables(spark, sf001).orders
    orders.write.format(Fmt).mode("overwrite")
      .option("cluster_by", "o_orderkey").option("write_partitions", "4").save(dir)
    val table = new graft.sources.tiles.GraftTileTable(dir,
      TileFormat.readManifest(dir).get.schema)
    // pre-delete physical ids of the survivors
    val beforeIds = spark.read.format(Fmt).load(dir)
      .filter(col("o_totalprice") >= 50000)
      .select(col("o_orderkey").as("k"), col("_tile_file"), col("_tile_row"))
    val beforeMap = beforeIds.collect().map(r => (r.getString(1), r.getLong(2)) -> r.getLong(0)).toMap
    // the price predicate splits every key-clustered tile
    assert(table.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan(
        "o_totalprice", java.lang.Double.valueOf(50000.0)))))
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan(
        "o_totalprice", java.lang.Double.valueOf(50000.0))))
    val back = spark.read.format(Fmt).load(dir)
    assert(back.count() === orders.filter(col("o_totalprice") >= 50000).count())
    assert(back.agg(min("o_totalprice")).head().getDouble(0) >= 50000.0,
      "a deleted row leaked back through the reader")
    // min/max must NOT be answered from the manifest now: the stored
    // bounds hang on deleted rows (pushdown declines under any DV)
    val gotMin = back.agg(min("o_totalprice")).head().getDouble(0)
    val wantMin = orders.filter(col("o_totalprice") >= 50000)
      .agg(min("o_totalprice")).head().getDouble(0)
    assert(gotMin === wantMin)
    // count(*) stays metadata-only from live counts
    TileFormat.tilesOpened.set(0L)
    assert(back.agg(count(lit(1))).head().getLong(0) ===
      orders.filter(col("o_totalprice") >= 50000).count())
    assert(TileFormat.tilesOpened.get() === 0L, "COUNT(*) should use live counts")
    // _tile_row is a stable physical id: survivors keep their ordinals
    val afterIds = back.select(col("o_orderkey").as("k"), col("_tile_file"), col("_tile_row"))
    afterIds.collect().foreach { r =>
      assert(beforeMap((r.getString(1), r.getLong(2))) === r.getLong(0),
        "_tile_row renumbered by a DV delete")
    }
    // a SECOND delete merges into the existing vectors
    val dvBefore = TileFormat.readManifest(dir).get.tiles.map(_.dv.size).sum
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThan(
        "o_totalprice", java.lang.Double.valueOf(200000.0))))
    val survivors = orders.filter(col("o_totalprice") >= 50000 && col("o_totalprice") <= 200000)
    assert(spark.read.format(Fmt).load(dir).count() === survivors.count())
    val m = TileFormat.readManifest(dir).get
    assert(m.tiles.map(_.dv.size).sum > dvBefore, "second delete did not extend the DVs")
    m.tiles.foreach(t => assert(t.dv === t.dv.sorted && t.dv.distinct.size === t.dv.size,
      "deletion vector must stay sorted and duplicate-free"))
  }

  test("DELETE WHERE col <> lit keeps NULL rows (3-valued logic, ADVICE r11)") {
    val dir = tmp("tiles_spec_3vl")
    import spark.implicits._
    // one tile, col range excludes 5, WITH nulls: the old Not-proof would
    // have dropped the whole tile — deleting the null rows SQL keeps
    Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (null, "x"), (3L, "c"), (null, "y"))
      .toDF("c", "pad")
      .coalesce(1).write.format(Fmt).mode("overwrite").save(dir)
    val (schema, _) = scanBuilderFor(dir)
    val tile = TileFormat.readManifest(dir).get.tiles.head
    val notEq = org.apache.spark.sql.sources.Not(
      org.apache.spark.sql.sources.EqualTo("c", java.lang.Long.valueOf(5L)))
    assert(!TileFormat.tileMustMatch(schema, tile, notEq),
      "Not(...) proven all-match over a null-bearing tile — 3VL violation")
    val table = new graft.sources.tiles.GraftTileTable(dir, schema)
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](notEq))
    val back = spark.read.format(Fmt).load(dir)
    assert(back.count() === 2, "NULL rows must survive DELETE WHERE c <> 5")
    assert(back.filter(col("c").isNull).count() === 2)
    // on a null-FREE tile the metadata proof still fires (no regression)
    val dir2 = tmp("tiles_spec_3vl_clean")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("c", "pad")
      .coalesce(1).write.format(Fmt).mode("overwrite").save(dir2)
    val (schema2, _) = scanBuilderFor(dir2)
    val t2 = TileFormat.readManifest(dir2).get.tiles.head
    assert(TileFormat.tileMustMatch(schema2, t2, notEq),
      "null-free range proof for Not(...) should still hold")
  }

  test("schema guards: manifest mismatch and reserved names fail at analysis") {
    val dir = tmp("tiles_spec_guard")
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").write.format(Fmt).mode("overwrite").save(dir)
    // appending a reordered/differently-typed frame would misparse the
    // positional chunks — must fail loudly, not corrupt
    val e1 = intercept[Exception] {
      Seq(("a", 1L)).toDF("v", "k").write.format(Fmt).mode("append").save(dir)
    }
    assert(e1.getMessage.contains("manifest schema"), e1.getMessage)
    val e2 = intercept[Exception] {
      Seq((1L, 2L)).toDF("k", "v").write.format(Fmt).mode("append").save(dir)
    }
    assert(e2.getMessage.contains("manifest schema"), e2.getMessage)
    // same names and types still appends fine
    Seq((2L, "b")).toDF("k", "v").write.format(Fmt).mode("append").save(dir)
    assert(spark.read.format(Fmt).load(dir).count() === 2)
    // a reader with a wrong explicit schema is rejected too
    val e3 = intercept[Exception] {
      spark.read.format(Fmt)
        .schema(StructType(Seq(StructField("k", StringType), StructField("v", StringType))))
        .load(dir).collect()
    }
    assert(e3.getMessage.contains("manifest schema"), e3.getMessage)
    // reserved metadata column names can never become data columns
    val e4 = intercept[Exception] {
      Seq((1L, "x")).toDF("k", "_tile_file").write.format(Fmt).mode("overwrite")
        .save(tmp("tiles_spec_guard2"))
    }
    assert(e4.getMessage.contains("reserved"), e4.getMessage)
    spark.conf.set("spark.sql.catalog.tguard",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tguard.warehouse", tmp("tiles_spec_guard_wh"))
    val e5 = intercept[Exception] {
      spark.sql("CREATE TABLE tguard.ns.bad (k BIGINT, _tile_row BIGINT)")
    }
    assert(e5.getMessage.contains("reserved"), e5.getMessage)
  }

  test("compaction rewrites small+DV'd tiles, purges DVs, restores metadata pushdown") {
    val dir = tmp("tiles_spec_cmp")
    val orders = Tables(spark, sf001).orders
    orders.repartition(8).write.format(Fmt).mode("overwrite").save(dir)
    val table = new graft.sources.tiles.GraftTileTable(dir,
      TileFormat.readManifest(dir).get.schema)
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan(
        "o_totalprice", java.lang.Double.valueOf(10000.0))))
    val before = TileFormat.readManifest(dir).get
    assert(before.tiles.exists(_.dv.nonEmpty), "fixture should carry DVs")
    val live = spark.read.format(Fmt).load(dir).collect().toSet

    val r = graft.sources.tiles.GraftTileMaintenance.compact(dir)
    assert(r.tilesOut < r.tilesIn && r.binsRewritten >= 1 && r.dvsPurged > 0, r.toString)
    val after = TileFormat.readManifest(dir).get
    assert(after.tiles.size < before.tiles.size)
    assert(after.tiles.forall(_.dv.isEmpty), "compaction must purge deletion vectors")
    assert(after.generation === before.generation + 1, "compaction must bump the generation")
    // data identical to the pre-compaction live set
    assert(spark.read.format(Fmt).load(dir).collect().toSet === live)
    // with DVs gone, MIN/MAX answers from the manifest again — and the
    // rewritten zone maps are TIGHT (post-delete min, not the stale one)
    TileFormat.tilesOpened.set(0L)
    val mn = spark.read.format(Fmt).load(dir).agg(min("o_totalprice")).head().getDouble(0)
    assert(TileFormat.tilesOpened.get() === 0L,
      "post-compaction MIN should be metadata-only (DVs purged)")
    assert(mn >= 10000.0 && mn ===
      orders.filter(col("o_totalprice") >= 10000.0)
        .agg(min("o_totalprice")).head().getDouble(0))
    // replaced originals are orphans until vacuumed; live files stay
    val removed = TileFormat.vacuumOrphans(dir)
    assert(removed.nonEmpty)
    assert(spark.read.format(Fmt).load(dir).collect().toSet === live)
  }

  test("streaming source: appended tiles arrive exactly once; rewrites fail loudly") {
    val dir = tmp("tiles_spec_src")
    val ckpt = tmp("tiles_spec_src_ckpt")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.format(Fmt).mode("overwrite").save(dir)
    val sink = tmp("tiles_spec_src_sink")
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sunk(): Set[(Long, String)] =
      spark.read.parquet(sink).as[(Long, String)].collect().toSet
    drain()
    assert(sunk() === Set((1L, "a"), (2L, "b")))
    // appended tiles arrive on the next drain of the SAME checkpoint —
    // and ONLY they do (exactly-once over the tile log: no re-delivery
    // of tiles 0..1, no miss of 2..3)
    Seq((3L, "c")).toDF("k", "v").coalesce(1).write.format(Fmt).mode("append").save(dir)
    Seq((4L, "d")).toDF("k", "v").coalesce(1).write.format(Fmt).mode("append").save(dir)
    drain()
    assert(sunk() === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      "restarted drain must deliver exactly the new tiles")
    // a rewrite (truncate bumps the generation) must fail the offsets
    // loudly, never silently misread shifted tile positions
    Seq((9L, "z")).toDF("k", "v").coalesce(1).write.format(Fmt).mode("overwrite").save(dir)
    Seq((10L, "y")).toDF("k", "v").coalesce(1).write.format(Fmt).mode("append").save(dir)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(err.getMessage.contains("rewritten") ||
      Option(err.getCause).exists(_.getMessage.contains("rewritten")),
      s"expected the generation guard, got: ${err.getMessage}")
    // offset JSON roundtrip
    val off = graft.sources.tiles.GraftTileOffset(3L, 7L)
    assert(graft.sources.tiles.GraftTileOffset.fromJson(off.json()) === off)
  }

  test("TBLPROPERTIES are durable: layout defaults inherited by every writer") {
    val wh = tmp("tiles_spec_props_wh")
    spark.conf.set("spark.sql.catalog.tprop",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tprop.warehouse", wh)
    spark.sql("DROP TABLE IF EXISTS tprop.db.t")
    spark.sql("""CREATE TABLE tprop.db.t (k BIGINT, v STRING) USING `graft-tiles`
                |TBLPROPERTIES ('bloom_columns'='k', 'target_tile_rows'='100',
                |               'note'='hello')""".stripMargin)
    val dir = s"$wh/db/t"
    val m0 = TileFormat.readManifest(dir).get
    assert(m0.properties.get("bloom_columns").contains("k"))
    assert(m0.properties.get("note").contains("hello"))
    assert(!m0.properties.contains("provider"), "engine key leaked into properties")

    // a plain INSERT (no write options) inherits the declared layout:
    // 100-row tiles, each with a bloom sidecar on k
    spark.range(0, 250).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .coalesce(1).writeTo("tprop.db.t").append()
    val m1 = TileFormat.readManifest(dir).get
    assert(m1.tiles.size === 3, s"expected 100-row roll-over, got ${m1.tiles.size}")
    assert(m1.tiles.forall(_.bloomCols == Seq("k")),
      "bloom sidecars not inherited from TBLPROPERTIES")
    assert(m1.properties === m0.properties, "data commit dropped properties")

    // SHOW / SET / UNSET round-trip
    val shown = spark.sql("SHOW TBLPROPERTIES tprop.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("note").contains("hello"), shown.toString)
    spark.sql("ALTER TABLE tprop.db.t SET TBLPROPERTIES ('target_tile_rows'='1000')")
    spark.sql("ALTER TABLE tprop.db.t UNSET TBLPROPERTIES ('note')")
    val m2 = TileFormat.readManifest(dir).get
    assert(m2.properties.get("target_tile_rows").contains("1000"))
    assert(!m2.properties.contains("note"))

    // a write OPTION still overrides the table default for that write
    spark.range(250, 500).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .coalesce(1).write.format(Fmt).mode("append")
      .option("target_tile_rows", "50").save(dir)
    val m3 = TileFormat.readManifest(dir).get
    assert(m3.tiles.size === 3 + 5, s"option override ignored: ${m3.tiles.size}")
    assert(spark.sql("SELECT count(*) FROM tprop.db.t").head.getLong(0) === 500L)
    spark.sql("DROP TABLE tprop.db.t")
  }

  test("TIMESTAMP AS OF resolves the latest commit at-or-before the instant") {
    import spark.implicits._
    val wh = tmp("tiles_spec_tsasof_wh")
    spark.conf.set("spark.sql.catalog.tts",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tts.warehouse", wh)
    spark.sql("DROP TABLE IF EXISTS tts.db.t")
    Seq((1L, "a")).toDF("k", "v").coalesce(1).writeTo("tts.db.t").using(Fmt).create()
    Thread.sleep(15)
    Seq((2L, "b")).toDF("k", "v").coalesce(1).writeTo("tts.db.t").append()
    Thread.sleep(15)
    Seq((3L, "c")).toDF("k", "v").coalesce(1).writeTo("tts.db.t").append()
    val dir = s"$wh/db/t"
    val versions = TileFormat.listVersions(dir).sorted
      .flatMap(s => TileFormat.readManifestVersion(dir, s))
    assert(versions.map(_.commitTs).distinct.size >= 3, "commit stamps not distinct")
    // the instant of the 2-row state (after the first append, before the
    // second) must resolve to exactly that version
    val mid = versions.find(_.tiles.size == 1).get // CREATE is v0 (0 tiles)
    val midTs = versions.filter(_.tiles.size == 2).map(_.commitTs).min - 1L
    def countAt(ms: Long): Long =
      spark.sql(s"SELECT count(*) FROM tts.db.t TIMESTAMP AS OF timestamp_millis($ms)")
        .head.getLong(0)
    assert(countAt(midTs) === 1L)
    assert(countAt(System.currentTimeMillis()) === 3L)
    assert(mid.tiles.size === 1)
    // an instant before the first commit fails loudly
    val e = intercept[Exception] { countAt(versions.head.commitTs - 10000L) }
    assert(e.getMessage.contains("at or before"), e.getMessage)
    spark.sql("DROP TABLE tts.db.t")
  }

  test("streaming admission control: max_tiles_per_trigger paces the drain in bounded batches") {
    val dir = tmp("tiles_spec_admission")
    val ckpt = tmp("tiles_spec_admission_ckpt")
    val sink = tmp("tiles_spec_admission_sink")
    import spark.implicits._
    // a 5-tile backlog
    (1 to 5).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
        .write.format(Fmt).mode(if (i == 1) "overwrite" else "append").save(dir)
    }
    assert(TileFormat.readManifest(dir).get.tiles.size === 5)
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format(Fmt)
      .option("max_tiles_per_trigger", "2").load(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], _: Long) =>
        batchSizes += batch.count()
        batch.write.mode("append").parquet(sink)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // 5 tiles at <=2 per trigger: [2, 2, 1] — paced, complete, exactly-once
    assert(batchSizes.toSeq === Seq(2L, 2L, 1L),
      s"expected a 2/2/1 paced drain, got $batchSizes")
    assert(spark.read.parquet(sink).as[(Long, String)].collect().toSet ===
      (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
  }

  test("REPLACE WHERE: atomic slice swap — aligned is metadata-only, split goes to DVs") {
    val dir = tmp("tiles_spec_rw")
    import spark.implicits._
    // two year-aligned generations, as a per-slice ingest would land them
    val y97 = Seq((1997, 1L, 10.0), (1997, 2L, 20.0)).toDF("y", "k", "v")
    val y98bad = Seq((1998, 3L, -1.0), (1998, 4L, -2.0)).toDF("y", "k", "v")
    y97.coalesce(1).write.format(Fmt).mode("overwrite").save(dir)
    y98bad.coalesce(1).write.format(Fmt).mode("append").save(dir)
    val before = TileFormat.readManifest(dir).get
    assert(before.tiles.size === 2)
    val good = Seq((1998, 3L, 30.0), (1998, 4L, 40.0)).toDF("y", "k", "v")
    val wb = new graft.sources.tiles.GraftTileWriteBuilder(dir, good.schema)
    assert(wb.canOverwrite(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("y", Integer.valueOf(1998)))))
    spark.conf.set("spark.sql.catalog.trw",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.trw.warehouse", tmp("tiles_spec_rw_wh"))
    val wdir = tmp("tiles_spec_rw_wh") + "/db/t"
    y97.coalesce(1).write.format(Fmt).mode("overwrite").save(wdir)
    y98bad.coalesce(1).write.format(Fmt).mode("append").save(wdir)
    val pre = TileFormat.readManifest(wdir).get
    TileFormat.tilesOpened.set(0L)
    good.coalesce(1).writeTo("trw.db.t").overwrite($"y" >= 1998)
    assert(TileFormat.tilesOpened.get() === 0L,
      "a tile-aligned REPLACE WHERE must be a pure manifest edit")
    val post = TileFormat.readManifest(wdir).get
    assert(post.generation === pre.generation + 1, "replace must bump the generation")
    val got = spark.read.format(Fmt).load(wdir).as[(Int, Long, Double)].collect().toSet
    assert(got === Set((1997, 1L, 10.0), (1997, 2L, 20.0), (1998, 3L, 30.0), (1998, 4L, 40.0)))
    // snapshot isolation (r13): the replaced original is an ORPHAN, not
    // unlinked — a reader holding the pre-replace manifest still resolves
    // every file it references; vacuum is the explicit reclaim
    val rwTags = pre.schema.fields.map(f => TileFormat.typeTag(f.dataType))
    pre.tiles.foreach { t =>
      val cur = TileFormat.openCursor(new java.io.File(wdir, t.file),
        pre.schema.indices.toArray, rwTags)
      val dest = new Array[Any](rwTags.length)
      var nRead = 0L
      while (cur.next(dest)) nRead += 1
      cur.close()
      assert(nRead === t.rows, s"pre-replace tile ${t.file} unreadable after REPLACE WHERE")
    }
    TileFormat.vacuumOrphans(wdir)
    assert(new java.io.File(wdir).listFiles()
      .count(f => f.getName.startsWith("tile-")) === post.tiles.size)
    // SPLITTING replace: predicate cuts across a tile -> kept rows stay
    // via a deletion vector, replacement appends, one publish
    good.coalesce(1).writeTo("trw.db.t").overwrite($"k" >= 2 && $"k" <= 3)
    val got2 = spark.read.format(Fmt).load(wdir).as[(Int, Long, Double)].collect().toSet
    // rows with k in [2,3] replaced by `good`'s k-in-[2,3] subset (k=3)
    assert(got2 === Set((1997, 1L, 10.0), (1998, 3L, 30.0), (1998, 4L, 40.0)),
      s"splitting REPLACE WHERE wrong: $got2")
    assert(TileFormat.readManifest(wdir).get.tiles.exists(_.dv.nonEmpty),
      "expected a DV on the split survivor tile")
  }

  test("schema evolution: ADD COLUMN reads null on old tiles, stats stay exact, compaction upgrades") {
    import spark.implicits._
    val wh = tmp("tiles_spec_evo_wh")
    spark.conf.set("spark.sql.catalog.tevo",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tevo.warehouse", wh)
    val dir = s"$wh/db/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.format(Fmt).mode("overwrite").save(dir)
    spark.sql("ALTER TABLE tevo.db.t ADD COLUMN score DOUBLE")
    // old tiles read the new column as null through every path
    val afterAlter = spark.sql("SELECT k, v, score FROM tevo.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2)))
    assert(afterAlter.toSeq === Seq((1L, "a", true), (2L, "b", true)))
    // appends carry the evolved schema
    Seq((3L, "c", 0.5), (4L, "d", 1.5)).toDF("k", "v", "score")
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    assert(spark.sql("SELECT count(score) FROM tevo.db.t").head().getLong(0) === 2L)
    // metadata aggregates stay EXACT across the evolution boundary: the
    // old tile has no stats entry (all-null there), the new tile has
    // bounds — COUNT/MIN/MAX answer from the manifest, zero tiles opened
    TileFormat.tilesOpened.set(0L)
    val row = spark.read.format(Fmt).load(dir)
      .agg(count(col("score")), min("score"), max("score")).head()
    assert((row.getLong(0), row.getDouble(1), row.getDouble(2)) === ((2L, 0.5, 1.5)))
    assert(TileFormat.tilesOpened.get() === 0L,
      "evolved-column COUNT/MIN/MAX should stay metadata-only")
    // filters on the evolved column are exact over old tiles
    assert(spark.sql("SELECT count(*) FROM tevo.db.t WHERE score IS NULL")
      .head().getLong(0) === 2L)
    assert(spark.sql("SELECT k FROM tevo.db.t WHERE score > 1.0").collect()
      .map(_.getLong(0)).toSeq === Seq(4L))
    // compaction upgrades old tiles to the full schema
    graft.sources.tiles.GraftTileMaintenance.compact(dir)
    val m = TileFormat.readManifest(dir).get
    assert(m.tiles.forall(_.stats.contains("score")),
      "compaction should rewrite old tiles under the evolved schema")
    assert(spark.sql("SELECT count(*) FROM tevo.db.t WHERE score IS NULL")
      .head().getLong(0) === 2L, "nulls must survive the upgrade rewrite")
    // guards: duplicate, reserved, non-nullable, reposition all rejected
    intercept[Exception] { spark.sql("ALTER TABLE tevo.db.t ADD COLUMN k BIGINT") }
    intercept[Exception] { spark.sql("ALTER TABLE tevo.db.t ADD COLUMN _tile_row BIGINT") }
    intercept[Exception] { spark.sql("ALTER TABLE tevo.db.t ADD COLUMN nn DOUBLE NOT NULL") }
    intercept[Exception] { spark.sql("ALTER TABLE tevo.db.t ADD COLUMN z DOUBLE FIRST") }
  }

  test("writer roll-over: one big task seals many bounded tiles with tight per-tile stats") {
    // VERDICT r12 missing-item 1: the writer must NOT buffer its whole
    // partition — at a byte/row bound it seals the tile and starts a new
    // one, so task heap is bounded and zone maps are tile-tight.
    val dir = tmp("tiles_spec_roll")
    val orders = Tables(spark, sf001).orders // ~15k rows in ONE task below
    orders.orderBy("o_orderkey").coalesce(1).write.format(Fmt)
      .mode("overwrite").option("target_tile_rows", "400").save(dir)
    val m = TileFormat.readManifest(dir).get
    assert(m.tiles.size > 1, s"expected roll-over, got ${m.tiles.size} tile(s)")
    assert(m.tiles.forall(_.rows <= 400L),
      s"a tile exceeds the row bound: ${m.tiles.map(_.rows)}")
    assert(m.tiles.map(_.rows).sum === orders.count())
    // per-tile stats cover exactly their own rows: the sorted single task
    // gives DISJOINT o_orderkey ranges across consecutive tiles
    val bounds = m.tiles.map(t => (t.stats("o_orderkey").min.get.toLong,
      t.stats("o_orderkey").max.get.toLong))
    bounds.foreach { case (lo, hi) => assert(lo <= hi) }
    bounds.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"tile key ranges overlap: $bounds")
      case _ => ()
    }
    // roundtrip intact, and the tight bounds actually prune
    val back = spark.read.format(Fmt).load(dir)
    assert(back.count() === orders.count())
    val probe = bounds.head._2 // a key inside the FIRST tile only
    TileFormat.tilesOpened.set(0L)
    assert(back.filter(col("o_orderkey") === probe).count() === 1L)
    assert(TileFormat.tilesOpened.get() === 1L,
      "rolled tiles should prune to exactly one for a point lookup")
    // the byte bound rolls too (tiny bound => every tile under it + slack)
    val dir2 = tmp("tiles_spec_roll_b")
    orders.coalesce(1).write.format(Fmt).mode("overwrite")
      .option("target_tile_bytes", (16L << 10).toString).save(dir2)
    val m2 = TileFormat.readManifest(dir2).get
    assert(m2.tiles.size > 1, "byte-bound roll-over did not trigger")
    assert(m2.tiles.map(_.rows).sum === orders.count())
  }

  test("optimistic concurrency: a stale publish throws and leaves the table unchanged") {
    import spark.implicits._
    val dir = tmp("tiles_spec_cas")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.format(Fmt).mode("overwrite").save(dir)
    val stale = TileFormat.readManifest(dir).get // committer A's read
    // committer B lands first (an append bumps commit_seq but NOT generation
    // — the exact case a generation-keyed CAS would miss)
    Seq((3L, "c")).toDF("k", "v").coalesce(1).write.format(Fmt)
      .mode("append").save(dir)
    val afterB = TileFormat.readManifest(dir).get
    assert(afterB.generation === stale.generation,
      "append must not bump generation (fixture precondition)")
    assert(afterB.commitSeq === stale.commitSeq + 1)
    // committer A now publishes against its STALE read: must fail loudly
    val ex = intercept[java.util.ConcurrentModificationException] {
      TileFormat.writeManifest(dir, stale.schema, stale.tiles, stale.lastEpoch,
        stale.queryId, stale.generation,
        expect = TileFormat.ExpectCommitSeq(stale.commitSeq))
    }
    assert(ex.getMessage.contains("commit_seq"))
    // table unchanged by the failed publish
    val after = TileFormat.readManifest(dir).get
    assert(after.commitSeq === afterB.commitSeq &&
      after.tiles.map(_.file) === afterB.tiles.map(_.file))
    assert(spark.read.format(Fmt).load(dir).count() === 3L)
    // no staged manifest litter from the refused publish
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(TileFormat.ManifestName + ".tmp")))
    // a CREATE expecting absence fails once the table exists
    intercept[java.util.ConcurrentModificationException] {
      TileFormat.writeManifest(dir, stale.schema, Seq.empty,
        expect = TileFormat.ExpectAbsent)
    }
    // end to end: concurrent appends ALL land — appends commute, so a
    // lost CAS race re-reads and re-publishes (r13; rewrites stay
    // single-shot and surface the conflict). No failures, no lost updates.
    val racers = (0 until 4).map { i =>
      new Thread {
        var failed: Option[Throwable] = None
        override def run(): Unit =
          try Seq((10L + i, s"r$i")).toDF("k", "v").coalesce(1)
            .write.format(Fmt).mode("append").save(dir)
          catch { case t: Throwable => failed = Some(t) }
      }
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    racers.zipWithIndex.foreach { case (r, i) =>
      assert(r.failed.isEmpty, s"racer $i failed: ${r.failed}")
    }
    val landed = spark.read.format(Fmt).load(dir).as[(Long, String)]
      .collect().toSet
    (0 until 4).foreach { i =>
      assert(landed.contains((10L + i, s"r$i")), s"racer $i's row lost")
    }
    assert(TileFormat.readManifest(dir).get.commitSeq === afterB.commitSeq + 4,
      "each racer must have published exactly one commit")
  }

  test("MERGE (keyed upsert): updates DV across tiles, inserts append, one atomic publish") {
    import spark.implicits._
    val dir = tmp("tiles_spec_merge")
    // 3 key-clustered tiles: [1..4], [5..8], [9..12]
    val base = (1L to 12L).map(k => (k, s"v$k", k * 10.0)).toDF("k", "v", "score")
    base.repartitionByRange(3, $"k").sortWithinPartitions("k")
      .write.format(Fmt).mode("overwrite").save(dir)
    val pre = TileFormat.readManifest(dir).get
    assert(pre.tiles.size === 3)
    // source: updates spanning tiles 1 and 3 (k=2, k=10), one insert (k=99)
    val src = Seq((2L, "UP2", 2.5), (10L, "UP10", 10.5), (99L, "NEW", 99.0))
      .toDF("k", "v", "score")
    val r = graft.sources.tiles.GraftTileMaintenance.mergeUpsert(spark, dir, src, Seq("k"))
    assert(r.matchedRows === 2L && r.insertedRows === 3L && r.tilesWithNewDvs === 2
      && r.tilesDropped === 0 && r.newTiles >= 1, r.toString)
    val post = TileFormat.readManifest(dir).get
    assert(post.generation === pre.generation + 1, "merge is a rewrite: generation bumps")
    assert(post.commitSeq === pre.commitSeq + 1, "merge must be ONE atomic publish")
    // untouched rows intact, updated rows replaced exactly once, insert present
    val got = spark.read.format(Fmt).load(dir).as[(Long, String, Double)].collect().toSet
    val exp = base.as[(Long, String, Double)].collect().toSet
      .filterNot(t => t._1 == 2L || t._1 == 10L) ++
      Set((2L, "UP2", 2.5), (10L, "UP10", 10.5), (99L, "NEW", 99.0))
    assert(got === exp)
    // a merge that kills EVERY row of a tile drops it from the manifest
    val killTile1 = (1L to 4L).map(k => (k, "K", 0.0)).toDF("k", "v", "score")
    val r2 = graft.sources.tiles.GraftTileMaintenance.mergeUpsert(spark, dir, killTile1, Seq("k"))
    // 2 drops: the original [1..4] tile AND merge-1's single-row tile for
    // the updated k=2 — both end with their DV covering every row
    assert(r2.tilesDropped === 2, s"fully-dead tiles should drop: $r2")
    assert(spark.read.format(Fmt).load(dir).filter($"v" === "K").count() === 4L)
    assert(spark.read.format(Fmt).load(dir).count() === 13L)
    // guards: duplicate source keys and schema mismatch are NAMED errors
    val dup = Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("k", "v", "score")
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.tiles.GraftTileMaintenance.mergeUpsert(spark, dir, dup, Seq("k"))
    }
    assert(e1.getMessage.contains("multiple rows"))
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.tiles.GraftTileMaintenance.mergeUpsert(spark, dir,
        Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    }
    assert(e2.getMessage.contains("schema"))
  }

  test("storage-partitioned join: same-key partitioned tables join with NO Exchange") {
    // VERDICT r12 directive 7: SupportsReportPartitioning. Both tables are
    // written partition_by=bucket (identity transform): each tile holds
    // one bucket value, the scan reports KeyGroupedPartitioning, and with
    // v2 bucketing enabled Spark co-schedules matching buckets — a
    // shuffle-free join on the storage layout, Iceberg's SPJ contract.
    val d1 = tmp("tiles_spec_spj_a")
    val d2 = tmp("tiles_spec_spj_b")
    val orders = Tables(spark, sf001).orders
    val left = orders.groupBy((col("o_orderkey") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_l"), sum("o_orderkey").as("s_l"))
    val right = orders.groupBy((col("o_orderkey") % 8).as("bucket"))
      .agg(sum("o_custkey").as("s_r"))
    left.write.format(Fmt).mode("overwrite")
      .option("partition_by", "bucket").save(d1)
    right.write.format(Fmt).mode("overwrite")
      .option("partition_by", "bucket").save(d2)
    // one-value-per-tile is real, and recorded in the manifest
    val m1 = TileFormat.readManifest(d1).get
    assert(m1.partitionBy === Some("bucket"))
    assert(m1.tiles.forall(t =>
      t.stats("bucket").min == t.stats("bucket").max && t.stats("bucket").nulls == 0L))
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val a = spark.read.format(Fmt).load(d1)
      val b = spark.read.format(Fmt).load(d2)
      val j = a.join(b, "bucket") // no orderBy: a global sort would add its own (legitimate) Exchange
      val plan = j.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"storage-partitioned join must plan ZERO shuffles, found ${shuffles.size}:\n$plan")
      assert(plan.collectFirst {
        case smj: org.apache.spark.sql.execution.joins.SortMergeJoinExec => smj
        case shj: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => shj
      }.nonEmpty, s"expected a shuffled-family join operator (not broadcast):\n$plan")
      // and the co-scheduled result is exactly the relational answer
      val got = j.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val exp = left.join(right, "bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.sorted.toSeq === exp.sorted.toSeq)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // a nonconforming tile DEGRADES the report instead of lying: the DSv2
    // write path auto-adopts the partition column on appends, so forge a
    // multi-bucket tile through the low-level API and republish — the scan
    // must stop claiming key groups (zone-map validation, not trust)
    val m1b = TileFormat.readManifest(d1).get
    val w = new graft.sources.tiles.GraftTileWriter(d1, m1b.schema, 7, 7L)
    Seq(0L, 1L).foreach { bkt =>
      w.write(org.apache.spark.sql.catalyst.InternalRow(bkt, 1L, 1L))
    }
    val part = w.commit().asInstanceOf[graft.sources.tiles.GraftTileCommitMessage]
      .parts.head
    assert(new java.io.File(d1, part.tmpName).renameTo(new java.io.File(d1, part.finalName)))
    TileFormat.writeManifest(d1, m1b.schema,
      m1b.tiles :+ TileFormat.TileMeta(part.finalName, part.rows, part.bytes, part.stats),
      m1b.lastEpoch, m1b.queryId, m1b.generation,
      expect = TileFormat.ExpectCommitSeq(m1b.commitSeq), partitionBy = m1b.partitionBy)
    val (_, sb) = scanBuilderFor(d1)
    val scan = sb.build().asInstanceOf[GraftTileScan]
    assert(!scan.outputPartitioning().isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
      "a multi-value tile must disable the key-grouped report")
  }

  test("PARTITIONED BY + metadata GROUP BY: grouped agg answers with zero tiles opened") {
    val wh = tmp("tiles_spec_pby_wh")
    spark.conf.set("spark.sql.catalog.tpby",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tpby.warehouse", wh)
    spark.sql("""CREATE TABLE tpby.db.t (status STRING, k BIGINT, v DOUBLE)
                 PARTITIONED BY (status)""")
    // DESCRIBE-level surface: the table reports its identity transform
    val cat = spark.sessionState.catalogManager.catalog("tpby")
      .asInstanceOf[graft.sources.tiles.GraftTileCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    assert(cat.loadTable(Identifier.of(Array("db"), "t")).partitioning()
      .map(_.describe()).toSeq === Seq("status")) // identity(c) describes as c
    val orders = Tables(spark, sf001).orders
    // plain INSERT adopts the table's partitioning: no write options here
    orders.select(col("o_orderstatus").as("status"), col("o_orderkey").as("k"),
        col("o_totalprice").as("v"))
      .writeTo("tpby.db.t").append()
    val m = TileFormat.readManifest(s"$wh/db/t").get
    assert(m.partitionBy === Some("status"))
    assert(m.tiles.forall(t => t.stats("status").min == t.stats("status").max))
    // the grouped aggregate is answered from the manifest: ZERO tiles open
    TileFormat.tilesOpened.set(0L)
    val got = spark.sql(
      """SELECT status, count(*) AS n, count(v) AS nv,
           min(k) AS mn, max(k) AS mx FROM tpby.db.t GROUP BY status""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(TileFormat.tilesOpened.get() === 0L,
      "metadata GROUP BY must not open tiles")
    val exp = orders.groupBy("o_orderstatus")
      .agg(count(lit(1)), count(col("o_totalprice")),
        min("o_orderkey"), max("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(got.toSeq === exp.toSeq)
    // a grouped agg on a NON-single-valued column is NOT pushed (and the
    // row-level answer is still exact)
    TileFormat.tilesOpened.set(0L)
    val byK = spark.sql(
      "SELECT k % 2 AS b, count(*) AS n FROM tpby.db.t GROUP BY k % 2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(TileFormat.tilesOpened.get() > 0L, "non-partition GROUP BY must scan")
    assert(byK.map(_._2).sum === orders.count())
    // DVs keep CountStar-only pushdown honest: after a row-level DELETE the
    // grouped COUNT(v)/MIN/MAX must decline (it scans) yet stay exact
    spark.sql("DELETE FROM tpby.db.t WHERE k < 100")
    val afterDel = spark.sql(
      """SELECT status, count(*) AS n, min(k) AS mn FROM tpby.db.t GROUP BY status""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val expDel = orders.filter(col("o_orderkey") >= 100)
      .groupBy("o_orderstatus").agg(count(lit(1)), min("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(afterDel.toSeq === expDel.toSeq)
  }

  test("time travel: version-pinned reads, SQL VERSION AS OF, vacuum truncates history") {
    import spark.implicits._
    val wh = tmp("tiles_spec_tt_wh")
    spark.conf.set("spark.sql.catalog.ttt",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.ttt.warehouse", wh)
    val dir = s"$wh/db/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.format(Fmt).mode("overwrite").save(dir) // seq 0
    Seq((3L, "c")).toDF("k", "v")
      .coalesce(1).write.format(Fmt).mode("append").save(dir) // seq 1
    spark.sql("DELETE FROM ttt.db.t WHERE k <= 2") // seq 2
    spark.sql("ALTER TABLE ttt.db.t ADD COLUMN w DOUBLE") // seq 3
    assert(TileFormat.listVersions(dir) === Seq(0L, 1L, 2L, 3L))
    // pinned reads see each snapshot exactly
    def at(seq: Long) = spark.read.format(Fmt)
      .option("version_at", seq.toString).load(dir)
    assert(at(0L).as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(at(1L).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(at(2L).as[(Long, String)].collect().toSet === Set((3L, "c")))
    // schema is AS OF the version: pre-evolution pins have no `w`
    assert(at(1L).schema.fieldNames.toSeq === Seq("k", "v"))
    assert(at(3L).schema.fieldNames.toSeq === Seq("k", "v", "w"))
    // SQL VERSION AS OF through the catalog
    assert(spark.sql("SELECT k FROM ttt.db.t VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // pinned tables are read-only
    val e = intercept[Exception] {
      Seq((9L, "z")).toDF("k", "v").write.format(Fmt).mode("append")
        .option("version_at", "1").save(dir)
    }
    assert(e.getMessage.contains("read-only"), e.getMessage)
    // a missing version names the survivors
    val e2 = intercept[Exception] { at(99L).collect() }
    assert(e2.getMessage.contains("no committed version 99"), e2.getMessage)
    // vacuum reclaims old generations AND truncates history to current
    TileFormat.vacuumOrphans(dir)
    assert(TileFormat.listVersions(dir) === Seq(3L))
    intercept[Exception] { at(1L).collect() } // time travel ends at vacuum
    assert(spark.read.format(Fmt).load(dir).select("k", "v")
      .as[(Long, String)].collect().toSet === Set((3L, "c")), "vacuum touched live data")
  }

  test("bloom sidecars prune point lookups on unclustered columns") {
    import spark.implicits._
    val dir = tmp("tiles_spec_bloom")
    // 16 k-range tiles; `tag` is scattered (multiplicative hash) so its
    // zone maps span every tile — min/max CANNOT prune a tag probe, the
    // bloom is the only thing that can. Two needles in two known tiles.
    val rows = (0L until 8000L).map { k =>
      val tag = if (k == 1234L) "needle-a"
      else if (k == 6789L) "needle-b"
      else s"u-${(k * 2654435761L) % 1000003L}"
      (k, tag)
    }
    rows.toDF("k", "tag")
      .repartitionByRange(16, $"k").sortWithinPartitions("k")
      .write.format(Fmt).mode("overwrite")
      .option("bloom_columns", "tag").save(dir)
    val m = TileFormat.readManifest(dir).get
    assert(m.tiles.size === 16)
    assert(m.tiles.forall(_.bloomCols === Seq("tag")))
    // sidecars are real committed files
    assert(m.tiles.forall(t =>
      new java.io.File(dir, TileFormat.bloomSidecarName(t.file)).isFile))
    // planning: the equality probe plans (almost) one partition — allow a
    // couple of bloom false positives, but 16 would mean no prune
    val (_, sb) = scanBuilderFor(dir)
    assert(sb.pushFilters(Array(EqualTo("tag", "needle-a"))).isEmpty)
    val planned = sb.build().asInstanceOf[GraftTileScan].planInputPartitions().length
    assert(planned <= 3, s"bloom should prune a point probe to ~1 tile, planned $planned/16")
    // end to end: exact answers, skipped tiles never opened
    TileFormat.tilesOpened.set(0L)
    assert(spark.read.format(Fmt).load(dir)
      .filter($"tag" === "needle-a").as[(Long, String)].collect().toSeq ===
      Seq((1234L, "needle-a")))
    assert(TileFormat.tilesOpened.get() <= planned.toLong)
    // IN probe spans two tiles; a never-stored probe opens zero tiles
    assert(spark.read.format(Fmt).load(dir)
      .filter($"tag".isin("needle-a", "needle-b")).count() === 2L)
    TileFormat.tilesOpened.set(0L)
    assert(spark.read.format(Fmt).load(dir)
      .filter($"tag" === "not-there-at-all").count() === 0L)
    assert(TileFormat.tilesOpened.get() <= 2L,
      "an absent probe should be (nearly) metadata-only")
    // vacuum keeps live sidecars; overwrite + vacuum reclaims old ones
    rows.take(100).toDF("k", "tag").coalesce(1).write.format(Fmt)
      .mode("overwrite").option("bloom_columns", "tag").save(dir)
    val removed = TileFormat.vacuumOrphans(dir)
    assert(removed.count(_.endsWith(".gtile.bloom")) === 16,
      s"old sidecars should be vacuumed: $removed")
    val live = TileFormat.readManifest(dir).get.tiles
    assert(live.forall(t =>
      new java.io.File(dir, TileFormat.bloomSidecarName(t.file)).isFile),
      "vacuum deleted a live sidecar")
    assert(spark.read.format(Fmt).load(dir).count() === 100L)
  }

  test("a truncated bloom sidecar disables its tile's prune; point lookups stay exact") {
    import spark.implicits._
    val dir = tmp("tiles_spec_bloom_torn")
    val rows = (0L until 2000L).map(k => (k, if (k == 1234L) "needle" else s"u-$k"))
    rows.toDF("k", "tag")
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
      .write.format(Fmt).mode("overwrite")
      .option("bloom_columns", "tag").save(dir)
    val holder = TileFormat.readManifest(dir).get.tiles.find { t =>
      val s = t.stats("k")
      s.min.get.toLong <= 1234L && 1234L <= s.max.get.toLong
    }.get
    val side = new java.io.File(dir, TileFormat.bloomSidecarName(holder.file))
    val raf = new java.io.RandomAccessFile(side, "rw")
    try raf.setLength(side.length() / 2) finally raf.close()
    assert(TileFormat.readBloomSidecar(side).isEmpty)
    assert(spark.read.format(Fmt).load(dir)
      .filter($"tag" === "needle").as[(Long, String)].collect().toSeq ===
      Seq((1234L, "needle")))
    assert(spark.read.format(Fmt).load(dir)
      .filter($"tag" === "not-there").count() === 0L)
  }

  test("cross-process CAS: a foreign commit token loses the publish; stale pointers roll forward") {
    import spark.implicits._
    val dir = tmp("tiles_spec_cas")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format(Fmt).mode("overwrite").save(dir) // seq 0
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.format(Fmt).mode("append").save(dir) // seq 1
    val m = TileFormat.readManifest(dir).get
    assert(m.commitSeq === 1L)
    // simulate ANOTHER PROCESS committing seq 2 (the JVM-local monitor
    // cannot see it): its durable commit token is the versioned manifest
    val foreign = java.nio.file.Paths.get(dir, TileFormat.versionedManifestName(2L))
    val forged = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, TileFormat.versionedManifestName(1L))), "UTF-8")
      .replace("\"commit_seq\" : 1", "\"commit_seq\" : 2")
    java.nio.file.Files.write(foreign, forged.getBytes("UTF-8"))
    // …a publish whose edit was computed from seq 1 must lose LOUDLY even
    // though the MAIN manifest file still says seq 1: reads reconcile
    // through the durable token chain, so the foreign commit is visible
    val e = intercept[java.util.ConcurrentModificationException] {
      TileFormat.writeManifest(dir, m.schema, m.tiles, m.lastEpoch, m.queryId,
        m.generation, expect = TileFormat.ExpectCommitSeq(1L),
        partitionBy = m.partitionBy)
    }
    assert(e.getMessage.contains("another commit"), e.getMessage)
    // recovery-on-read: the durable v2 token IS the committed state — the
    // trailing main-manifest pointer rolls forward to it
    assert(TileFormat.readManifest(dir).get.commitSeq === 2L)
    // a crash that lost the pointer entirely also recovers from history
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, TileFormat.ManifestName))
    assert(TileFormat.readManifest(dir).get.commitSeq === 2L)
    // vacuum (maintenance) repairs the pointer cache to the reconciled head
    TileFormat.vacuumOrphans(dir)
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, TileFormat.ManifestName)), "UTF-8")
    assert(raw.contains("\"commit_seq\" : 2"), raw.take(200))
    // the next regular commit continues the chain at seq 3
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.format(Fmt).mode("append").save(dir)
    assert(TileFormat.readManifest(dir).get.commitSeq === 3L)
  }

  test("streaming epoch replay aborts clean; a lost first attempt's orphans vacuum, never visible") {
    import spark.implicits._
    val dir = tmp("tiles_spec_replay")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format(Fmt).mode("overwrite").save(dir) // seq 0
    val m0 = TileFormat.readManifest(dir).get

    def stage(tag: String): graft.sources.tiles.GraftTileCommitMessage = {
      val w = new graft.sources.tiles.GraftTileWriter(dir, m0.schema,
        partitionId = 7, taskId = 1L)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](2L, org.apache.spark.unsafe.types.UTF8String.fromString(tag))))
      w.commit().asInstanceOf[graft.sources.tiles.GraftTileCommitMessage]
    }

    // a TWIN driver of query `qreplay` already committed epoch 7: its
    // durable commit token is the next versioned manifest
    val forged = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, TileFormat.versionedManifestName(m0.commitSeq))),
      "UTF-8")
      .replace(s""""commit_seq" : ${m0.commitSeq}""",
        s""""commit_seq" : ${m0.commitSeq + 1}""")
      .replace(""""last_epoch" : -1""",
        """"last_epoch" : 7, "query_id" : "qreplay"""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir,
      TileFormat.versionedManifestName(m0.commitSeq + 1)), forged.getBytes("UTF-8"))

    // 1) replay seen ON READ: the restarted driver re-commits epoch 7,
    //    finds it already durable, and ABORTS its staged tmp files
    val msg = stage("replay")
    val sw: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new graft.sources.tiles.GraftTileWrite(dir, m0.schema, "qreplay")
    sw.commit(7L, Array(msg))
    assert(!new java.io.File(dir, msg.parts.head.tmpName).exists(),
      "replayed epoch left its staged tmp behind")
    assert(!new java.io.File(dir, msg.parts.head.finalName).exists())
    assert(spark.read.format(Fmt).load(dir).count() === 1L)

    // 2) replay seen AFTER a lost CAS: attempt 1 had already renamed its
    //    tiles in when the twin won; the retry's replay check returns,
    //    leaving committed-then-raced files as orphans (the class-doc
    //    commute policy) — never visible, reclaimed by vacuumOrphans
    val lost = stage("lost")
    val orphanFiles = lost.parts.map { p =>
      p.commitTo(new java.io.File(dir)); p.finalName
    }
    orphanFiles.foreach(f => assert(new java.io.File(dir, f).exists()))
    assert(spark.read.format(Fmt).load(dir).count() === 1L,
      "lost-attempt orphan tiles visible to a reader")
    val removed = TileFormat.vacuumOrphans(dir)
    orphanFiles.foreach(f => assert(removed.contains(f),
      s"orphan $f not reclaimed by vacuum: $removed"))
    assert(spark.read.format(Fmt).load(dir).count() === 1L)
  }

  test("partitioned scans plan one task per TILE; SPJ grouping is Spark's (ADVICE r13)") {
    val dir = tmp("tiles_spec_pertile")
    val orders = Tables(spark, sf001).orders
    // 4 partition values, tiny row cap => many tiles per value
    orders.select((col("o_orderkey") % 4).as("bucket"), col("o_orderkey").as("k"))
      .write.format(Fmt).mode("overwrite")
      .option("partition_by", "bucket")
      .option("target_tile_rows", "100").save(dir)
    val m = TileFormat.readManifest(dir).get
    assert(m.tiles.size > 4, s"need >1 tile per value, got ${m.tiles.size}")
    val (_, sb) = scanBuilderFor(dir)
    val scan = sb.build().asInstanceOf[GraftTileScan]
    // the scan still REPORTS key-grouped partitioning over 4 values…
    val p = scan.outputPartitioning()
    assert(p.isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
    assert(p.numPartitions() === 4)
    // …but PLANS one InputPartition per tile, each carrying its key — a
    // plain scan keeps full per-tile parallelism (a whole partition value
    // no longer serializes through one task), and Spark's own
    // groupPartitions only coalesces them when SPJ actually applies
    val parts = scan.planInputPartitions()
    assert(parts.length === m.tiles.size)
    assert(parts.forall(_.isInstanceOf[
      org.apache.spark.sql.connector.read.HasPartitionKey]))
    // end to end, without v2 bucketing: tile-count tasks, exact result
    val got = spark.read.format(Fmt).load(dir)
      .groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = orders.groupBy((col("o_orderkey") % 4).as("bucket")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("compaction and merge preserve bloom sidecars (ADVICE r13)") {
    val dir = tmp("tiles_spec_bloom_compact")
    val orders = Tables(spark, sf001).orders
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        col("o_totalprice").as("v"))
    // many small tiles, bloom-indexed on the unclustered cust column
    orders.repartition(8)
      .write.format(Fmt).mode("overwrite")
      .option("bloom_columns", "cust").save(dir)
    val pre = TileFormat.readManifest(dir).get
    assert(pre.tiles.forall(_.bloomCols === Seq("cust")))
    val report = graft.sources.tiles.GraftTileMaintenance.compact(
      dir, smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    assert(report.tilesOut < report.tilesIn, s"no compaction: $report")
    val post = TileFormat.readManifest(dir).get
    assert(post.tiles.forall(_.bloomCols === Seq("cust")),
      s"compaction dropped bloom columns: ${post.tiles.map(_.bloomCols)}")
    post.tiles.foreach { t =>
      assert(new java.io.File(dir, TileFormat.bloomSidecarName(t.file)).isFile,
        s"missing sidecar for ${t.file} after compaction")
    }
    // the point prune still fires on the compacted table
    TileFormat.vacuumOrphans(dir)
    TileFormat.tilesOpened.set(0L)
    val got = spark.read.format(Fmt).load(dir)
      .filter(col("cust") === 7L).agg(count(lit(1))).head.getLong(0)
    val want = orders.filter(col("cust") === 7L).count()
    assert(got === want)
    // merge keeps the index on ITS staged tiles too
    import spark.implicits._
    val src = Seq((1L, 7L, 99.0), (999999999L, 7L, 1.0)).toDF("k", "cust", "v")
    graft.sources.tiles.GraftTileMaintenance.mergeUpsert(spark, dir, src, Seq("k"))
    val merged = TileFormat.readManifest(dir).get
    assert(merged.tiles.forall(_.bloomCols === Seq("cust")),
      s"merge dropped bloom columns: ${merged.tiles.map(_.bloomCols)}")
  }

  test("a version-pinned table reports ITS version's partitioning (ADVICE r13)") {
    val dir = tmp("tiles_spec_pin_part")
    val df = Tables(spark, sf001).region
      .select((col("r_regionkey") % 2).as("bucket"), col("r_name"))
    df.write.format(Fmt).mode("overwrite").save(dir) // seq 0: unpartitioned
    df.write.format(Fmt).mode("overwrite")
      .option("partition_by", "bucket").save(dir) // seq 1: partitioned
    val schema0 = TileFormat.readManifestVersion(dir, 0L).get.schema
    val pinned = new graft.sources.tiles.GraftTileTable(dir, schema0, Some(0L))
    assert(pinned.partitioning().isEmpty,
      "v0 was unpartitioned; the pin must not report the current partitioning")
    val cur = new graft.sources.tiles.GraftTileTable(dir,
      TileFormat.readManifest(dir).get.schema)
    assert(cur.partitioning().map(_.describe()).toSeq === Seq("bucket"))
  }

  test("RENAME/DROP COLUMN are metadata-only via field ids; dropped data never resurfaces") {
    val wh = tmp("tiles_spec_fid_wh")
    spark.conf.set("spark.sql.catalog.tfid",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tfid.warehouse", wh)
    val dir = s"$wh/db/t"
    import spark.implicits._
    spark.sql("CREATE TABLE tfid.db.t (k BIGINT, oldname BIGINT, junk DOUBLE)")
    Seq((1L, 10L, 0.5), (2L, 20L, 1.5)).toDF("k", "oldname", "junk")
      .coalesce(1).writeTo("tfid.db.t").append()
    val tilesBefore = TileFormat.readManifest(dir).get.tiles.map(_.file).toSet

    // RENAME: old tiles resolve the renamed column through their colIds
    spark.sql("ALTER TABLE tfid.db.t RENAME COLUMN oldname TO cust")
    assert(spark.sql("SELECT k, cust FROM tfid.db.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 10L), (2L, 20L)))
    // …and the re-keyed zone maps still PRUNE on the new name
    TileFormat.tilesOpened.set(0L)
    assert(spark.sql("SELECT count(*) FROM tfid.db.t WHERE cust > 1000")
      .head.getLong(0) === 0L)
    assert(TileFormat.tilesOpened.get() === 0L,
      "rename must re-key zone maps: the out-of-range probe should prune")

    // DROP: the column stops resolving; NO tile was rewritten
    spark.sql("ALTER TABLE tfid.db.t DROP COLUMN junk")
    intercept[Exception] { spark.sql("SELECT junk FROM tfid.db.t").collect() }
    assert(TileFormat.readManifest(dir).get.tiles.map(_.file).toSet === tilesBefore,
      "rename/drop must not rewrite tiles")

    // re-ADD the dropped name: fresh field id — old tiles read NULL, never
    // the dropped chunk's data
    spark.sql("ALTER TABLE tfid.db.t ADD COLUMN junk DOUBLE")
    assert(spark.sql("SELECT count(junk) FROM tfid.db.t").head.getLong(0) === 0L,
      "dropped data resurfaced under a re-added name")
    // new writes fill the re-added column; old rows stay null
    Seq((3L, 30L, 9.0)).toDF("k", "cust", "junk")
      .coalesce(1).writeTo("tfid.db.t").append()
    assert(spark.sql("SELECT k, cust, junk FROM tfid.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq ===
      Seq((1L, 10L, null), (2L, 20L, null), (3L, 30L, 9.0)))

    // mixed-era tiles agree through every path: DELETE under the renamed
    // column (id-mapped row-exact scan) and compaction (upgrade rewrite)
    spark.sql("DELETE FROM tfid.db.t WHERE cust = 20")
    graft.sources.tiles.GraftTileMaintenance.compact(
      dir, smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    assert(spark.sql("SELECT k, cust, junk FROM tfid.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq ===
      Seq((1L, 10L, null), (3L, 30L, 9.0)))

    // guards: partition column undroppable; last column undroppable
    intercept[Exception] {
      spark.sql("ALTER TABLE tfid.db.t DROP COLUMN k, cust, junk")
    }
    spark.sql("DROP TABLE tfid.db.t")
  }

  test("ALTER COLUMN TYPE widens INT -> BIGINT metadata-only; mixed-era tiles read exactly") {
    import spark.implicits._
    val wh = tmp("tiles_spec_widen_wh")
    spark.conf.set("spark.sql.catalog.twid",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.twid.warehouse", wh)
    spark.sql("DROP TABLE IF EXISTS twid.db.t")
    Seq((1, 10L), (2, 20L)).toDF("k", "v").coalesce(1)
      .writeTo("twid.db.t").using(Fmt).create()
    val before = TileFormat.readManifest(s"$wh/db/t").get

    spark.sql("ALTER TABLE twid.db.t ALTER COLUMN k TYPE BIGINT")
    val after = TileFormat.readManifest(s"$wh/db/t").get
    assert(after.schema("k").dataType === LongType)
    // metadata-only: same tile files, int chunks recorded as int
    assert(after.tiles.map(_.file) === before.tiles.map(_.file))
    assert(after.tiles.head.colTags ===
      Seq(TileFormat.TagInt, TileFormat.TagLong))

    // appends land with the widened schema; mixed-era reads are exact on
    // the vectorized full scan, the filtered row path, and agg pushdown
    Seq((3L, 30L)).toDF("k", "v").coalesce(1).writeTo("twid.db.t").append()
    assert(spark.sql("SELECT k, v FROM twid.db.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(spark.sql("SELECT v FROM twid.db.t WHERE k = 2").collect()
      .map(_.getLong(0)).toSeq === Seq(20L))
    assert(spark.sql("SELECT min(k), max(k), count(k) FROM twid.db.t").head ===
      org.apache.spark.sql.Row(1L, 3L, 3L))

    // DELETE under the widened column (row-exact over an int chunk), then
    // compaction upgrades old tiles to long chunks; still exact
    spark.sql("DELETE FROM twid.db.t WHERE k = 2")
    graft.sources.tiles.GraftTileMaintenance.compact(
      s"$wh/db/t", smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    val upgraded = TileFormat.readManifest(s"$wh/db/t").get
    assert(upgraded.tiles.forall(_.colTags ==
      Seq(TileFormat.TagLong, TileFormat.TagLong)))
    assert(spark.sql("SELECT k, v FROM twid.db.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (3L, 30L)))

    // anything but the INT -> BIGINT widening is rejected — narrowing by
    // Spark's own upcast analysis, other widenings by our guard (probed
    // through the catalog API since Spark admits e.g. LONG -> DOUBLE)
    intercept[Exception] {
      spark.sql("ALTER TABLE twid.db.t ALTER COLUMN v TYPE INT")
    }
    val cat = spark.sessionState.catalogManager.catalog("twid")
      .asInstanceOf[graft.sources.tiles.GraftTileCatalog]
    val e = intercept[IllegalArgumentException] {
      cat.alterTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "t"),
        org.apache.spark.sql.connector.catalog.TableChange.updateColumnType(
          Array("v"), org.apache.spark.sql.types.DoubleType))
    }
    assert(e.getMessage.contains("rewrite territory"), e.getMessage)
    spark.sql("DROP TABLE twid.db.t")
  }

  test("reported statistics shrink after pushdown (the broadcast-decision input)") {
    val dir = tmp("tiles_spec_stats")
    Tables(spark, sf001).orders
      .repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.format(Fmt).mode("overwrite").save(dir)
    val (_, sbAll) = scanBuilderFor(dir)
    val full = sbAll.build().asInstanceOf[GraftTileScan].estimateStatistics()
    val (_, sbCut) = scanBuilderFor(dir)
    sbCut.pushFilters(Array(LessThan("o_orderkey", java.lang.Long.valueOf(10L))))
    val cut = sbCut.build().asInstanceOf[GraftTileScan].estimateStatistics()
    assert(cut.sizeInBytes().getAsLong < full.sizeInBytes().getAsLong)
    assert(cut.numRows().getAsLong < full.numRows().getAsLong)
  }

  test("OPTIMIZE ZORDER BY: box queries prune tiles the unclustered layout could not") {
    val dir = tmp("tiles_spec_zorder")
    Tables(spark, sf001).lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"))
      .repartition(8) // unclustered: every tile spans ~the full key space
      .write.format(Fmt).mode("overwrite").option("target_tile_rows", "500").save(dir)
    val before = TileFormat.readManifest(dir).get
    assert(before.tiles.size >= 8, s"need many tiles, got ${before.tiles.size}")

    // box answer as order-independent exact values (count + decimal sum)
    def box(): (Long, java.math.BigDecimal) = {
      val r = spark.read.format(Fmt).load(dir)
        .filter(col("l_partkey").between(20L, 60L) &&
          col("l_suppkey").between(2L, 4L))
        .agg(count(lit(1)), sum(col("l_extendedprice").cast(DecimalType(18, 2))))
        .collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }
    def opened(f: () => Unit): Long = {
      val s0 = TileFormat.tilesOpened.get(); f(); TileFormat.tilesOpened.get() - s0
    }
    val preAnswer = box()
    assert(preAnswer._1 > 0L, "empty box — test data assumption broken")
    val preOpened = opened(() => box())

    val rep = graft.sources.tiles.GraftTileMaintenance.optimizeZOrder(
      spark, dir, "l_partkey", "l_suppkey", bits = 16, targetRows = 500L)
    val after = TileFormat.readManifest(dir).get
    assert(rep.tilesIn === before.tiles.size)
    assert(rep.rows === before.tiles.map(_.liveRows).sum)
    assert(after.generation === before.generation + 1L, "rewrite must bump generation")

    // the answer is identical through the rewrite…
    assert(box() === preAnswer)
    // …and the box now PRUNES: the unclustered layout opened every tile,
    // the z-ordered one opens only the tiles whose bounding box intersects
    val postOpened = opened(() => box())
    assert(preOpened >= before.tiles.size.toLong,
      s"expected no pruning pre-rewrite: $preOpened of ${before.tiles.size}")
    assert(postOpened * 2 <= after.tiles.size.toLong,
      s"z-order pruned too little: opened $postOpened of ${after.tiles.size} tiles")

    // replaced tiles are orphans: invisible, reclaimed by vacuum
    val removed = TileFormat.vacuumOrphans(dir)
    before.tiles.foreach(t => assert(removed.contains(t.file),
      s"pre-rewrite tile ${t.file} not reclaimed"))
    assert(box() === preAnswer)

    // the Hilbert curve variant: same answer, box still prunes
    val repH = graft.sources.tiles.GraftTileMaintenance.optimizeZOrder(
      spark, dir, "l_partkey", "l_suppkey", bits = 16, targetRows = 500L,
      curve = "hilbert")
    assert(repH.rows === rep.rows)
    assert(box() === preAnswer)
    val hilbertOpened = opened(() => box())
    assert(hilbertOpened * 2 <= TileFormat.readManifest(dir).get.tiles.size.toLong,
      s"hilbert clustering pruned too little: $hilbertOpened")
    intercept[IllegalArgumentException] {
      graft.sources.tiles.GraftTileMaintenance.optimizeZOrder(
        spark, dir, "l_partkey", "l_suppkey", curve = "peano")
    }
  }

  test("merge and z-order staging honor TBLPROPERTIES target_tile_rows; a per-call bound wins") {
    val wh = tmp("tiles_spec_tsize_wh")
    spark.conf.set("spark.sql.catalog.tsize",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tsize.warehouse", wh)
    spark.sql("DROP TABLE IF EXISTS tsize.db.t")
    spark.sql("""CREATE TABLE tsize.db.t (x BIGINT, y BIGINT, v STRING) USING `graft-tiles`
                |TBLPROPERTIES ('target_tile_rows'='40')""".stripMargin)
    val dir = s"$wh/db/t"
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .selectExpr("id AS x", "id % 17 AS y", "CAST(id AS STRING) AS v").coalesce(1)
    rows(0, 300).writeTo("tsize.db.t").append()
    val pre = TileFormat.readManifest(dir).get.tiles.map(_.file).toSet

    // merge stages its (single-partition) source under the table's bound
    graft.sources.tiles.GraftTileMaintenance.mergeUpsert(spark, dir, rows(1000, 1200), Seq("x"))
    val staged = TileFormat.readManifest(dir).get.tiles.filterNot(t => pre(t.file))
    assert(staged.map(_.rows).sum === 200L)
    assert(staged.forall(_.rows <= 40L), s"merge ignored target_tile_rows: ${staged.map(_.rows)}")

    // z-order with no per-call bound uses the table's
    graft.sources.tiles.GraftTileMaintenance.optimizeZOrder(spark, dir, "x", "y")
    val z = TileFormat.readManifest(dir).get.tiles
    assert(z.map(_.rows).sum === 500L)
    assert(z.forall(_.rows <= 40L), s"z-order ignored target_tile_rows: ${z.map(_.rows)}")

    // a per-call targetRows overrides the table's bound
    graft.sources.tiles.GraftTileMaintenance.optimizeZOrder(spark, dir, "x", "y",
      targetRows = 250L)
    val o = TileFormat.readManifest(dir).get.tiles
    assert(o.map(_.rows).sum === 500L)
    assert(o.forall(_.rows <= 250L) && o.exists(_.rows > 40L),
      s"per-call targetRows did not override the table's: ${o.map(_.rows)}")
    spark.sql("DROP TABLE tsize.db.t")
  }

  test("manifest column stats reach CBO: a join's build side flips with stats on vs off") {
    import spark.implicits._
    val dir1 = tmp("tiles_spec_cbo_fact")
    val dir2 = tmp("tiles_spec_cbo_other")
    // `a` spans 0..99, `b` spans 1000..1049: the zone maps PROVE a > b is
    // empty, but only COLUMN stats can tell the optimizer — the predicate
    // compares two columns, so it can never push down (V1 Filter API) and
    // never zone-prunes; the scan reports full size either way
    spark.range(0, 2000).select(col("id").as("k"),
      (col("id") % 100).as("a"), (lit(1000) + col("id") % 50).as("b"))
      .coalesce(2).write.format(Fmt).mode("overwrite").save(dir1)
    spark.range(0, 2000).select(col("id").as("k"),
      concat(lit("payload-"), col("id")).as("v"))
      .coalesce(2).write.format(Fmt).mode("overwrite").save(dir2)

    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "10240")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def planFor(statsOn: Boolean): String = {
        val t1 = spark.read.format(Fmt)
          .option("column_stats", statsOn.toString).load(dir1)
        val t2 = spark.read.format(Fmt)
          .option("column_stats", statsOn.toString).load(dir2)
        t1.filter(col("a") > col("b")).join(t2, "k")
          .queryExecution.executedPlan.toString
      }
      // stats ON: FilterEstimation sees disjoint [0,99] vs [1000,1049]
      // ranges → ~0 rows → the filtered side broadcasts
      val withStats = planFor(statsOn = true)
      assert(withStats.contains("BroadcastHashJoin"),
        s"column stats did not flip the join to broadcast:\n$withStats")
      // stats OFF: the filter is unestimable → full ~50KB on both sides,
      // over the 10KB threshold → shuffle join
      val noStats = planFor(statsOn = false)
      assert(!noStats.contains("BroadcastHashJoin"),
        s"expected a shuffle join without column stats:\n$noStats")

      // and the stats themselves are exact where the manifest is exact
      val t1Stats = spark.read.format(Fmt).load(dir1)
        .queryExecution.optimizedPlan.stats
      assert(t1Stats.attributeStats.nonEmpty, "no column stats surfaced to catalyst")
      val aStat = t1Stats.attributeStats.find(_._1.name == "a").map(_._2).get
      assert(aStat.min.contains(0L) && aStat.max.contains(99L), aStat.toString)
      assert(aStat.nullCount.contains(BigInt(0)), aStat.toString)
      assert(aStat.distinctCount.exists(_ <= BigInt(100)), aStat.toString)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("plain scans vectorize (ColumnarBatch); per-row shapes stay on the row path") {
    val dir = tmp("tiles_spec_columnar")
    val src = Tables(spark, sf001).orders
      .withColumn("k_int", col("o_orderkey").cast(IntegerType))
      .withColumn("k_date", to_date(col("o_orderdate")))
      .withColumn("k_bool", col("o_orderkey") % 2 === 0)
      .withColumn("k_null", when(col("o_orderkey") % 3 === 0, col("o_orderstatus")))
    src.write.format(Fmt).mode("overwrite").save(dir)

    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    // 1) full projection, no filter → the scan hands Spark ColumnarBatches
    //    (the plan inserts a ColumnarToRow transition above the BatchScan)
    val full = spark.read.format(Fmt).load(dir)
      .select("o_orderkey", "o_totalprice", "k_int", "k_date", "k_bool", "k_null")
    assert(planOf(full).contains("ColumnarToRow"),
      s"plain tile scan did not vectorize:\n${planOf(full)}")
    // value-faithful across every type incl. presence-byte nulls
    val expected = src.select("o_orderkey", "o_totalprice", "k_int", "k_date",
      "k_bool", "k_null")
    assert(full.exceptAll(expected).isEmpty && expected.exceptAll(full).isEmpty,
      "columnar read-back differs from the written frame")

    // 2) a pushed filter needs the row-exact re-check → row path
    val filtered = spark.read.format(Fmt).load(dir).filter(col("o_orderkey") < 100L)
    assert(!planOf(filtered).contains("ColumnarToRow"),
      s"filtered tile scan wrongly planned columnar:\n${planOf(filtered)}")
    assert(filtered.count() === expected.filter(col("o_orderkey") < 100L).count())

    // 3) schema evolution: a column added after the tiles were written
    //    null-fills in the vectorized path too
    spark.conf.set("spark.sql.catalog.tcol",
      classOf[graft.sources.tiles.GraftTileCatalog].getName)
    spark.conf.set("spark.sql.catalog.tcol.warehouse",
      new java.io.File(dir).getParent)
    val ident = new java.io.File(dir).getName
    spark.sql(s"ALTER TABLE tcol.`$ident` ADD COLUMN late_col DOUBLE")
    val evolved = spark.read.format(Fmt).load(dir).select("o_orderkey", "late_col")
    assert(planOf(evolved).contains("ColumnarToRow"))
    assert(evolved.filter(col("late_col").isNotNull).count() === 0L)
    assert(evolved.count() === expected.count())

    // 4) a deletion vector forces the row path (per-row masking)
    spark.sql(s"DELETE FROM tcol.`$ident` WHERE o_orderkey = 1")
    val afterDv = spark.read.format(Fmt).load(dir).select("o_orderkey")
    assert(!planOf(afterDv).contains("ColumnarToRow"),
      s"DV'd tile scan wrongly planned columnar:\n${planOf(afterDv)}")
    assert(afterDv.count() === expected.count() - 1)
  }
}

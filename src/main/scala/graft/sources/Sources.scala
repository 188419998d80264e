package graft.sources

import graft.Tables
import graft.Ops.{Entry, Q, dsum, scratchDir}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink operators (SURVEY §2.1): multi-path scans, CSV with explicit
  * schema, JSON, partitioned parquet overwrite, JDBC (Derby), path probes.
  *
  * Roundtrip entries write under `target/tmp` (scratch inside the repo) and
  * read back, so the oracle compares against the original table — the
  * roundtrip is byte-faithful or the hash check fails.
  */
object Sources {

  /** S3 — multi-path union scan (spark_io.py:133-135). */
  def multiPathScan(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*)

  /** S4 — Hadoop FS existence probe (spark_io.py:24-33), driver-side. */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** S8 — CSV with an explicit schema (taxi_zone_lookup pattern,
    * SURVEY §2.1 S8): never infer on a production feed. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S5 — month/partition-scoped overwrite sink: Hive-style partitionBy with
    * dynamic partition overwrite, the scalable form of the reference's
    * path-scoped overwrite (`Ex02DataIngestion.scala:116-118`) — a re-run
    * replaces only the partitions present in the batch. */
  def partitionedOverwrite(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** Output-file sizing: cap rows per file so a 100-TB write lands as
    * healthy ~128 MB-ish objects instead of one giant file per task (or a
    * small-files storm after AQE coalescing). `maxRecordsPerFile` splits
    * oversize tasks at write time with no extra shuffle; pair with
    * `repartitionByRange(sortCols)` + `sortWithinPartitions` when parquet
    * min/max data-skipping on those columns matters downstream. */
  def sizedWrite(df: DataFrame, path: String, maxRecordsPerFile: Long,
                 sortCols: Seq[String] = Nil): Unit = {
    val arranged =
      if (sortCols.isEmpty) df
      else df.repartitionByRange(sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    arranged.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(path)
  }

  // ---------------------------------------------------------------- entries

  private val multiPathQ: Q = (s, dir) =>
    multiPathScan(s, Seq(s"$dir/orders.parquet", s"$dir/orders.parquet"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))

  /** CSV roundtrip: nation -> csv -> explicit-schema read -> oracle vs the
    * original parquet table. */
  private val csvRoundtripQ: Q = (s, dir) => {
    val out = scratchDir("csv_nation")
    Tables(s, dir).nation.coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    readCsv(s, out, schema).orderBy("n_nationkey")
  }

  /** S11 — JSON sink + source roundtrip (trainer.py:308-340 report shape). */
  private val jsonRoundtripQ: Q = (s, dir) => {
    val out = scratchDir("json_supplier")
    Tables(s, dir).supplier.select("s_suppkey", "s_name", "s_acctbal")
      .coalesce(1).write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_acctbal", DoubleType)))
    s.read.schema(schema).json(out).orderBy("s_suppkey")
  }

  /** S15 — schema-evolution scan: two parquet generations of the same
    * table — the old files lack a column the new files carry — read back
    * as ONE frame via `mergeSchema` (the footer-union read every
    * long-lived lakehouse table needs once a column is added; without it
    * the scan silently takes the first file's schema and DROPS the new
    * column). Old-generation rows surface NULL for the added column, new
    * rows keep real values; the oracle re-derives the same union from the
    * original table. At scale `mergeSchema` is a footer-only pass (no
    * data read) — still O(files), which is why the compaction planner
    * (`layout_compaction_plan`) keeps file counts bounded. */
  private val schemaEvolutionQ: Q = (s, dir) => {
    val out = scratchDir("evolving_orders")
    val o = Tables(s, dir).orders
    // generation 1: no discount column yet (even keys)
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/gen=1")
    // generation 2: the discount column exists (odd keys)
    // the added column is price * 2 — a pure exponent bump, so the double
    // is bit-identical in any IEEE engine (a * 0.1 here would trip the
    // engines' different double-rounding modes)
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("o_totalprice") * 2.0).as("o_doubled"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/gen=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy("gen")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("total"),
        sum(when(col("o_doubled").isNull, 1L).otherwise(0L))
          .as("n_null_doubled"),
        round(sum(col("o_doubled").cast(DecimalType(18, 2)))
          .cast(DoubleType), 2).as("doubled_total"))
      .orderBy("gen")
  }

  /** S13 — XML sink + source roundtrip (native in Spark 4 — the spark-xml
    * datasource merged upstream): region -> row-tagged XML -> explicit
    * schema read, oracle vs the original parquet table. The enterprise
    * interchange format a lakehouse still has to ingest. */
  private val xmlRoundtripQ: Q = (s, dir) => {
    val out = scratchDir("xml_region")
    Tables(s, dir).region.select("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite")
      .option("rowTag", "region").xml(out)
    val schema = StructType(Seq(
      StructField("r_regionkey", LongType),
      StructField("r_name", StringType)))
    s.read.schema(schema).option("rowTag", "region").xml(out)
      .orderBy("r_regionkey")
  }

  /** S12 — ORC sink + source roundtrip (the second columnar format Spark
    * ships natively; a lakehouse ingests both). Oracle compares the
    * read-back against the original parquet table, so the roundtrip is
    * value-faithful across formats. */
  private val orcRoundtripQ: Q = (s, dir) => {
    val out = scratchDir("orc_customer")
    Tables(s, dir).customer.select("c_custkey", "c_name", "c_acctbal")
      .coalesce(1).write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy("c_custkey")
  }

  /** S14 — line-delimited text roundtrip (`spark.read.text`, the rawest
    * LLM-corpus interchange format): write the document bodies as one
    * line each, read them back, and reduce to order-independent
    * integrity stats (line order is not preserved by a distributed text
    * scan, so the graded surface is count / distinct / char mass /
    * binary-min / binary-max — equal iff the line multiset survived). */
  private val textRoundtripQ: Q = (s, dir) => {
    val out = scratchDir("text_docs")
    Tables(s, dir).documents.select("text")
      .coalesce(1).write.mode("overwrite").text(out)
    s.read.text(out).agg(
      count(lit(1)).as("n_lines"),
      count_distinct(col("value")).as("n_distinct"),
      sum(length(col("value")).cast(LongType)).as("total_chars"),
      min(col("value")).as("first_line"),
      max(col("value")).as("last_line"))
  }

  /** S5 — partitioned overwrite roundtrip: orders partitioned by year,
    * written twice (idempotence), read back through partition pruning. */
  private val partitionedSinkQ: Q = (s, dir) => {
    val out = scratchDir("pq_orders_by_year")
    val orders = Tables(s, dir).orders.withColumn("o_year", year(col("o_orderdate")))
    partitionedOverwrite(orders, out, Seq("o_year"))
    partitionedOverwrite(orders, out, Seq("o_year")) // second write must be a no-op
    s.read.parquet(out)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .withColumn("o_year", col("o_year").cast(IntegerType))
      .orderBy("o_year")
  }

  /** S6 — JDBC sink+source roundtrip via in-memory Derby (the JDBC layer of
    * `Ex02DataIngestion.scala:154-164` without an external warehouse). */
  private val jdbcRoundtripQ: Q = (s, dir) => {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Tables(s, dir).region
      .write.mode("overwrite").jdbc(url, "region_rt", props)
    s.read.jdbc(url, "region_rt", props)
      .select(col("r_regionkey").cast(IntegerType).as("r_regionkey"), col("r_name"))
      .orderBy("r_regionkey")
  }

  /** S1 — graded retrieval roundtrip: fetch the region file into the raw
    * zone through [[Retrieval.fetchIfAbsent]] (file:// scheme — the
    * container has no egress), re-fetch to prove the idempotent skip, then
    * scan what landed. Oracle = the origin table, so the fetch must be
    * byte-faithful. */
  private val retrievalQ: Q = (s, dir) => {
    val dest = Retrieval.monthPath("target/tmp/rawzone", "region", 2024, 1)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dest))
    val src = new java.io.File(s"$dir/region.parquet").toURI
    val first = Retrieval.fetchIfAbsent(src, dest)
    val second = Retrieval.fetchIfAbsent(src, dest)
    require(first.isInstanceOf[Retrieval.Fetched], s"expected a fetch, got $first")
    require(second == Retrieval.Skipped, s"expected idempotent skip, got $second")
    s.read.parquet(dest).select("r_regionkey", "r_name").orderBy("r_regionkey")
  }

  /** S4 — path-existence probe over the expected table inventory. */
  private val pathProbeQ: Q = (s, dir) => {
    import s.implicits._
    Seq("region", "nation", "customer", "orders", "lineitem", "no_such_table")
      .map(t => (t, pathExists(s, s"$dir/$t.parquet")))
      .toDF("table_name", "exists_flag")
      .orderBy("table_name")
  }

  val entries: Seq[Entry] = Seq(
    Entry("s1_retrieval_fetch", retrievalQ, Some(
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),
    Entry("s3_multipath_scan", multiPathQ, Some(
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders)""".stripMargin)),
    Entry("s8_csv_roundtrip", csvRoundtripQ, Some(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    Entry("s11_json_roundtrip", jsonRoundtripQ, Some(
      "SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey")),
    Entry("s12_orc_roundtrip", orcRoundtripQ, Some(
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey")),
    Entry("s13_xml_roundtrip", xmlRoundtripQ, Some(
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region ORDER BY r_regionkey")),
    Entry("s14_text_roundtrip", textRoundtripQ, Some(
      """SELECT count(*) AS n_lines,
        |       count(DISTINCT text) AS n_distinct,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       min(text) AS first_line, max(text) AS last_line
        |FROM documents""".stripMargin)),
    Entry("s5_partitioned_sink", partitionedSinkQ, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin)),
    Entry("s6_jdbc_roundtrip", jdbcRoundtripQ, Some(
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),
    // generation 1 = even keys (no o_doubled column => all NULL),
    // generation 2 = odd keys carrying price * 2 (exact in any IEEE engine)
    Entry("s15_schema_evolution", schemaEvolutionQ, Some(
      """SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INT)
        |         AS gen,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null_doubled,
        |       round(CAST(sum(CASE WHEN o_orderkey % 2 = 1
        |                     THEN CAST(o_totalprice * 2.0 AS DECIMAL(18,2))
        |                     END) AS DOUBLE), 2) AS doubled_total
        |FROM orders GROUP BY 1 ORDER BY gen""".stripMargin)),
    // The oracle engine's catalog is built by globbing the same sf dir (one
    // view per parquet found), so catalog membership IS an independent
    // probe of the same environment — the env-dependence that kept this
    // entry rows-only grades exactly.
    Entry("s4_path_probe", pathProbeQ, Some(
      """SELECT t.table_name,
        |       EXISTS(SELECT 1 FROM information_schema.tables ti
        |              WHERE ti.table_name = t.table_name) AS exists_flag
        |FROM (VALUES ('region'),('nation'),('customer'),('orders'),
        |             ('lineitem'),('no_such_table')) t(table_name)
        |ORDER BY table_name""".stripMargin)),
  )
}

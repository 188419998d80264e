package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

class TaxiMonthSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("taxi-month").toString
  private val plan = TaxiMonth.plan(20000)

  override def beforeAll(): Unit = spark = GraftSession.local(2, 2, "perfbench-test")
  override def afterAll(): Unit = { spark.stop(); Dirs.delete(dir) }

  private def bytes(path: String): Seq[Seq[Byte]] =
    Dirs.parquetFiles(path).map(f => Files.readAllBytes(f.toPath).toSeq)

  test("the same seed writes byte-identical raw parquet") {
    TaxiMonth.write(spark, 7, plan, 2, s"$dir/a")
    TaxiMonth.write(spark, 7, plan, 2, s"$dir/b")
    assert(bytes(s"$dir/a").nonEmpty)
    assert(bytes(s"$dir/a") == bytes(s"$dir/b"))
  }

  test("cleaning keeps exactly the planted clean rows, whatever the seed") {
    for (seed <- Seq(1L, 2L, 99L)) {
      val path = s"$dir/seed$seed"
      TaxiMonth.write(spark, seed, plan, 2, path)
      val raw = spark.read.parquet(path)
      assert(raw.count() == plan.rows)
      val clean = graft.operators.Cleaning.nullGuards(
        graft.operators.Cleaning.monthWindow(
          graft.operators.Cleaning.castProjection(raw, TaxiMonth.casts),
          "tpep_pickup_datetime", TaxiMonth.Year, TaxiMonth.Month),
        requiredNonNull = Seq("tpep_dropoff_datetime", "PULocationID", "DOLocationID"),
        nonNegative = Seq("trip_distance", "total_amount"),
        keepNullable = Seq("passenger_count"))
      assert(clean.count() == plan.kept, s"seed $seed")
      assert(clean.filter("passenger_count IS NULL").count() > 0, "ingest keeps null passenger_count")
    }
    assert(plan.dirty.toDouble / plan.rows == 0.025)
  }

  test("one DAG pass meets every output check") {
    Main.probe = new Probe
    spark.sparkContext.addSparkListener(Main.probe)
    val dag = new TaxiMonthDag(5, plan.rows, 2, new Trace(Main.probe, spark.sparkContext), s"$dir/dag")
    dag.prepare(spark)
    val pass = dag.pass(spark, 1)
    assert(pass.ops.forall(_.failed.isEmpty), pass.ops.flatMap(_.failed))
    assert(pass.layer("cleaning.retention") == plan.kept.toDouble / plan.rows)
    assert(pass.layer("warehouse.fact_rows") == plan.factRows)
    assert(pass.layer("warehouse.rerun_appended_rows") == 0)
    spark.sparkContext.removeSparkListener(Main.probe)
  }
}

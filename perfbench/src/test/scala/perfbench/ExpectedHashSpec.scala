package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The benchmark's expected results are the engine's committed,
  * DuckDB-graded sf0.01 summary, and the benchmark reproduces them. */
class ExpectedHashSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val entries = Main.DashboardEntries ++ Main.CurationEntries

  override def beforeAll(): Unit = spark = GraftSession.local(2, 2, "perfbench-test")
  override def afterAll(): Unit = spark.stop()

  private def load(path: String, under: Option[String]): Map[String, (Long, String)] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    val node = under.map(root.get).getOrElse(root)
    entries.filter(e => node.has(e)).map { e =>
      e -> (node.get(e).get("rows").asLong(), node.get(e).get("hash").asText())
    }.toMap
  }

  test("expected hashes are the committed sf0.01 twin's") {
    val twin = load("../verify_baselines/sf0.01.json", Some("entries"))
    val mine = load(Main.ExpectedFile, None)
    assert(mine.keySet == entries.toSet)
    assert(mine == twin)
  }

  test("every benchmark entry reproduces its expected hash on the bundled sf0.01 data") {
    val want = load(Main.ExpectedFile, None)
    val dir = new java.io.File(Main.DataDir).getAbsolutePath
    for (e <- entries) {
      val df = graft.SparkEntry.queries(e)(spark, dir)
      val rows = df.collect()
      assert((rows.length.toLong, ResultHash(df.schema, rows)) == want(e), e)
    }
  }
}

package graft.cli

import graft.{GraftSession, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: measured recall@10 of each graded ANN variant against the
  * exact twin on a given sf dir — the numbers the entry scaladocs and
  * recall floors cite. Usage: `runMain graft.cli.RecallProbe <sfDir>`. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(32, 32)
    val e = Tables(spark, sfDir).embeddings
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
    def recall(name: String, approx: DataFrame): Unit = {
      val nExact = exact.count()
      val overlap = approx.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
      println(f"[recall] $name%-24s ${overlap.toDouble / nExact}%.3f ($overlap/$nExact)")
    }
    recall("ivfpq_flat",
      Similarity.cosineTopKIvfPq(e, q, "vec_id", "embedding", 10))
    recall("ivfpq_residual",
      Similarity.cosineTopKIvfPqResidual(e, q, "vec_id", "embedding", 10))
    recall("pq_flat",
      Similarity.cosineTopKPq(e, q, "vec_id", "embedding", 10))
    graft.QuietShutdown(spark)
  }
}

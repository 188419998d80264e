package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DecSum128, GraftContainsAny, GraftDot, GraftPqCode, GraftPqEncode, GraftPqTable, GraftJaroWinkler, GraftPqAdc, GraftRollingHash, GraftShingles, GraftSimHash, GraftSqDistDec, GraftVocabHits, MinHashAgg, PercentileAgg, TopKAgg}

/** SparkSessionExtensions entry point and the only way the engine's
  * native surface gets into a session: the `graft_*` functions, the as-of
  * join planner strategy and the HOF dot / vocab-count optimizer rules.
  * Every [[GraftSession]] session installs it through
  * [[GraftSession.baseConf]]; a session built any other way needs
  * `--conf spark.sql.extensions=graft.GraftExtensions`, or its graft
  * queries fail at analysis with an unresolved-routine error. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    // tier (c): the native as-of join operator (AsOfJoinPlan -> AsOfJoinExec)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // Rule[LogicalPlan]: HOF dot-product / vocab-count shapes silently
    // upgrade to the native kernels
    e.injectOptimizerRule(_ => graft.plans.NativeDotRule)
    e.injectOptimizerRule(_ => graft.plans.NativeVocabHitsRule)
  }
}

object GraftExtensions {
  /** Every native function: SQL name, expression class, builder. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_minhash", classOf[MinHashAgg], MinHashAgg.builder),
    ("graft_dot", classOf[GraftDot], GraftDot.builder),
    ("graft_simhash", classOf[GraftSimHash], GraftSimHash.builder),
    ("graft_rolling_hash", classOf[GraftRollingHash], GraftRollingHash.builder),
    ("graft_shingles", classOf[GraftShingles], GraftShingles.builder),
    ("graft_vocab_hits", classOf[GraftVocabHits], GraftVocabHits.builder),
    ("graft_jaro_winkler", classOf[GraftJaroWinkler], GraftJaroWinkler.builder),
    ("graft_pq_adc", classOf[GraftPqAdc], GraftPqAdc.builder),
    ("graft_topk", classOf[TopKAgg], TopKAgg.builder),
    ("graft_dec_sum", classOf[DecSum128], DecSum128.builder),
    ("graft_percentile", classOf[PercentileAgg], PercentileAgg.builder),
    ("graft_pq_encode", classOf[GraftPqEncode], GraftPqCode.encodeBuilder),
    ("graft_pq_table", classOf[GraftPqTable], GraftPqCode.tableBuilder),
    ("graft_sqdist_dec", classOf[GraftSqDistDec], GraftSqDistDec.builder),
    ("graft_contains_any", classOf[GraftContainsAny], GraftContainsAny.builder),
  )
}

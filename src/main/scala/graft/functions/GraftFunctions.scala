package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for the native expressions: register once, then call
  * from `spark.sql` like any built-in. Two seams:
  *  - [[GraftFunctions.register]] on a live session, or
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` at build
  *    time (the library-injection path).
  */
object GraftFunctions {

  private def intArg(e: Expression): Int =
    e.asInstanceOf[Literal].value.asInstanceOf[Number].intValue()

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_simhash64" -> ((es: Seq[Expression]) => SimHash64(es.head)),
    "graft_word_ngrams" -> ((es: Seq[Expression]) =>
      WordNgrams(es(0), intArg(es(1)))),
    "graft_minhash_sig" -> ((es: Seq[Expression]) =>
      MinHashSig(es(0), intArg(es(1)))),
    "graft_dot" -> ((es: Seq[Expression]) => DotProduct(es(0), es(1))),
    "graft_lsh_postings" -> ((es: Seq[Expression]) =>
      LshPostings(es(0), intArg(es(1)), intArg(es(2)))),
    "graft_vec_abs_max" -> ((es: Seq[Expression]) => VecAbsMax(es.head)),
    "graft_quantize_i8" -> ((es: Seq[Expression]) => QuantizeI8(es(0), es(1))),
    "graft_dot_i8" -> ((es: Seq[Expression]) => DotI8(es(0), es(1))),
    "graft_recent_topk" -> ((es: Seq[Expression]) =>
      RecentTopK(es(0), es(1), es(2), intArg(es(3)))),
    "graft_bloom_agg" -> ((es: Seq[Expression]) =>
      BloomAgg(es(0), intArg(es(1)), intArg(es(2)))),
    "graft_might_contain" -> ((es: Seq[Expression]) =>
      BloomMightContain(es(0), es(1))),
    "graft_cm_agg" -> ((es: Seq[Expression]) =>
      CountMinAgg(es(0), intArg(es(1)), intArg(es(2)))),
    "graft_cm_estimate" -> ((es: Seq[Expression]) =>
      CountMinEstimate(es(0), es(1))),
    "graft_uniq_up_to" -> ((es: Seq[Expression]) =>
      UniqUpToAgg(es(0), intArg(es(1)))),
    "graft_zorder" -> ((es: Seq[Expression]) => ZOrder(es(0), es(1))))

  def register(spark: SparkSession): Unit = all.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
  }
}

/** `SparkSessionExtensions` hook (spark.sql.extensions config):
  * native expressions as SQL functions, plus the DML parser shim for
  * graft-versioned tables (`DELETE FROM` / `MERGE INTO` on names
  * registered via [[graft.sources.VersionedSqlTables.register]];
  * everything else delegates to Spark's parser verbatim). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    ext.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(session, delegate))
    // transparent rollup selection (CH PROJECTIONs): post-hoc
    // resolution so matching happens on the plan exactly as written,
    // before pruning reshapes it
    ext.injectPostHocResolutionRule(session =>
      new graft.plans.RollupRewrite.RewriteRule(session))
  }
}

package graft

/** Dump formatted physical plans for the headline queries (plan
  * hygiene: pushdown, broadcast, partial agg, codegen spans). */
object Explain {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "q_leaderboard", "q_positions",
        "q_candles_1m", "q_token_trades", "q_market_stats")
    val spark = GraftSession.local()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

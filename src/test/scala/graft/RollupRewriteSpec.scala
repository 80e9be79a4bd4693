package graft

import graft.model.Tables
import graft.operators.Leaderboard
import graft.plans.RollupRewrite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Transparent rollup selection (§2 #189): a registered
  * (source, rollup) pair rewrites matching aggregates onto the
  * rollup at plan level — the query keeps naming the source. */
class RollupRewriteSpec extends SparkSpec {

  private def wt: DataFrame = Leaderboard.walletTrades(Tables.trades(spark, sf))
  private lazy val flows = Leaderboard.walletTokenFlows(wt)
  private lazy val rule = new RollupRewrite.RewriteRule(spark)

  private def registered: Unit = {
    RollupRewrite.clear(spark)
    RollupRewrite.register(spark, wt, flows,
      dims = Seq((col("wallet"), "wallet"), (col("token_id"), "token_id")),
      sums = Seq(
        (when(col("side") === "buy", col("qty")).otherwise(lit(0.0)), "buy_qty"),
        (when(col("side") === "sell", col("qty")).otherwise(lit(0.0)), "sell_qty"),
        (when(col("side") === "buy", round(col("usd") * 10000).cast("long"))
          .otherwise(0L), "bi")),
      countCol = Some("trades"))
  }

  private def rewritten(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    registered
    rule(df.queryExecution.analyzed)
  }

  test("a matching aggregate rewrites onto the rollup and returns identical rows") {
    // a FRESH construction of the source (new exprIds) — canonical
    // plan equality must still recognize it
    val q = wt.groupBy(col("wallet"))
      .agg(sum(when(col("side") === "buy", col("qty")).otherwise(lit(0.0)))
        .as("buy_qty"),
        count(lit(1)).as("trades"))
    val plan = rewritten(q)
    // the rewritten tree aggregates over the ROLLUP's plan, not the explode
    assert(plan.exists(_.canonicalized == flows.queryExecution.analyzed.canonicalized),
      "rollup plan not found in the rewrite")
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.length == 2, "outer re-aggregation over the rollup's aggregate")
    val got = ColumnBridge.ofRows(spark, plan)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val want = q.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == want, "rewritten result must be row-identical")
    assert(got.nonEmpty)
  }

  test("scaled-long money partials rewrite too; grouping on both dims") {
    val q = wt.groupBy(col("wallet"), col("token_id"))
      .agg(sum(when(col("side") === "buy", round(col("usd") * 10000)
        .cast("long")).otherwise(0L)).as("bi"))
    val plan = rewritten(q)
    assert(plan.exists(_.canonicalized == flows.queryExecution.analyzed.canonicalized))
    val got = ColumnBridge.ofRows(spark, plan).agg(sum("bi")).head().getLong(0)
    assert(got == q.agg(sum("bi")).head().getLong(0))
  }

  test("min/max partials rewrite from a dedicated rollup") {
    RollupRewrite.clear(spark)
    val src = wt
    val mm = src.groupBy(col("token_id"))
      .agg(min(col("qty")).as("mn"), max(col("qty")).as("mx"),
        count(lit(1)).as("n"))
    RollupRewrite.register(spark, src, mm,
      dims = Seq((col("token_id"), "token_id")),
      sums = Nil, countCol = Some("n"),
      mins = Seq((col("qty"), "mn")), maxs = Seq((col("qty"), "mx")))
    val q = wt.groupBy(col("token_id"))
      .agg(min(col("qty")).as("lo"), max(col("qty")).as("hi"))
    val plan = rule(q.queryExecution.analyzed)
    assert(plan.exists(_.canonicalized == mm.queryExecution.analyzed.canonicalized),
      "min/max rollup plan not found in the rewrite")
    val got = ColumnBridge.ofRows(spark, plan)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == q.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet)
  }

  test("derived grouping keys (date_trunc) rewrite via expression-matched dims") {
    RollupRewrite.clear(spark)
    val src = Tables.trades(spark, sf)
    val day = date_trunc("day", col("ts"))
    val roll = src.groupBy(col("token_id"), day.as("day"))
      .agg(sum(round(col("usd") * 10000).cast("long")).as("ui"),
        count(lit(1)).as("n"))
    RollupRewrite.register(spark, src, roll,
      dims = Seq((col("token_id"), "token_id"), (day, "day")),
      sums = Seq((round(col("usd") * 10000).cast("long"), "ui")),
      countCol = Some("n"))
    val q = src.groupBy(col("token_id"), day.as("day"))
      .agg(sum(round(col("usd") * 10000).cast("long")).as("ui"),
        count(lit(1)).as("trades"))
    val plan = rule(q.queryExecution.analyzed)
    assert(plan.exists(_.canonicalized == roll.queryExecution.analyzed.canonicalized),
      "derived-dim rollup plan not found in the rewrite")
    val got = ColumnBridge.ofRows(spark, plan)
      .agg(sum("ui"), sum("trades")).head()
    assert(got == q.agg(sum("ui"), sum("trades")).head())
  }

  test("exact grain (grouping = ALL dims) rewrites to a PROJECT, no re-agg") {
    registered
    val q = wt.groupBy(col("wallet"), col("token_id"))
      .agg(sum(when(col("side") === "buy", col("qty")).otherwise(lit(0.0)))
        .as("buy_qty"),
        count(lit(1)).as("trades"))
    val plan = rule(q.queryExecution.analyzed)
    assert(plan.exists(_.canonicalized == flows.queryExecution.analyzed.canonicalized))
    // the rollup row IS the group: no Aggregate above the rollup plan
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.length == 1,
      s"exact-grain rewrite must not re-aggregate (found ${aggs.length} " +
        "Aggregates; 1 = the rollup's own)")
    val got = ColumnBridge.ofRows(spark, plan)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val want = q.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getLong(3))).toSet
    assert(got == want, "exact-grain projection must be row-identical")
    assert(got.nonEmpty)
  }

  test("global (ungrouped) count over an empty source rewrites to 0, not NULL") {
    RollupRewrite.clear(spark)
    val src = wt.filter(col("qty") < 0) // provably empty
    val roll = src.groupBy(col("wallet")).agg(count(lit(1)).as("n"))
    RollupRewrite.register(spark, src, roll,
      dims = Seq((col("wallet"), "wallet")), sums = Nil,
      countCol = Some("n"))
    val q = src.agg(count(lit(1)).as("n"))
    val plan = rule(q.queryExecution.analyzed)
    assert(plan != q.queryExecution.analyzed, "global count must rewrite")
    assert(plan.exists(_.canonicalized == roll.queryExecution.analyzed.canonicalized))
    val row = ColumnBridge.ofRows(spark, plan).head()
    assert(!row.isNullAt(0) && row.getLong(0) == 0L,
      s"coalesce-wrapped global count must be 0, got $row")
  }

  test("count(NULL) never rewrites to the row count") {
    registered
    val q = wt.groupBy(col("wallet")).agg(count(lit(null)).as("n"))
    assert(rule(q.queryExecution.analyzed) == q.queryExecution.analyzed,
      "count(<null literal>) must stay unrewritten — it counts 0, not rows")
  }

  test("non-answerable shapes stay untouched") {
    registered
    // an aggregate the rollup has no partial for
    val avgQ = wt.groupBy(col("wallet")).agg(avg(col("qty")).as("a"))
    assert(rule(avgQ.queryExecution.analyzed) == avgQ.queryExecution.analyzed,
      "avg() must not rewrite")
    // grouping outside the rollup's dims
    val sideQ = wt.groupBy(col("side")).agg(count(lit(1)).as("n"))
    assert(rule(sideQ.queryExecution.analyzed) == sideQ.queryExecution.analyzed,
      "non-dim grouping must not rewrite")
    // a different source entirely
    val other = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    assert(rule(other.queryExecution.analyzed) == other.queryExecution.analyzed,
      "unregistered source must not rewrite")
    // DISTINCT aggregates are not answerable from sum partials
    val dQ = wt.groupBy(col("wallet")).agg(countDistinct(col("token_id")).as("n"))
    assert(rule(dQ.queryExecution.analyzed) == dQ.queryExecution.analyzed,
      "count(DISTINCT) must not rewrite")
  }

  test("register rejects dims that are a subset of the rollup's grain") {
    // flows groups by (wallet, token_id); registering only wallet would
    // let the exact-grain Project path return finer-grain duplicate
    // rows — register must fail loudly instead (ADVICE r15)
    RollupRewrite.clear(spark)
    val e = intercept[IllegalArgumentException] {
      RollupRewrite.register(spark, wt, flows,
        dims = Seq((col("wallet"), "wallet")),
        sums = Seq((when(col("side") === "buy", col("qty"))
          .otherwise(lit(0.0)), "buy_qty")),
        countCol = Some("trades"))
    }
    assert(e.getMessage.contains("registered dims"))
    RollupRewrite.clear(spark)
  }

  test("colliding output names cannot mis-map a dim (expression-keyed lookup)") {
    // group by token_id but ALIAS the output "wallet" — a name-keyed
    // dim translation would map it onto the rollup's wallet column and
    // return wallet-grain rows under a token_id-shaped contract;
    // expression identity must map it to token_id regardless of name
    val q = wt.groupBy(col("token_id").as("wallet"))
      .agg(count(lit(1)).as("trades"))
    val plan = rewritten(q)
    assert(plan.exists(_.canonicalized ==
        flows.queryExecution.analyzed.canonicalized),
      "rewrite must fire on the aliased grouping key")
    val got = ColumnBridge.ofRows(spark, plan)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = wt.groupBy(col("token_id")).agg(count(lit(1)).as("trades"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      "aliased-dim rewrite must return token_id-grain rows, not wallet's")
    assert(got.nonEmpty)
  }

  test("a stream-MAINTAINED rollup serves the rewrite from the latest " +
      "committed snapshot; batch ≡ stream (VERDICT r15 #7)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    RollupRewrite.clear(spark)
    val dir = tempDir("graft_srollup").toFile
    val path = new java.io.File(dir, "flows").getAbsolutePath

    // the batch plan queries will NAME; the stream delivers the same
    // rows (narrow double-typed projection so tuples encode cleanly)
    val src = wt.select(col("wallet"), col("token_id"),
      col("qty").cast("double").as("qty"), col("side"))
    val rows = src.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val in = MemoryStream[(Long, Long, Double, String)]
    val stream = in.toDF().toDF("wallet", "token_id", "qty", "side")

    val buyQty = when(col("side") === "buy", col("qty")).otherwise(lit(0.0))
    val sq = graft.streaming.StreamingRollup.maintain(stream, src, path,
      dims = Seq((col("wallet"), "wallet"), (col("token_id"), "token_id")),
      sums = Seq((buyQty, "buy_qty")),
      countCol = Some("trades"))
    try {
      val q = src.groupBy(col("wallet"))
        .agg(sum(buyQty).as("buy_qty"), count(lit(1)).as("trades"))
      def served(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        ColumnBridge.ofRows(spark, plan).collect()
          .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100), r.getLong(2)))
          .toSet

      // ---- batch 0: half the rows — freshness = committed state ----
      val (h1, h2) = rows.splitAt(rows.length / 2)
      in.addData(h1.toSeq: _*); sq.processAllAvailable()
      val plan1 = rule(q.queryExecution.analyzed)
      assert(plan1 != q.queryExecution.analyzed,
        "rewrite must fire mid-stream, off the first committed snapshot")
      val want1 = spark.createDataset(h1.toSeq)
        .toDF("wallet", "token_id", "qty", "side")
        .groupBy(col("wallet"))
        .agg(sum(buyQty).as("buy_qty"), count(lit(1)).as("trades"))
        .collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100), r.getLong(2)))
        .toSet
      assert(served(plan1) == want1,
        "mid-stream the rewrite must serve exactly the ingested-so-far " +
          "aggregate (ClickHouse's ingest-maintained freshness contract)")

      // ---- batch 1: the rest — stale snapshot must be REPLACED ----
      in.addData(h2.toSeq: _*); sq.processAllAvailable()
      val plan2 = rule(q.queryExecution.analyzed)
      assert(plan2 != q.queryExecution.analyzed)
      val wantAll = q.collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100), r.getLong(2)))
        .toSet
      assert(served(plan2) == wantAll,
        "after the last batch the rewrite must equal the batch " +
          "aggregate — a stale snapshot kept serving")
      assert(wantAll.nonEmpty)

      // ---- exact grain over a STORED table: aggregation-free ----
      val q2 = src.groupBy(col("wallet"), col("token_id"))
        .agg(sum(buyQty).as("buy_qty"), count(lit(1)).as("trades"))
      val plan3 = rule(q2.queryExecution.analyzed)
      assert(plan3 != q2.queryExecution.analyzed)
      assert(plan3.collect { case a: Aggregate => a }.isEmpty,
        "exact-grain query over the streamed table must plan as a " +
          "Project (each table row IS one group)")
      val got3 = ColumnBridge.ofRows(spark, plan3).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 100), r.getLong(3))).toSet
      val want3 = q2.collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 100), r.getLong(3))).toSet
      assert(got3 == want3)
    } finally {
      sq.stop()
      RollupRewrite.clear(spark)
    }
  }

  test("session rollups register once per session; a cleared session " +
       "registers again") {
    RollupRewrite.clear(spark)
    val before = SparkEntry.rollupRegistrations.get()
    SparkEntry.queries("q_lb_explain")(spark, sf)
    SparkEntry.queries("q_lb_explain")(spark, sf)
    assert(SparkEntry.rollupRegistrations.get() - before == 1)
    RollupRewrite.clear(spark)
    // q_lb_explain's rolledUp requires the rule to fire: it builds only
    // if the cleared session registered its rollups again
    SparkEntry.queries("q_lb_explain")(spark, sf)
    assert(SparkEntry.rollupRegistrations.get() - before == 2)
    RollupRewrite.clear(spark)
  }
}

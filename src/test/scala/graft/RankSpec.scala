package graft

import graft.model.Tables
import graft.operators.Rank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank.globalRowNumber must agree exactly with the single-partition
  * window it replaces, and its ntile/percent_rank arithmetic with
  * Spark's own window functions — on real (skewed, tied) volume data.
  *
  * Cached-input cases are load-bearing: the r8 implementation derived
  * offsets from a second evaluation of a sampled range shuffle and
  * silently mis-ranked whenever the input was an InMemoryRelation
  * (AQE does not reuse the exchange there) AND large enough that the
  * range sampler actually sampled. The operators are now
  * value-deterministic; these tests pin that on a persisted input at
  * a row count where the old design demonstrably broke.
  */
class RankSpec extends SparkSpec {

  private def vol = {
    val wt = graft.operators.Leaderboard.walletTrades(
      Tables.trades(spark, sf))
    wt.groupBy(col("wallet"))
      .agg(sum(col("usd")).cast("double").as("volume_usd"))
  }

  private def volBucket = -Rank.monotoneBucket(col("volume_usd"))
  private def volSort = Seq(col("volume_usd").desc, col("wallet"))

  test("globalRowNumber equals the window row_number, no unpartitioned window") {
    val got = Rank.globalRowNumber(vol, volBucket, volSort, "rank", "total")
    val w = Window.orderBy(volSort: _*)
    val want = vol.select(col("wallet"),
      row_number().over(w).cast("long").as("rank"))
    val joined = got.select(col("wallet"), col("rank"))
      .join(want.withColumnRenamed("rank", "want_rank"), Seq("wallet"))
    assert(joined.filter(col("rank") =!= col("want_rank")).isEmpty,
      "distributed rank must equal the global window rank")
    // the point of the operator: no single-partition WindowExec
    import org.apache.spark.sql.execution.window.WindowExec
    val unpart = got.queryExecution.sparkPlan.collect {
      case x: WindowExec if x.partitionSpec.isEmpty => x
    }
    assert(unpart.isEmpty, "Rank must not plan an unpartitioned window")
    // total is the row count on every row
    assert(got.filter(col("total") =!= vol.count()).isEmpty)
  }

  test("ntile/percent_rank arithmetic matches Spark's window functions") {
    val got = Rank.globalRowNumber(vol, volBucket, volSort, "rank", "total")
      .select(col("wallet"),
        Rank.ntileFromRank(col("rank"), col("total"), 10).as("decile"),
        Rank.percentRankFromRank(col("rank"), col("total")).as("pr"))
    val w = Window.orderBy(volSort: _*)
    val want = vol.select(col("wallet"),
      ntile(10).over(w).as("want_decile"),
      percent_rank().over(w).as("want_pr"))
    val joined = got.join(want, Seq("wallet"))
    assert(joined.filter(col("decile") =!= col("want_decile")).isEmpty,
      "ntile formula must match larger-groups-first semantics")
    assert(joined.filter(abs(col("pr") - col("want_pr")) > 1e-12).isEmpty,
      "percent_rank formula must match")
  }

  test("globalRowNumber is exact on a persisted per-row input (r8 bug class)") {
    // per-ROW ranking over the two-sided trade view (~120k rows at
    // sf0.001): large enough that the old sampled-range design broke
    // on cached input; the key (usd desc, trade_id, role) is a total
    // order so ranks are fully determined
    // uniquify (trade_id, role) — the synthetic data duplicates
    // l_linenumber within an order, so raw trade_ids collide and a
    // per-row oracle join would be ambiguous
    val wt = graft.operators.Leaderboard.walletTrades(
      Tables.trades(spark, sf))
      .groupBy(col("trade_id"), col("role"))
      .agg(max(col("usd").cast("double")).as("usd"))
      .persist()
    try {
      val sort = Seq(col("usd").desc, col("trade_id"), col("role"))
      val got = Rank.globalRowNumber(wt, -Rank.monotoneBucket(col("usd")),
        sort, "rank", "total")
      val want = wt.select(col("trade_id"), col("role"),
        row_number().over(Window.orderBy(sort: _*)).cast("long").as("want_rank"))
      val joined = got.join(want, Seq("trade_id", "role"))
      assert(joined.count() == wt.count())
      assert(joined.filter(col("rank") =!= col("want_rank")).isEmpty,
        "ranks must be exact over a cached input")
    } finally { wt.unpersist(): Unit }
  }

  test("groupedQuantiles is bit-identical to percentile(), cached input") {
    // Views.trades is the session-persisted MV — exactly the input
    // shape that broke the r8 range-based design
    val wt = graft.operators.Leaderboard.walletTrades(
      graft.model.Views.trades(spark, sf))
    // group by token_id%7: multiple groups, ties, skewed sizes
    val t = wt.withColumn("g", (col("token_id") % 7).cast("string"))
    val got = Rank.groupedQuantiles(t, "g", col("qty"),
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99), countName = "n")
    val want = t.groupBy(col("g")).agg(
      count(col("qty")).as("wn"),
      expr("percentile(CAST(qty AS DOUBLE), 0.5)").as("w50"),
      expr("percentile(CAST(qty AS DOUBLE), 0.9)").as("w90"),
      expr("percentile(CAST(qty AS DOUBLE), 0.99)").as("w99"))
    val j = got.join(want, Seq("g"))
    assert(j.count() == 7)
    // exact ===, not a tolerance: the interpolation expression is
    // Percentile.getPercentile verbatim, so doubles must match bitwise
    assert(j.filter(col("n") =!= col("wn") || col("p50") =!= col("w50") ||
      col("p90") =!= col("w90") || col("p99") =!= col("w99")).isEmpty,
      "rank-arithmetic quantiles must equal percentile() exactly")
  }

  test("groupedQuantiles matches percentile() on a continuous column too") {
    val wt = graft.operators.Leaderboard.walletTrades(
      graft.model.Views.trades(spark, sf))
    val t = wt.withColumn("g", (col("token_id") % 3).cast("string"))
    val got = Rank.groupedQuantiles(t, "g", col("usd"),
      Seq("p50" -> 0.5, "p95" -> 0.95), countName = "n")
    val want = t.groupBy(col("g")).agg(
      expr("percentile(CAST(usd AS DOUBLE), 0.5)").as("w50"),
      expr("percentile(CAST(usd AS DOUBLE), 0.95)").as("w95"))
    val j = got.join(want, Seq("g"))
    assert(j.count() == 3)
    assert(j.filter(col("p50") =!= col("w50") || col("p95") =!= col("w95"))
      .isEmpty)
  }

  test("groupedQuantiles handles single-row and single-value groups") {
    import spark.implicits._
    val tiny = Seq(("a", 5.0), ("b", 1.0), ("b", 1.0), ("b", 1.0),
      ("c", 1.0), ("c", 2.0)).toDF("g", "v")
    val got = Rank.groupedQuantiles(tiny, "g", col("v"),
      Seq("p50" -> 0.5), countName = "n").orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("a", 1L, 5.0), ("b", 3L, 1.0), ("c", 2L, 1.5)))
  }

  test("groupedQuantiles ignores nulls; all-null groups are dropped") {
    import spark.implicits._
    val df = Seq[(String, Option[Double])](
      ("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", None), ("b", None)).toDF("g", "v")
    val got = Rank.groupedQuantiles(df, "g", col("v"),
      Seq("p50" -> 0.5), countName = "n").orderBy("g").collect()
    // like percentile(): nulls don't count; a group with NO non-null
    // values has no order statistics and is absent (the aggregate
    // form would emit (b, 0, null) — callers needing that row should
    // left-join group totals)
    assert(got.length == 1)
    assert((got(0).getString(0), got(0).getLong(1), got(0).getDouble(2))
      == ("a", 2L, 2.0))
  }

  test("globalRowNumber ranks null and NaN metrics like the window (sentinel buckets)") {
    import spark.implicits._
    // ascending: nulls first, NaN greatest — the sentinel buckets must
    // agree or the offsets equi-join drops/misranks these rows
    val df = Seq(("a", Some(1.0)), ("b", None), ("c", Some(Double.NaN)),
      ("d", Some(-3.0)), ("e", Some(2.0)),
      ("f", Some(Double.PositiveInfinity)),
      ("g", Some(Double.NegativeInfinity))).toDF("k", "m")
    val sort = Seq(col("m").asc, col("k"))
    val got = Rank.globalRowNumber(df, Rank.monotoneBucket(col("m")),
      sort, "rank", "total")
    val want = df.select(col("k"),
      row_number().over(Window.orderBy(sort: _*)).cast("long").as("want_rank"))
    val j = got.join(want, Seq("k"))
    assert(j.count() == 7, "no row may be dropped by a null bucket key")
    assert(j.filter(col("rank") =!= col("want_rank")).isEmpty,
      "sentinel buckets must align with Spark's null/NaN sort order")
    // descending idiom: negated buckets stay ANSI-safe and aligned
    val dsort = Seq(col("m").desc, col("k"))
    val got2 = Rank.globalRowNumber(df, -Rank.monotoneBucket(col("m")),
      dsort, "rank", "total")
    val want2 = df.select(col("k"),
      row_number().over(Window.orderBy(dsort: _*)).cast("long").as("want_rank"))
    val j2 = got2.join(want2, Seq("k"))
    assert(j2.count() == 7)
    assert(j2.filter(col("rank") =!= col("want_rank")).isEmpty,
      "negated sentinels must align with DESC defaults (NaN first, nulls last)")
  }

  test("Views.pinned dedups by canonical plan; reset unpersists") {
    import org.apache.spark.storage.StorageLevel
    val h1 = graft.model.Views.pinned(
      vol.groupBy(Rank.monotoneBucket(col("volume_usd")).as("b"))
        .agg(count(lit(1)).as("c")))
    val h2 = graft.model.Views.pinned(
      vol.groupBy(Rank.monotoneBucket(col("volume_usd")).as("b"))
        .agg(count(lit(1)).as("c")))
    assert(h1 eq h2, "same canonical plan must return the same pinned frame")
    assert(h1.storageLevel != StorageLevel.NONE)
    graft.model.Views.reset(spark)
    assert(h1.storageLevel == StorageLevel.NONE,
      "reset must unpersist pinned histograms")
  }

  test("monotoneBucket is monotone and bounded, negatives included") {
    import spark.implicits._
    val vs = Seq(-1.0e12, -5.5, -1.0, -1.0e-9, 0.0, 1.0e-9, 0.5, 1.0,
      49.9, 50.0, 1.0e5, 1.0e12).toDF("v")
    val rows = vs.select(col("v"), Rank.monotoneBucket(col("v")).as("b"))
      .orderBy(col("v")).collect()
    val bs = rows.map(_.getLong(1))
    assert(bs.zip(bs.tail).forall { case (a, b) => a <= b },
      "bucket order must follow value order")
    assert(bs.forall(b => math.abs(b) < 50000), "image must stay bounded")
  }

  test("ntile arithmetic handles total < k (ANSI-safe small groups)") {
    val tiny = vol.orderBy(col("wallet")).limit(3)
    val got = Rank.globalRowNumber(tiny, volBucket, volSort, "rank", "total")
      .select(col("wallet"),
        Rank.ntileFromRank(col("rank"), col("total"), 10).as("decile"))
    val w = Window.orderBy(volSort: _*)
    val want = tiny.select(col("wallet"),
      ntile(10).over(w).as("want_decile"))
    val joined = got.join(want, Seq("wallet"))
    assert(joined.count() == 3)
    assert(joined.filter(col("decile") =!= col("want_decile")).isEmpty)
  }

  test("groupedQuantilesBucketed joins on an explicit key: no trivially " +
    "true equality in the analyzed plan") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // with Spark's self-join rescue off, a condition that resolves one
    // attribute on both sides stays `a = a` in the analyzed plan
    val key = "spark.sql.selfJoinAutoResolveAmbiguity"
    spark.conf.set(key, "false")
    try {
      val t = (1 to 50).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "x")
      val got = Rank.groupedQuantiles(t, "g", col("x"),
        Seq("p50" -> 0.5, "p90" -> 0.9), countName = "n")
      val trivial = got.queryExecution.analyzed
        .collect { case j: Join => j.condition }.flatten
        .flatMap(_.collect { case e @ EqualTo(a, b) if a.semanticEquals(b) => e })
      assert(trivial.isEmpty, s"trivially true join keys: $trivial")
    } finally spark.conf.unset(key)
  }
}

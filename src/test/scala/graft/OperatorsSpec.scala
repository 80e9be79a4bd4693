package graft

import graft.model.Tables
import graft.operators._
import org.apache.spark.sql.functions._

/** Cross-operator invariants on sf0.001 (the DuckDB value-equality
  * gate lives in Verify + tools/crosscheck.py; these are structural). */
class OperatorsSpec extends SparkSpec {

  test("every queries entry runs and q1 has rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("balances sum to zero per token (closed system)") {
    val b = Balances.balances(Tables.transfers(spark, sf))
    val bad = b.groupBy("token_id")
      .agg(sum(col("balance").cast("decimal(18,4)")).as("s"))
      .filter(col("s") =!= 0).count()
    assert(bad == 0)
  }

  test("reconcile finds zero mismatches between the two balance books") {
    val fromTransfers = Balances.balances(Tables.transfers(spark, sf))
    val wt = Leaderboard.walletTrades(Tables.trades(spark, sf))
    val fromTrades = wt.groupBy(col("wallet"), col("token_id"))
      .agg(sum(when(col("side") === "buy", col("qty")).otherwise(-col("qty"))
        .cast("decimal(18,4)")).cast("double").as("balance"))
    val r = Rollup.reconcile(fromTransfers, fromTrades)
    assert(r.agg(sum("mismatches")).head().getLong(0) == 0)
  }

  test("candles: low <= open,close <= high; volume positive") {
    val ev = Tables.eventStream(spark, sf)
    val c = Candles.finalize(Candles.fromTicks(ev, "minute", col("token_id"),
      col("ts"), col("event_id"), col("price"), col("usd")))
    val bad = c.filter(col("low") > col("high") ||
      col("open") > col("high") || col("open") < col("low") ||
      col("close") > col("high") || col("close") < col("low") ||
      col("volume") <= 0).count()
    assert(bad == 0)
  }

  test("candle re-aggregation conserves volume and trade count") {
    val ev = Tables.eventStream(spark, sf)
    val c1m = Candles.fromTicks(ev, "minute", col("token_id"), col("ts"),
      col("event_id"), col("price"), col("usd"))
    val c1h = Candles.reaggregate(c1m, "hour")
    val v1m = c1m.agg(sum("volume_i"), sum("trades")).head()
    val v1h = c1h.agg(sum("volume_i"), sum("trades")).head()
    assert(v1m == v1h)
  }

  test("scd2 intervals: valid_to >= valid_from, chained per key") {
    val h = Metadata.scd2(Tables.orders(spark, sf).select(col("o_custkey"),
      col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
      "o_custkey", "o_orderdate", "o_orderkey")
    assert(h.filter(col("valid_to") < col("o_orderdate")).count() == 0)
  }

  test("leaderboard: maker+taker cashflows cancel system-wide") {
    val wt = Leaderboard.walletTrades(Tables.trades(spark, sf))
    val total = wt.agg(sum(when(col("side") === "sell", col("usd"))
      .otherwise(-col("usd")))).head().getDecimal(0)
    assert(total.signum == 0)
  }

  test("dedup ingest is idempotent: re-delivery leaves counts unchanged") {
    val ev = Tables.events(spark, sf)
    val dup = ev.unionAll(ev.limit(100))
    val n = Metadata.dedupIngest(dup, "event_id", "event_id").count()
    assert(n == ev.count())
  }

  test("sketch quantiles sit inside generous exact rank envelopes") {
    val wtv = Leaderboard.walletTrades(Tables.trades(spark, sf))
    val mkts = Tables.part(spark, sf).select(
      col("p_partkey").cast("long").as("token_id"), col("p_brand").as("market"))
    val env = wtv.join(broadcast(mkts), Seq("token_id"))
      .groupBy(col("market"))
      .agg(expr("percentile(CAST(qty AS DOUBLE), 0.40)").as("q40"),
        expr("percentile(CAST(qty AS DOUBLE), 0.60)").as("q60"),
        expr("percentile(CAST(usd AS DOUBLE), 0.85)").as("u85"),
        expr("percentile(CAST(usd AS DOUBLE), 0.95)").as("u95"))
    val bad = Stats.tradeSizeQuantilesSketch(wtv, mkts)
      .join(env, Seq("market"))
      .filter(col("median_qty_approx") < col("q40") ||
        col("median_qty_approx") > col("q60") ||
        col("p90_usd_approx") < col("u85") ||
        col("p90_usd_approx") > col("u95"))
      .count()
    assert(bad == 0)
  }

  test("price change: hand-built series gives exact floored bp moves") {
    import spark.implicits._
    val t = Seq(
      // token 1: 2.0 @ day 1 → 3.0 @ day 10 (+50% = 5000 bp)
      (1L, java.sql.Date.valueOf("1996-01-01"), 1L, 2.0),
      (1L, java.sql.Date.valueOf("1996-01-10"), 2L, 3.0),
      // token 2: 4.0 @ day 1 → 3.0 @ day 10 (−25% = floor(−2500) bp)
      (2L, java.sql.Date.valueOf("1996-01-01"), 3L, 4.0),
      (2L, java.sql.Date.valueOf("1996-01-10"), 4L, 3.0),
      // token 3: only recent trades → no prev price, excluded
      (3L, java.sql.Date.valueOf("1996-01-09"), 5L, 1.0)
    ).toDF("token_id", "ts", "trade_id", "price")
    val r = Candles.priceChange(t, 7, 10)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r == Map(1L -> 5000L, 2L -> -2500L))
  }

  test("weighted quantile: threshold picks by cumulative weight") {
    import spark.implicits._
    val df = Seq(
      // a: heavy tail value dominates → median 3
      ("a", 1L, 1.0), ("a", 2L, 1.0), ("a", 3L, 10.0),
      // b: heavy head → median 1
      ("b", 1L, 5.0), ("b", 2L, 1.0), ("b", 3L, 1.0),
      // c: uniform weights, p90 → 3
      ("c", 1L, 1.0), ("c", 2L, 1.0), ("c", 3L, 1.0)
    ).toDF("g", "v", "w")
    def wq(num: Int, den: Int) =
      Stats.weightedQuantile(df, "g", col("v"), col("w"), num, den)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val med = wq(1, 2)
    assert(med("a") == 3L && med("b") == 1L && med("c") == 2L)
    assert(wq(9, 10)("c") == 3L)
  }

  test("property: histogram bins partition every group exactly") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.{Test => SCTest}
    val rnd = new scala.util.Random(42)
    // 50 random groups in ONE frame (one Spark job), sizes 1..40,
    // values drawn from mixed ranges including negatives and constants
    val rows = (1 to 50).flatMap { g =>
      val n = 1 + rnd.nextInt(40)
      val base = rnd.nextDouble() * 200 - 100
      val span = if (g % 7 == 0) 0.0 else rnd.nextDouble() * 50
      (1 to n).map(_ => (s"g$g", base + rnd.nextDouble() * span))
    }
    val df = rows.toDF("g", "x")
    val bins = 10
    val got = Stats.histogram(df, "g", col("x"), bins)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val byGroup = rows.groupBy(_._1)
    // reference: same bin rule in plain scala
    got.groupBy(_._1).foreach { case (g, bs) =>
      val xs = byGroup(g).map(_._2)
      val (mn, mx) = (xs.min, xs.max)
      assert(bs.map(_._3).sum == xs.size.toLong, s"$g: counts must partition")
      bs.foreach { case (_, bin, n, lo, hi) =>
        assert(bin >= 0 && bin < bins)
        val expected = xs.count { x =>
          val b = if (mx == mn) 0L
            else math.min(math.floor((x - mn) / ((mx - mn) / bins)).toLong,
              (bins - 1).toLong)
          b == bin
        }
        assert(n == expected, s"$g bin $bin: $n vs $expected")
        assert(lo == mn + bin * ((mx - mn) / bins))
        assert(hi == mn + (bin + 1) * ((mx - mn) / bins))
      }
    }
    // scalacheck side: the pure bin rule never leaves [0, bins-1] and
    // is monotone in x for any finite bounds
    val prop = Prop.forAll(Gen.choose(-1e6, 1e6), Gen.choose(-1e6, 1e6),
      Gen.choose(-1e6, 1e6)) { (a: Double, b: Double, x0: Double) =>
      val (mn, mx) = (math.min(a, b), math.max(a, b))
      val x = math.max(mn, math.min(mx, x0))
      val bin = if (mx == mn) 0L
        else math.min(math.floor((x - mn) / ((mx - mn) / bins)).toLong,
          (bins - 1).toLong)
      bin >= 0L && bin <= (bins - 1).toLong
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("histogram: bin rule, max-edge cap, degenerate group") {
    import spark.implicits._
    val df = Seq(
      // group a: range [0, 10], 10 bins of width 1
      ("a", 0.0), ("a", 0.5), ("a", 1.0), ("a", 9.99), ("a", 10.0),
      // group b: constant → all rows in bin 0, lo = hi = 7
      ("b", 7.0), ("b", 7.0)
    ).toDF("g", "x")
    val got = Stats.histogram(df, "g", col("x"), bins = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(("a", 0L)) == ((2L, 0.0, 1.0)))   // 0.0, 0.5
    assert(got(("a", 1L))._1 == 1L)              // 1.0 opens bin 1
    assert(got(("a", 9L)) == ((2L, 9.0, 10.0)))  // 9.99 + max edge capped
    assert(got(("b", 0L)) == ((2L, 7.0, 7.0)))   // degenerate width 0
    assert(got.keys.map(_._2).forall(b => b >= 0 && b <= 9))
  }

  test("interp gap fill: hand-built gaps interpolate time-weighted") {
    import spark.implicits._
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"1996-01-01 $h%02d:00:00")
    // token 1: closes at hours 0 and 3 → hours 1,2 at 1/3 and 2/3;
    // token 2: no gaps
    val c = Seq(
      (1L, ts(0), 10.0), (1L, ts(3), 16.0),
      (2L, ts(5), 2.0), (2L, ts(6), 4.0)
    ).toDF("token_id", "bucket", "close")
    val got = Candles.gapFillInterp(c, 3600)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString.take(13),
        r.getDouble(3), r.getBoolean(4))).toSet
    assert(got == Set(
      (1L, "1996-01-01 00", 10.0, false),
      (1L, "1996-01-01 01", 12.0, true),
      (1L, "1996-01-01 02", 14.0, true),
      (1L, "1996-01-01 03", 16.0, false),
      (2L, "1996-01-01 05", 2.0, false),
      (2L, "1996-01-01 06", 4.0, false)))
  }

  test("rollup MVs hold money partials in no DECIMAL wider than 18 digits") {
    import org.apache.spark.sql.types.DecimalType
    for (name <- Seq("daily_flows", "trades_token_day", "candles_1m",
        "lb_rollup_day")) {
      val wide = SparkEntry.sessionViews(name)(spark, sf).schema.fields
        .filter(_.dataType match {
          case d: DecimalType => d.precision > 18
          case _              => false
        })
      assert(wide.isEmpty, s"$name holds ${wide.mkString(", ")}")
    }
  }

  test("a scaled partial / 1e4 is the double of its DECIMAL(18,4) value") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val top = (1L << 53) - 1
    val rnd = new scala.util.Random(3)
    val unscaled = Seq(0L, 1L, -1L, top, -top) ++
      Seq.fill(100000)(rnd.nextLong() % (top + 1))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(unscaled.map(u =>
        Row(u, java.math.BigDecimal.valueOf(u, 4))): _*),
      StructType(Seq(StructField("u", LongType),
        StructField("d", DecimalType(18, 4)))))
    val bad = df.filter(
      round(col("d") * 10000).cast("long") =!= col("u") ||
        (col("u") / 10000.0) =!= col("d").cast("double"))
    assert(df.count() == unscaled.size)
    assert(bad.count() == 0, bad.limit(5).collect().mkString("; "))
  }

  test("an overflowing BIGINT partial sum raises instead of wrapping") {
    import spark.implicits._
    val e = intercept[Exception](
      Seq(Long.MaxValue, 1L).toDF("v").agg(sum(col("v"))).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("ARITHMETIC_OVERFLOW")), msgs.mkString(" | "))
  }
}

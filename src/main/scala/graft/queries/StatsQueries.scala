package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.model.{Tables, Views}
import graft.operators._
import graft.queries.OracleFragments._

/** Statistics: funnels, retention, tests, correlations, moments,
  * sequence and time-series functions, and the sketch accuracy gates. */
private[graft] object StatsQueries {
  val defs: Seq[QueryDef] = Seq(
    // Sketch quantiles (CH quantileTDigest analogue): approx_percentile
    // keeps a bounded summary per group instead of the full value set —
    // the 100 TB path next to exact q_trade_quantiles. Rows-only;
    // OperatorsSpec pins the sketch inside exact p40–p60 / p85–p95
    // rank envelopes.
    QueryDef("q_quantiles_sketch", (s, d) =>
      Stats.tradeSizeQuantilesSketch(wt(s, d), markets(s, d))
        .orderBy(col("market")), None),

    // windowFunnel: view → click → purchase within 24h per wallet.
    QueryDef("q_funnel", (s, d) =>
      Funnel.windowFunnel(Tables.eventStream(s, d), "wallet", "ts",
          "event_type", Seq("view", "click", "purchase"), 24)
        .withColumnRenamed("user", "wallet")
        .orderBy(col("wallet")), Some(
      s"""WITH $EV,
        |s1 AS (
        |  SELECT wallet AS u, MIN(ts) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t2
        |  FROM ev e JOIN s1 ON e.wallet = s1.u
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t3
        |  FROM ev e JOIN s1 ON e.wallet = s1.u JOIN s2 ON e.wallet = s2.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR
        |  GROUP BY 1)
        |SELECT s1.u AS wallet, t1, t2, t3,
        |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |    ELSE 1 END AS level
        |FROM s1 LEFT JOIN s2 USING (u) LEFT JOIN s3 USING (u)
        |ORDER BY wallet""".stripMargin)),

    // Order-strict funnel: interleaved events of OTHER funnel steps
    // break the chain (non-funnel types never do; chain stays anchored
    // at the earliest step-1 event — a documented deviation from CH
    // strict_order, see Funnel.windowFunnelStrict).
    QueryDef("q_funnel_strict", (s, d) =>
      Funnel.windowFunnelStrict(Tables.eventStream(s, d), "wallet", "ts",
          "event_type", Seq("view", "click", "purchase"), 24)
        .withColumnRenamed("user", "wallet")
        .orderBy(col("wallet")),
    // same greedy chain, then each gap validated against interleaved
    // funnel-typed events of another step
    Some(
      s"""WITH $EV,
        |s1 AS (
        |  SELECT wallet AS u, MIN(ts) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t2
        |  FROM ev e JOIN s1 ON e.wallet = s1.u
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t3
        |  FROM ev e JOIN s1 ON e.wallet = s1.u JOIN s2 ON e.wallet = s2.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |chain AS (
        |  SELECT s1.u, t1, t2, t3
        |  FROM s1 LEFT JOIN s2 USING (u) LEFT JOIN s3 USING (u)),
        |x AS (
        |  SELECT c.u,
        |    SUM(CASE WHEN e.ts > c.t1 AND e.ts < c.t2
        |             AND e.event_type <> 'click' THEN 1 ELSE 0 END) AS x2,
        |    SUM(CASE WHEN e.ts > c.t2 AND e.ts < c.t3
        |             AND e.event_type <> 'purchase' THEN 1 ELSE 0 END) AS x3
        |  FROM ev e JOIN chain c ON e.wallet = c.u
        |  WHERE e.event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1)
        |SELECT c.u AS wallet, c.t1,
        |  CASE WHEN t2 IS NOT NULL AND coalesce(x2, 0) = 0 THEN
        |         CASE WHEN t3 IS NOT NULL AND coalesce(x3, 0) = 0 THEN 3
        |              ELSE 2 END
        |       ELSE 1 END AS level_strict
        |FROM chain c LEFT JOIN x USING (u)
        |ORDER BY wallet""".stripMargin)),

    // CH strict_dedup funnel mode: the chain advances only if the
    // matched step-i event does not REPEAT in the gap before step
    // i+1 (the dual of strict_order's other-type gate; same earliest-
    // chain anchoring deviations, documented at Funnel.windowFunnelStrict).
    QueryDef("q_funnel_dedup", (s, d) =>
      Funnel.windowFunnelDedup(Tables.eventStream(s, d), "wallet", "ts",
          "event_type", Seq("view", "click", "purchase"), 24)
        .withColumnRenamed("user", "wallet")
        .orderBy(col("wallet")),
    // strict_dedup: the same greedy chain, each gap validated against
    // repeats of ANY already-matched step type (the CH contract)
    Some(
      s"""WITH $EV,
        |s1 AS (
        |  SELECT wallet AS u, MIN(ts) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t2
        |  FROM ev e JOIN s1 ON e.wallet = s1.u
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t3
        |  FROM ev e JOIN s1 ON e.wallet = s1.u JOIN s2 ON e.wallet = s2.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |chain AS (
        |  SELECT s1.u, t1, t2, t3
        |  FROM s1 LEFT JOIN s2 USING (u) LEFT JOIN s3 USING (u)),
        |x AS (
        |  SELECT c.u,
        |    SUM(CASE WHEN e.ts > c.t1 AND e.ts < c.t2
        |             AND e.event_type = 'view' THEN 1 ELSE 0 END) AS x2,
        |    SUM(CASE WHEN e.ts > c.t2 AND e.ts < c.t3
        |             AND e.event_type IN ('view', 'click') THEN 1 ELSE 0 END) AS x3
        |  FROM ev e JOIN chain c ON e.wallet = c.u
        |  WHERE e.event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1)
        |SELECT c.u AS wallet, c.t1,
        |  CASE WHEN t2 IS NOT NULL AND coalesce(x2, 0) = 0 THEN
        |         CASE WHEN t3 IS NOT NULL AND coalesce(x3, 0) = 0 THEN 3
        |              ELSE 2 END
        |       ELSE 1 END AS level_dedup
        |FROM chain c LEFT JOIN x USING (u)
        |ORDER BY wallet""".stripMargin)),

    // Funnel conversion summary (users per reached level).
    QueryDef("q_funnel_summary", (s, d) =>
      Funnel.funnelSummary(
          Funnel.windowFunnel(Tables.eventStream(s, d), "wallet", "ts",
            "event_type", Seq("view", "click", "purchase"), 24))
        .orderBy(col("level")), Some(
      s"""WITH $EV,
        |s1 AS (
        |  SELECT wallet AS u, MIN(ts) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t2
        |  FROM ev e JOIN s1 ON e.wallet = s1.u
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t3
        |  FROM ev e JOIN s1 ON e.wallet = s1.u JOIN s2 ON e.wallet = s2.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |f AS (
        |  SELECT CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |    ELSE 1 END AS level
        |  FROM s1 LEFT JOIN s2 USING (u) LEFT JOIN s3 USING (u))
        |SELECT level, COUNT(*) AS users FROM f GROUP BY level
        |ORDER BY level""".stripMargin)),

    // CH retention(): UNORDERED per-user co-occurrence against an
    // anchor condition (did signup AND also did X, any order/time) —
    // the companion shape to windowFunnel's ordered-within-horizon
    // chain. One keyed shuffle with partial-agg bools per user, then
    // a 1-row global sum.
    QueryDef("q_retention_steps", (s, d) => {
      val ev = Tables.events(s, d)
      def did(t: String) =
        max((col("event_type") === t).cast("long"))
      val per = ev.groupBy(col("user_id")).agg(
        did("signup").as("c1"), did("view").as("c2"),
        did("click").as("c3"), did("purchase").as("c4"))
      per.agg(
        sum(col("c1")).as("did_signup"),
        sum(col("c1") * col("c2")).as("signup_and_view"),
        sum(col("c1") * col("c3")).as("signup_and_click"),
        sum(col("c1") * col("c4")).as("signup_and_purchase"))
    }, Some(
      """SELECT CAST(SUM(c1) AS BIGINT) AS did_signup,
        |  CAST(SUM(c1*c2) AS BIGINT) AS signup_and_view,
        |  CAST(SUM(c1*c3) AS BIGINT) AS signup_and_click,
        |  CAST(SUM(c1*c4) AS BIGINT) AS signup_and_purchase
        |FROM (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c1,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c3,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c4
        |  FROM events GROUP BY user_id) t""".stripMargin)),

    // CH welchTTest(): unequal-variance t statistic between two
    // cohorts from streaming moments only (n, mean, var_samp per
    // side) — A/B significance with no row retention. Here: do
    // taker-buy fills differ in size from taker-sell fills, per
    // token. floor(t·1e4) pins the hash.
    QueryDef("q_welch_ttest", (s, d) => {
      val t = Views.trades(s, d)
      def side(buy: Boolean, p: String) = t
        .filter(col("is_taker_buy") === buy)
        .groupBy(col("token_id"))
        .agg(count(lit(1)).as(s"n$p"), avg(col("qty")).as(s"m$p"),
          var_samp(col("qty")).as(s"v$p"))
      side(buy = true, "1").join(side(buy = false, "2"), "token_id")
        .filter(col("n1") >= 20 && col("n2") >= 20)
        .select(col("token_id"), col("n1"), col("n2"),
          floor((col("m1") - col("m2")) /
            sqrt(col("v1") / col("n1") + col("v2") / col("n2")) * 1e4)
            .cast("long").as("t_e4"))
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES,
        |s1 AS (SELECT token_id, CAST(COUNT(*) AS BIGINT) AS n1,
        |         AVG(qty) AS m1, var_samp(qty) AS v1
        |       FROM trades WHERE is_taker_buy GROUP BY token_id),
        |s2 AS (SELECT token_id, CAST(COUNT(*) AS BIGINT) AS n2,
        |         AVG(qty) AS m2, var_samp(qty) AS v2
        |       FROM trades WHERE NOT is_taker_buy GROUP BY token_id)
        |SELECT s1.token_id AS token_id, n1, n2,
        |  CAST(FLOOR((m1 - m2) / sqrt(v1/n1 + v2/n2) * 10000) AS BIGINT)
        |    AS t_e4
        |FROM s1 JOIN s2 ON s1.token_id = s2.token_id
        |WHERE n1 >= 20 AND n2 >= 20
        |ORDER BY token_id""".stripMargin)),

    // CH corr(): per-token Pearson correlation of price vs fill size
    // (microstructure signal: does size move price?). One partial-agg
    // shuffle — corr folds to six streaming sums; floor(r·1e4) pins
    // the hash against libm/association differences.
    QueryDef("q_price_qty_corr", (s, d) => {
      Views.trades(s, d)
        .groupBy(col("token_id"))
        .agg(count(lit(1)).as("n"),
          floor(corr(col("price"), col("qty")) * 1e4).cast("long")
            .as("corr_e4"))
        .filter(col("n") >= 30)
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES
        |SELECT token_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(FLOOR(corr(price, qty) * 10000) AS BIGINT) AS corr_e4
        |FROM trades GROUP BY token_id
        |HAVING COUNT(*) >= 30
        |ORDER BY token_id""".stripMargin)),

    // CH rankCorr() (#197, promoted r19): Spearman rank correlation of
    // price vs fill size per token — the monotone-association companion
    // to q_price_qty_corr's Pearson (outlier-robust: depends only on
    // orderings). Average ranks via two shared-sort window passes per
    // variable (Stats.rankCorr — one keyed exchange, reused by the
    // final corr re-agg); both engines construct the identical
    // rank()+count average ranks, which are exact integers/
    // half-integers, so the only float term is the final corr — pinned
    // at floor(·1e4), the proven q_price_qty_corr discipline.
    QueryDef("q_rank_corr", (s, d) =>
      Stats.rankCorr(Views.trades(s, d), "token_id", col("price"), col("qty"))
        .select(col("token_id"), col("n"),
          floor(col("rank_corr") * 1e4).cast("long").as("rank_corr_e4"))
        .filter(col("n") >= 30)
        // checker sorts rows; a global orderBy's range sampling would
        // re-execute the window chain (the r18 sortWithinPartitions rule)
        .sortWithinPartitions(col("token_id")),
    // Spearman = Pearson over AVERAGE ranks; both engines construct
    // the identical tie-correct average rank (rank() gives the run's
    // min rank, the count window its length; avg = min + (len-1)/2),
    // so ranks are exact and only the final corr is float — floor-
    // pinned like q_price_qty_corr.
    Some(
      s"""WITH $TRADES,
        |r AS (SELECT token_id,
        |        rank() OVER (PARTITION BY token_id ORDER BY price)
        |          + (COUNT(*) OVER (PARTITION BY token_id, price) - 1)/2.0 AS xr,
        |        rank() OVER (PARTITION BY token_id ORDER BY qty)
        |          + (COUNT(*) OVER (PARTITION BY token_id, qty) - 1)/2.0 AS yr
        |      FROM trades)
        |SELECT token_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(FLOOR(corr(xr, yr) * 10000) AS BIGINT) AS rank_corr_e4
        |FROM r GROUP BY token_id
        |HAVING COUNT(*) >= 30
        |ORDER BY token_id""".stripMargin)),

    // CH entropy(): Shannon entropy of each user's event-type
    // distribution (behavioral diversity — bots score ~0, organic
    // users near log2(#types)). Two keyed partial-agg shuffles; the
    // value ships as floor(H·1e4) so libm rounding differences can't
    // flip the driver hash (the r9 q_lm_score recipe).
    QueryDef("q_event_entropy", (s, d) => {
      val c = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      c.groupBy(col("user_id")).agg(
          sum(col("c")).as("n"),
          floor((log2(sum(col("c"))) -
            sum(col("c") * log2(col("c"))) / sum(col("c"))) * 1e4)
            .cast("long").as("entropy_e4"))
        .orderBy(col("user_id"))
    }, Some(
      """SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(FLOOR((log2(SUM(c)) - SUM(c*log2(c))/SUM(c)) * 10000)
        |       AS BIGINT) AS entropy_e4
        |FROM (
        |  SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2) t
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // CH maxIntersections()/intervalLengthSum(): classic +1/-1 interval
    // sweep. Each trade contributes an activity window
    // [least(order, ship), greatest(order, ship)] for its supplier; per
    // supplier we report the max number of simultaneously-open windows
    // (closed-interval semantics: starts process before ends at equal
    // times) and the union-covered day count (segments between sweep
    // points where the running count is positive). Everything — both
    // window passes and the final aggregate — clusters on the supplier
    // key, so one keyed shuffle drives the whole sweep and per-key
    // state stays bounded by that supplier's distinct endpoints.
    QueryDef("q_interval_sweep", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
      val iv = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("l_suppkey").cast("long").as("supplier"),
          least(col("o_orderdate"), col("l_shipdate")).as("t0"),
          greatest(col("o_orderdate"), col("l_shipdate")).as("t1"))
      val ev = iv.select(col("supplier"), col("t0").as("t"), lit(1).as("delta"))
        .unionAll(iv.select(col("supplier"), col("t1").as("t"), lit(-1).as("delta")))
      // collapse duplicate sweep points before the window pass (partial
      // aggregation shrinks the per-key sweep to distinct endpoints).
      // ONE hash(supplier) exchange serves the whole chain (guide §2.4):
      // HashPartitioning(supplier) satisfies the groupBy's
      // ClusteredDistribution(supplier, t, delta) AND the window's
      // partitionBy(supplier) — the r18 plan shuffled the sweep twice
      // (partial-agg'd by (supplier, t, delta), then again by supplier
      // for the window).
      val g = ev.repartition(col("supplier"))
        .groupBy(col("supplier"), col("t"), col("delta"))
        .agg(sum(col("delta")).as("d"))
      val w = Window.partitionBy(col("supplier"))
        .orderBy(col("t"), col("delta").desc)
      g.withColumn("cum", sum(col("d")).over(w))
        .withColumn("seg", when(col("cum") > 0,
          datediff(lead(col("t"), 1).over(w), col("t"))).otherwise(lit(0)))
        .groupBy(col("supplier"))
        .agg(max(col("cum")).cast("long").as("max_open"),
          sum(col("seg")).cast("long").as("covered_days"))
        .orderBy(col("supplier"))
    }, Some(
      """WITH iv AS (
        |  SELECT CAST(l_suppkey AS BIGINT) AS supplier,
        |         least(o_orderdate, l_shipdate) AS t0,
        |         greatest(o_orderdate, l_shipdate) AS t1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ev AS (
        |  SELECT supplier, t0 AS t, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT supplier, t1 AS t, -1 AS delta FROM iv),
        |g AS (
        |  SELECT supplier, t, delta, SUM(delta) AS d
        |  FROM ev GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT supplier, t, d,
        |    SUM(d) OVER (PARTITION BY supplier
        |                 ORDER BY t, delta DESC) AS cum,
        |    LEAD(t) OVER (PARTITION BY supplier
        |                  ORDER BY t, delta DESC) AS nt
        |  FROM g)
        |SELECT supplier, CAST(MAX(cum) AS BIGINT) AS max_open,
        |  CAST(SUM(CASE WHEN cum > 0 THEN date_diff('day', t, nt)
        |           ELSE 0 END) AS BIGINT) AS covered_days
        |FROM s GROUP BY supplier ORDER BY supplier""".stripMargin)),

    // CH simpleLinearRegression(x, y): per-token OLS price trend vs
    // time (x = days since 1995-01-01). regr_* fold to the same six
    // streaming sums as corr — one partial-agg shuffle, no row
    // retention. Slope/r² ship as floor(·1e4) (the corr recipe);
    // the intercept — price-magnitude, so an e4 scale would push the
    // value into float-ulp flip territory — pins at whole units.
    QueryDef("q_trend_ols", (s, d) => {
      Views.trades(s, d)
        .select(col("token_id"),
          datediff(col("ts"), lit("1995-01-01")).cast("double").as("x"),
          col("price").as("y"))
        .groupBy(col("token_id"))
        .agg(count(lit(1)).as("n"),
          floor(regr_slope(col("y"), col("x")) * 1e4).cast("long")
            .as("slope_e4"),
          floor(regr_intercept(col("y"), col("x"))).cast("long")
            .as("intercept_fl"),
          floor(regr_r2(col("y"), col("x")) * 1e4).cast("long").as("r2_e4"))
        .filter(col("n") >= 30)
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES
        |SELECT token_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(FLOOR(regr_slope(price,
        |    date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))) * 10000)
        |    AS BIGINT) AS slope_e4,
        |  CAST(FLOOR(regr_intercept(price,
        |    date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))))
        |    AS BIGINT) AS intercept_fl,
        |  CAST(FLOOR(regr_r2(price,
        |    date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))) * 10000)
        |    AS BIGINT) AS r2_e4
        |FROM trades GROUP BY token_id
        |HAVING COUNT(*) >= 30
        |ORDER BY token_id""".stripMargin)),

    // CH sequenceCount('(?1)(?2)')(view, click): non-overlapping
    // greedy count of view-then-click per user. For a two-step
    // pattern the greedy scan collapses to a lag() test on the
    // stream filtered to the two condition types: each match is
    // exactly a view→click transition in that filtered order (a
    // view run stays "armed" until the first click consumes it) —
    // so one keyed window pass replaces the sequential automaton.
    QueryDef("q_sequence_count", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val f = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      f.withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("event_type") === "click" && col("prev") === "view")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH f AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type IN ('view', 'click')),
        |l AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM f)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches
        |FROM l WHERE event_type = 'click' AND prev = 'view'
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // CH categorical-association family: cramersV() + contingency() +
    // theilsU() between event_type and hour-of-day, all derived from
    // ONE contingency-cell aggregation (≤ types×24 rows after the
    // partial-agg shuffle — the only pass that touches data). The
    // marginals come back via two broadcast joins on the tiny cell
    // frame, and every coefficient folds to sums over cells:
    // chi² = n·(Σc²/(ri·cj) − 1), Σri·log2(ri) = Σcells c·log2(ri),
    // H(X|Y) = (Σc·log2(cj) − Σc·log2(c))/n. floor(·1e4) pins.
    QueryDef("q_association", (s, d) => {
      val cells = Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).cast("double").as("c"))
      val ri = cells.groupBy(col("event_type")).agg(sum(col("c")).as("ri"))
      val cj = cells.groupBy(col("h")).agg(sum(col("c")).as("cj"))
      val j = cells.join(broadcast(ri), "event_type")
        .join(broadcast(cj), "h")
      val a = j.agg(
        sum(col("c")).as("n"),
        sum(col("c") * col("c") / (col("ri") * col("cj"))).as("s2"),
        countDistinct(col("event_type")).cast("double").as("r"),
        countDistinct(col("h")).cast("double").as("k"),
        sum(col("c") * log2(col("ri"))).as("slr"),
        sum(col("c") * log2(col("cj"))).as("slc"),
        sum(col("c") * log2(col("c"))).as("slcell"))
      val chi2 = col("n") * (col("s2") - lit(1.0))
      val hx   = log2(col("n")) - col("slr") / col("n")
      val hxy  = (col("slc") - col("slcell")) / col("n")
      a.select(col("n").cast("long").as("n"),
        floor(chi2 * 1e4).cast("long").as("chi2_e4"),
        floor(sqrt(chi2 / (col("n") * (least(col("r"), col("k")) - 1))) * 1e4)
          .cast("long").as("cramers_v_e4"),
        floor(sqrt(chi2 / (chi2 + col("n"))) * 1e4)
          .cast("long").as("contingency_e4"),
        floor((hx - hxy) / hx * 1e4).cast("long").as("theils_u_e4"))
    }, Some(
      """WITH cells AS (
        |  SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS h,
        |         CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM events GROUP BY 1, 2),
        |ri AS (SELECT event_type, SUM(c) AS ri FROM cells GROUP BY 1),
        |cj AS (SELECT h, SUM(c) AS cj FROM cells GROUP BY 1),
        |a AS (
        |  SELECT SUM(c) AS n, SUM(c*c/(ri.ri*cj.cj)) AS s2,
        |    CAST(COUNT(DISTINCT cells.event_type) AS DOUBLE) AS r,
        |    CAST(COUNT(DISTINCT cells.h) AS DOUBLE) AS k,
        |    SUM(c*log2(ri.ri)) AS slr, SUM(c*log2(cj.cj)) AS slc,
        |    SUM(c*log2(c)) AS slcell
        |  FROM cells JOIN ri USING (event_type) JOIN cj USING (h))
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(FLOOR(n*(s2-1) * 10000) AS BIGINT) AS chi2_e4,
        |  CAST(FLOOR(sqrt(n*(s2-1) / (n*(least(r,k)-1))) * 10000)
        |       AS BIGINT) AS cramers_v_e4,
        |  CAST(FLOOR(sqrt(n*(s2-1) / (n*(s2-1)+n)) * 10000)
        |       AS BIGINT) AS contingency_e4,
        |  CAST(FLOOR(((log2(n)-slr/n) - (slc-slcell)/n)
        |       / (log2(n)-slr/n) * 10000) AS BIGINT) AS theils_u_e4
        |FROM a""".stripMargin)),

    // CH exponentialTimeDecayedAvg(): per-token price with weight
    // exp(Δt/τ) against the token's LAST trade time (τ = 7 days) —
    // the "recent trades dominate" smoothing a live price feed wants.
    // The max-ts window and the weighted aggregate cluster on the
    // same token key, so one keyed shuffle serves both; no row
    // retention beyond the sums. floor(·1e4) pins the hash.
    QueryDef("q_decayed_price", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("token_id"))
      Views.trades(s, d)
        .withColumn("wgt",
          exp(datediff(col("ts"), max(col("ts")).over(w)).cast("double") / 7.0))
        .groupBy(col("token_id"))
        .agg(count(lit(1)).as("n"),
          floor(sum(col("price") * col("wgt")) / sum(col("wgt")) * 1e4)
            .cast("long").as("decayed_price_e4"))
        .filter(col("n") >= 30)
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES,
        |w AS (
        |  SELECT token_id, price,
        |    exp(CAST(date_diff('day',
        |      MAX(ts) OVER (PARTITION BY token_id), ts) AS DOUBLE) / 7.0)
        |      AS wgt
        |  FROM trades)
        |SELECT token_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(FLOOR(SUM(price*wgt) / SUM(wgt) * 10000) AS BIGINT)
        |    AS decayed_price_e4
        |FROM w GROUP BY token_id HAVING COUNT(*) >= 30
        |ORDER BY token_id""".stripMargin)),

    // CH mannWhitneyUTest(): rank-sum U between taker-buy and
    // taker-sell fill sizes per token, tie-corrected normal z.
    // Average ranks come from ONE keyed sort: rank() gives the
    // min-rank and a RANGE CURRENT ROW frame counts peers, so both
    // windows and the final aggregate share the token exchange.
    // The tie term Σ(t³−t) folds to Σrows(cnt²−1). U ships ×10
    // (half-integral under ties, exact in double), z as floor(·1e4).
    QueryDef("q_mann_whitney", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byQty = Window.partitionBy(col("token_id")).orderBy(col("qty"))
      val peers = byQty.rangeBetween(Window.currentRow, Window.currentRow)
      val ranked = Views.trades(s, d)
        .select(col("token_id"), col("qty"),
          col("is_taker_buy").cast("int").as("buy"))
        .withColumn("avg_rank",
          rank().over(byQty) + (count(lit(1)).over(peers) - 1) / 2.0)
        .withColumn("cnt", count(lit(1)).over(peers).cast("double"))
      val g = ranked.groupBy(col("token_id")).agg(
        sum(col("buy")).cast("double").as("n1"),
        sum(lit(1) - col("buy")).cast("double").as("n2"),
        sum(col("avg_rank") * col("buy")).as("r1"),
        sum(col("cnt") * col("cnt") - 1).as("ties"))
      val n  = col("n1") + col("n2")
      val u1 = col("r1") - col("n1") * (col("n1") + 1) / 2.0
      val s2 = col("n1") * col("n2") / 12.0 *
        ((n + 1) - col("ties") / (n * (n - 1)))
      g.filter(col("n1") >= 10 && col("n2") >= 10 && s2 > 0)
        .select(col("token_id"),
          col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
          floor(u1 * 10).cast("long").as("u_x10"),
          floor((u1 - col("n1") * col("n2") / 2.0) / sqrt(s2) * 1e4)
            .cast("long").as("z_e4"))
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES,
        |r AS (
        |  SELECT token_id, CAST(is_taker_buy AS INT) AS buy,
        |    rank() OVER (PARTITION BY token_id ORDER BY qty)
        |      + (COUNT(*) OVER (PARTITION BY token_id ORDER BY qty
        |           RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1) / 2.0
        |      AS avg_rank,
        |    CAST(COUNT(*) OVER (PARTITION BY token_id ORDER BY qty
        |           RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS DOUBLE)
        |      AS cnt
        |  FROM trades),
        |g AS (
        |  SELECT token_id, CAST(SUM(buy) AS DOUBLE) AS n1,
        |    CAST(SUM(1-buy) AS DOUBLE) AS n2,
        |    SUM(avg_rank*buy) AS r1, SUM(cnt*cnt - 1) AS ties
        |  FROM r GROUP BY 1)
        |SELECT token_id, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(FLOOR((r1 - n1*(n1+1)/2.0) * 10) AS BIGINT) AS u_x10,
        |  CAST(FLOOR((r1 - n1*(n1+1)/2.0 - n1*n2/2.0) /
        |    sqrt(n1*n2/12.0 * ((n1+n2+1) - ties/((n1+n2)*(n1+n2-1))))
        |    * 10000) AS BIGINT) AS z_e4
        |FROM g
        |WHERE n1 >= 10 AND n2 >= 10
        |  AND n1*n2/12.0 * ((n1+n2+1) - ties/((n1+n2)*(n1+n2-1))) > 0
        |ORDER BY token_id""".stripMargin)),

    // CH skewPop()/kurtPop(): per-token price distribution shape from
    // CENTERED moments — the per-key mean comes from an unordered
    // window sharing the token exchange with the aggregate, then one
    // pass folds avg(dx^k). Centering first avoids the catastrophic
    // cancellation a raw-power-sum formula hits at price^4 magnitudes;
    // m2^1.5 is written m2·sqrt(m2) because sqrt is correctly-rounded
    // IEEE in both engines while pow() is not. Only the scale-free
    // shape stats ship (skew/kurt, floor(·1e4)) — a raw variance at
    // price² magnitude would sit in float-ulp flip territory.
    QueryDef("q_moments", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("token_id"))
      val dx = col("price") - col("mu")
      Views.trades(s, d)
        .select(col("token_id"), col("price"))
        .withColumn("mu", avg(col("price")).over(w))
        .groupBy(col("token_id"))
        .agg(count(lit(1)).as("n"),
          avg(dx * dx).as("m2"), avg(dx * dx * dx).as("m3"),
          avg((dx * dx) * (dx * dx)).as("m4"))
        .filter(col("n") >= 30 && col("m2") > 0)
        .select(col("token_id"), col("n"),
          floor(col("m3") / (col("m2") * sqrt(col("m2"))) * 1e4)
            .cast("long").as("skew_e4"),
          floor((col("m4") / (col("m2") * col("m2")) - 3) * 1e4)
            .cast("long").as("kurt_e4"))
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES,
        |c AS (
        |  SELECT token_id, price,
        |    AVG(price) OVER (PARTITION BY token_id) AS mu
        |  FROM trades),
        |m AS (
        |  SELECT token_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    AVG((price-mu)*(price-mu)) AS m2,
        |    AVG((price-mu)*(price-mu)*(price-mu)) AS m3,
        |    AVG(((price-mu)*(price-mu))*((price-mu)*(price-mu))) AS m4
        |  FROM c GROUP BY token_id)
        |SELECT token_id, n,
        |  CAST(FLOOR(m3 / (m2*sqrt(m2)) * 10000) AS BIGINT) AS skew_e4,
        |  CAST(FLOOR((m4 / (m2*m2) - 3) * 10000) AS BIGINT) AS kurt_e4
        |FROM m WHERE n >= 30 AND m2 > 0
        |ORDER BY token_id""".stripMargin)),

    // CH kolmogorovSmirnovTest(): two-sample KS between taker-buy and
    // taker-sell fill sizes per token. The ECDFs come from one keyed
    // sort over per-(token, qty) cells: ordered cumulative counts vs
    // unordered per-group totals (both windows share the token
    // exchange), D = max|c1/n1 − c2/n2| at each distinct value. The
    // statistic is a ratio of INTEGERS evaluated identically in both
    // engines, so the floor pin is deterministic, not merely
    // ulp-improbable; z = D·sqrt(n1n2/n) (sqrt is IEEE-exact).
    QueryDef("q_ks_test", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = Views.trades(s, d)
        .groupBy(col("token_id"), col("qty"))
        .agg(sum(col("is_taker_buy").cast("int")).as("c1"),
          sum(lit(1) - col("is_taker_buy").cast("int")).as("c2"))
      val byTok = Window.partitionBy(col("token_id"))
      val ord   = byTok.orderBy(col("qty"))
      val g = cells
        .withColumn("cum1", sum(col("c1")).over(ord))
        .withColumn("cum2", sum(col("c2")).over(ord))
        .withColumn("n1", sum(col("c1")).over(byTok).cast("double"))
        .withColumn("n2", sum(col("c2")).over(byTok).cast("double"))
        .groupBy(col("token_id"))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("cum1") / col("n1") - col("cum2") / col("n2")))
            .as("d"))
      g.filter(col("n1") >= 10 && col("n2") >= 10)
        .select(col("token_id"),
          col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
          floor(col("d") * 1e4).cast("long").as("d_e4"),
          floor(col("d") * sqrt(col("n1") * col("n2") /
            (col("n1") + col("n2"))) * 1e4).cast("long").as("z_e4"))
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES,
        |cells AS (
        |  SELECT token_id, qty,
        |    SUM(CAST(is_taker_buy AS INT)) AS c1,
        |    SUM(1 - CAST(is_taker_buy AS INT)) AS c2
        |  FROM trades GROUP BY 1, 2),
        |w AS (
        |  SELECT token_id,
        |    SUM(c1) OVER (PARTITION BY token_id ORDER BY qty) AS cum1,
        |    SUM(c2) OVER (PARTITION BY token_id ORDER BY qty) AS cum2,
        |    CAST(SUM(c1) OVER (PARTITION BY token_id) AS DOUBLE) AS n1,
        |    CAST(SUM(c2) OVER (PARTITION BY token_id) AS DOUBLE) AS n2
        |  FROM cells),
        |g AS (
        |  SELECT token_id, MAX(n1) AS n1, MAX(n2) AS n2,
        |    MAX(abs(cum1/n1 - cum2/n2)) AS d
        |  FROM w GROUP BY token_id)
        |SELECT token_id, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(FLOOR(d * 10000) AS BIGINT) AS d_e4,
        |  CAST(FLOOR(d * sqrt(n1*n2/(n1+n2)) * 10000) AS BIGINT) AS z_e4
        |FROM g WHERE n1 >= 10 AND n2 >= 10
        |ORDER BY token_id""".stripMargin)),

    // CH largestTriangleThreeBuckets(20): per-token chart downsample
    // of the (day, price) series — the bounded-size series shape the
    // candles API serves. Sequential per series → per-key fold
    // (operators/Downsample.scala); rows-only by declaration, gated
    // by q_lttb_gate + DownsampleSpec's hand-computed pick.
    QueryDef("q_lttb", (s, d) =>
      Downsample.lttb(
          Views.trades(s, d).select(col("token_id"),
            datediff(col("ts"), lit("1995-01-01")).as("day"), col("price")),
          "token_id", "day", "price", 20)
        .toDF()
        .withColumnRenamed("key", "token_id")
        .orderBy(col("token_id"), col("bucket")), None),

    // Hash-green gate over q_lttb's OUTPUT: per token the pick count
    // is exactly least(n, 20), bucket indexes are the full 0..k-1
    // range (sum = k(k−1)/2 — one point per bucket, none dropped),
    // and the selected endpoints are the series endpoints. The
    // max-area selection itself is pinned by DownsampleSpec's
    // hand-computed example (SQL can't express the sequential pick).
    QueryDef("q_lttb_gate", (s, d) =>
      Downsample.lttb(
          Views.trades(s, d).select(col("token_id"),
            datediff(col("ts"), lit("1995-01-01")).as("day"), col("price")),
          "token_id", "day", "price", 20)
        .toDF()
        .groupBy(col("key").as("token_id"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("bucket")).cast("long").as("bucket_sum"),
          min(col("x")).cast("long").as("first_day"),
          max(col("x")).cast("long").as("last_day"))
        .orderBy(col("token_id")), Some(
      s"""WITH $TRADES,
        |s AS (
        |  SELECT token_id,
        |    date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS day
        |  FROM trades),
        |g AS (
        |  SELECT token_id, COUNT(*) AS n, MIN(day) AS mn, MAX(day) AS mx
        |  FROM s GROUP BY 1)
        |SELECT token_id, CAST(least(n, 20) AS BIGINT) AS n_points,
        |  CAST(least(n, 20)*(least(n, 20)-1)//2 AS BIGINT) AS bucket_sum,
        |  CAST(mn AS BIGINT) AS first_day,
        |  CAST(mx AS BIGINT) AS last_day
        |FROM g ORDER BY token_id""".stripMargin)),

    // CH sumMap()/maxMap(): element-wise map aggregation — per wallet
    // the token→(total qty, max fill) map, serialized as a sorted
    // "token:sum:max" list (the q_recent_tokens comma-join recipe, so
    // the driver hash covers the MAP CONTENT, not engine-specific map
    // types). Two partial-agg shuffles; values cast to BIGINT before
    // formatting (qty is integral) so both engines print identically.
    QueryDef("q_summap", (s, d) => {
      registerRollups(s, d)
      // exact grain ⇒ Project over the flows MV: the explode and its
      // (wallet, token) shuffle never run per query (r15; the casts
      // live OUTSIDE the aggregate so the rewrite sees bare
      // sum/max partials)
      val g0 = wt(s, d)
        .groupBy(col("wallet"), col("token_id"))
        .agg(sum(col("qty")).as("sqd"), max(col("qty")).as("mqd"))
      val g = rolledUp(s, g0)
        .select(col("wallet"), col("token_id"),
          col("sqd").cast("long").as("sq"), col("mqd").cast("long").as("mq"))
      g.groupBy(col("wallet"))
        .agg(sort_array(collect_list(
          struct(col("token_id"), col("sq"), col("mq")))).as("m"))
        .select(col("wallet"), size(col("m")).cast("long").as("n_tokens"),
          concat_ws(",", transform(col("m"), x =>
            concat(x("token_id").cast("string"), lit(":"),
              x("sq").cast("string"), lit(":"), x("mq").cast("string"))))
            .as("token_map"))
        // in-partition sort: with the wallet-partitioned flows MV the
        // agg is exchange-free, and a global orderBy's range-sampling
        // pass would execute the whole (barrier-less) lineage twice
        .sortWithinPartitions(col("wallet"))
    }, Some(
      s"""WITH $WT,
        |g AS (
        |  SELECT wallet, token_id, CAST(SUM(qty) AS BIGINT) AS sq,
        |         CAST(MAX(qty) AS BIGINT) AS mq
        |  FROM wt GROUP BY 1, 2)
        |SELECT wallet, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  string_agg(CAST(token_id AS VARCHAR) || ':' ||
        |             CAST(sq AS VARCHAR) || ':' || CAST(mq AS VARCHAR),
        |             ',' ORDER BY token_id) AS token_map
        |FROM g GROUP BY wallet ORDER BY wallet""".stripMargin)),

    // CH deltaSum() + boundingRatio(): per-token total upward price
    // movement (sum of positive consecutive deltas in (ts, trade_id)
    // order) and the endpoint slope (last − first price over the day
    // span). One keyed sort serves the lag window; the endpoints come
    // from min_by/max_by on the same (ts, trade_id) struct so the
    // pick is deterministic under timestamp ties.
    QueryDef("q_deltasum", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("token_id"))
        .orderBy(col("ts"), col("trade_id"))
      val t = Views.trades(s, d)
        .withColumn("prev", lag(col("price"), 1).over(w))
        .withColumn("day",
          datediff(col("ts"), lit("1995-01-01")).cast("double"))
      t.groupBy(col("token_id"))
        .agg(count(lit(1)).as("n"),
          floor(sum(when(col("price") > col("prev"),
              col("price") - col("prev")).otherwise(lit(0.0))) * 1e4)
            .cast("long").as("delta_sum_e4"),
          min_by(col("price"), struct(col("ts"), col("trade_id")))
            .as("first_p"),
          max_by(col("price"), struct(col("ts"), col("trade_id")))
            .as("last_p"),
          min(col("day")).as("d0"), max(col("day")).as("d1"))
        .filter(col("n") >= 30 && col("d1") > col("d0"))
        .select(col("token_id"), col("n"), col("delta_sum_e4"),
          floor((col("last_p") - col("first_p")) /
            (col("d1") - col("d0")) * 1e4).cast("long").as("bounding_e4"))
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES,
        |t AS (
        |  SELECT token_id, ts, trade_id, price,
        |    LAG(price) OVER (PARTITION BY token_id
        |                     ORDER BY ts, trade_id) AS prev,
        |    CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))
        |         AS DOUBLE) AS day
        |  FROM trades)
        |SELECT token_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(FLOOR(SUM(CASE WHEN price > prev THEN price - prev
        |                      ELSE 0.0 END) * 10000) AS BIGINT)
        |    AS delta_sum_e4,
        |  CAST(FLOOR((last(price ORDER BY ts, trade_id) -
        |              first(price ORDER BY ts, trade_id)) /
        |             (MAX(day) - MIN(day)) * 10000) AS BIGINT)
        |    AS bounding_e4
        |FROM t GROUP BY token_id
        |HAVING COUNT(*) >= 30 AND MAX(day) > MIN(day)
        |ORDER BY token_id""".stripMargin)),

    // Mergeable KLL quantile states (CH quantileTDigestState/Merge MV
    // pattern, Spark's kll_sketch_* built-ins): per-(token, day) sketch
    // states re-aggregated per token, median/p90 read from the MERGED
    // state. The gate is tie-robust and estimation-safe: v is an
    // accepted q-quantile when count(<v)/n ≤ q+ε and count(≤v)/n ≥
    // q−ε (exact mode satisfies it with ε=0; ε=0.05 covers KLL's
    // ~1.65% k=200 rank error plus discretization). Raw estimates
    // never enter the hash — in estimation mode the retained sample
    // is merge-order-dependent, only the rank-error CONTRACT is
    // deterministic.
    QueryDef("q_kll_gate", (s, d) => {
      val states = Views.trades(s, d)
        .select(col("token_id"), date_trunc("day", col("ts")).as("day"),
          col("qty"))
        .groupBy(col("token_id"), col("day"))
        .agg(kll_sketch_agg_double(col("qty"), 200).as("st"))
      val merged = states.groupBy(col("token_id"))
        .agg(count(lit(1)).as("n_states"),
          kll_merge_agg_double(col("st"), 200).as("st"))
        .select(col("token_id"), col("n_states"),
          kll_sketch_get_quantile_double(col("st"), lit(0.5)).as("m"),
          kll_sketch_get_quantile_double(col("st"), lit(0.9)).as("p90"))
      // Gate margin derived from the sketch's own bound, not a magic
      // constant (ADVICE r14: DataSketches KLL compaction is
      // randomized, so estimation-mode merges are run-to-run
      // nondeterministic and the margin must dominate the sketch's
      // rank error on every run): 3× the 99%-confidence normalized
      // rank error for k=200 (~1.65%) plus 1pp headroom for value
      // discretization at the quantile (qty repeats heavily) ≈ 0.060;
      // floored at the historical 0.05 so the gate can only loosen.
      val eps = math.max(0.05,
        3.0 * org.apache.datasketches.kll.KllSketch
          .getNormalizedRankError(200, false) + 0.01)
      def okAt(v: Column, q: Double) =
        (sum((col("qty") < v).cast("long")) / count(lit(1)) <= q + eps) &&
        (sum((col("qty") <= v).cast("long")) / count(lit(1)) >= q - eps)
      Views.trades(s, d).join(broadcast(merged), "token_id")
        .groupBy(col("token_id"))
        .agg(count(lit(1)).as("n"),
          max(col("n_states")).cast("long").as("n_states"),
          okAt(col("m"), 0.5).as("ok_median"),
          okAt(col("p90"), 0.9).as("ok_p90"))
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES
        |SELECT token_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_states,
        |  true AS ok_median, true AS ok_p90
        |FROM trades GROUP BY token_id ORDER BY token_id""".stripMargin)),

    // CH sequenceNextNode(): path analysis — what does each user do
    // RIGHT AFTER their first signup? Per user: lexicographic-first
    // signup via min(struct(ts, event_id)), then min_by over the
    // later events picks the immediate successor; the report is the
    // successor-type distribution. Three aggregations, all keyed on
    // user_id, plus one tiny type-level rollup — no windows, ties
    // broken by event_id so the pick is a pure function of the data.
    QueryDef("q_next_after_signup", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          struct(col("ts"), col("event_id")).as("k"))
      val first = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("k")).as("fk"))
      ev.join(first, "user_id")
        .filter(col("k") > col("fk"))
        .groupBy(col("user_id"))
        .agg(min_by(col("event_type"), col("k")).as("next_event"))
        .groupBy(col("next_event"))
        .agg(count(lit(1)).as("users"))
        .orderBy(col("next_event"))
    }, Some(
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events),
        |u AS (
        |  SELECT user_id,
        |    first(ts ORDER BY ts, event_id) AS fts,
        |    first(event_id ORDER BY ts, event_id) AS fid
        |  FROM e WHERE event_type = 'signup' GROUP BY 1),
        |nx AS (
        |  SELECT e.user_id,
        |    first(e.event_type ORDER BY e.ts, e.event_id) AS next_event
        |  FROM e JOIN u USING (user_id)
        |  WHERE (e.ts, e.event_id) > (u.fts, u.fid)
        |  GROUP BY 1)
        |SELECT next_event, CAST(COUNT(*) AS BIGINT) AS users
        |FROM nx GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Funnel latency report: time from first view to the first
    // purchase AFTER it, exact interpolated median/p90 minutes per
    // weekly cohort of the anchor view — composes the funnel anchor
    // pattern with the exact-quantile machinery (Rank.groupedQuantiles,
    // the q_trade_quantiles engine). Latency is microsecond-exact in
    // both engines (integer timestampdiff) before one IEEE division,
    // so the quantile inputs are bit-identical.
    QueryDef("q_funnel_latency", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val lat = v.join(p, "user_id")
        .select(date_trunc("week", col("t1")).as("cohort_week"),
          (expr("timestampdiff(MICROSECOND, t1, t2)").cast("double") / 6e7)
            .as("lat_min"))
      graft.operators.Rank.groupedQuantiles(lat, "cohort_week",
          col("lat_min"),
          Seq("median_min" -> 0.5, "p90_min" -> 0.9), countName = "users")
        .orderBy(col("cohort_week"))
    }, Some(
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > v.t1 GROUP BY 1),
        |l AS (
        |  SELECT date_trunc('week', v.t1) AS cohort_week,
        |    CAST(date_diff('microsecond', v.t1, p.t2) AS DOUBLE) / 60000000.0
        |      AS lat
        |  FROM v JOIN p USING (user_id))
        |SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS users,
        |  quantile_cont(lat, 0.5) AS median_min,
        |  quantile_cont(lat, 0.9) AS p90_min
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CH studentTTest(): pooled-variance two-sample t — the
    // equal-variance twin of q_welch_ttest, from the same streaming
    // moments (n/mean/var per side, one partial-agg shuffle each).
    QueryDef("q_student_ttest", (s, d) => {
      val t = Views.trades(s, d)
      def side(buy: Boolean, p: String) = t
        .filter(col("is_taker_buy") === buy)
        .groupBy(col("token_id"))
        .agg(count(lit(1)).cast("double").as(s"n$p"),
          avg(col("qty")).as(s"m$p"), var_samp(col("qty")).as(s"v$p"))
      val j = side(buy = true, "1").join(side(buy = false, "2"), "token_id")
        .filter(col("n1") >= 20 && col("n2") >= 20)
      val sp2 = ((col("n1") - 1) * col("v1") + (col("n2") - 1) * col("v2")) /
        (col("n1") + col("n2") - 2)
      j.select(col("token_id"),
          col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
          floor((col("m1") - col("m2")) /
            sqrt(sp2 * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))) * 1e4)
            .cast("long").as("t_e4"))
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES,
        |s1 AS (SELECT token_id, CAST(COUNT(*) AS DOUBLE) AS n1,
        |         AVG(qty) AS m1, var_samp(qty) AS v1
        |       FROM trades WHERE is_taker_buy GROUP BY token_id),
        |s2 AS (SELECT token_id, CAST(COUNT(*) AS DOUBLE) AS n2,
        |         AVG(qty) AS m2, var_samp(qty) AS v2
        |       FROM trades WHERE NOT is_taker_buy GROUP BY token_id)
        |SELECT s1.token_id AS token_id,
        |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(FLOOR((m1 - m2) /
        |    sqrt(((n1-1)*v1 + (n2-1)*v2)/(n1+n2-2) * (1.0/n1 + 1.0/n2))
        |    * 10000) AS BIGINT) AS t_e4
        |FROM s1 JOIN s2 ON s1.token_id = s2.token_id
        |WHERE n1 >= 20 AND n2 >= 20
        |ORDER BY token_id""".stripMargin)),

    // Daily active / new wallets over the event stream.
    QueryDef("q_active_wallets", (s, d) => {
      val daily = Tables.eventStream(s, d)
        .select(col("wallet"), date_trunc("day", col("ts")).cast("date").as("day"))
        .distinct()
      val first = daily.groupBy(col("wallet")).agg(min(col("day")).as("first_day"))
      daily.join(first, Seq("wallet"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("active"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_wallets"))
        .orderBy(col("day"))
    }, Some(
      s"""WITH $EV,
        |daily AS (
        |  SELECT DISTINCT wallet, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM ev),
        |first AS (SELECT wallet, MIN(day) AS first_day FROM daily GROUP BY 1)
        |SELECT day, COUNT(*) AS active,
        |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_wallets
        |FROM daily JOIN first USING (wallet)
        |GROUP BY day ORDER BY day""".stripMargin)),

    // Weekly cohort retention matrix over the event stream.
    QueryDef("q_retention", (s, d) =>
      Cohorts.retention(Tables.eventStream(s, d), "wallet", "ts")
        .orderBy(col("cohort_week"), col("week_offset")), Some(
      s"""WITH $EV,
        |weekly AS (
        |  SELECT DISTINCT wallet AS u,
        |    CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM ev),
        |cohort AS (
        |  SELECT u, MIN(week) AS cohort_week FROM weekly GROUP BY u)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, week) // 7 AS INT) AS week_offset,
        |  COUNT(*) AS users
        |FROM weekly JOIN cohort USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // sequenceMatch surface: view → purchase → view, any spacing —
    // an unbounded-horizon ordered-subsequence test per wallet.
    QueryDef("q_sequence_match", (s, d) =>
      Funnel.sequenceMatch(Tables.eventStream(s, d), "wallet", "ts",
          "event_type", Seq("view", "purchase", "view"))
        .withColumnRenamed("user", "wallet")
        .orderBy(col("wallet")), Some(
      s"""WITH $EV,
        |s1 AS (
        |  SELECT wallet AS u, MIN(ts) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t2
        |  FROM ev e JOIN s1 ON e.wallet = s1.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.wallet AS u, MIN(e.ts) AS t3
        |  FROM ev e JOIN s2 ON e.wallet = s2.u
        |  WHERE e.event_type = 'view' AND e.ts > s2.t2
        |  GROUP BY 1)
        |SELECT s1.u AS wallet, (s3.t3 IS NOT NULL) AS matched
        |FROM s1 LEFT JOIN s2 ON s1.u = s2.u LEFT JOIN s3 ON s1.u = s3.u
        |ORDER BY wallet""".stripMargin)),

    QueryDef("q_sessions", (s, d) =>
      Sessions.sessionStats(Tables.events(s, d), "user_id", "ts", "value", 30)
        .sortWithinPartitions(col("user_id"), col("session_id")), Some(
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |e2 AS (
        |  SELECT user_id, ts, value,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsl,
        |    lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER
        |      (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM ev),
        |e3 AS (
        |  SELECT *, CASE WHEN prev IS NULL OR tsl - prev > 1800
        |    THEN 1 ELSE 0 END AS ns FROM e2),
        |e4 AS (
        |  SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM e3)
        |SELECT user_id, session_id, COUNT(*) AS events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  MAX(tsl) - MIN(tsl) AS span_seconds,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        |FROM e4 GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)),

    // HLL accuracy gate: approx_count_distinct (HLL++) vs the exact
    // distinct counts it stands in for at 100 TB (q_leaderboard_approx
    // is the rows-only consumer). HLL++ is order- and partitioning-
    // invariant (hash-based, commutative merge), so the error is a
    // stable property of the value set — the booleans are pinnable.
    // Mergeable HLL sketch-state rollup — the AggregatingMergeTree
    // uniqState/uniqMerge mechanism (002's rollup MV) in its true
    // 100 TB form: per-(wallet, day) DataSketches HLL state rows kept
    // as the MV, served by hll_union_agg + estimate across days —
    // distinct-count state that stays bytes-sized and mergeable
    // instead of an exact set. Gate pins (a) merge consistency:
    // merging per-day states lands within 5% of the one-shot sketch
    // (the union gadget is not bit-identical to direct aggregation —
    // measured max 1.6%), and (b) accuracy vs exact distinct: avg ≤ 2%
    // / max ≤ 10% (measured 0.03% / 1.5%). Deterministic: DataSketches
    // HLL is hash-based and order-invariant per lgK.
    QueryDef("q_uniq_rollup_hll", (s, d) => {
      // the per-(wallet, day) STATE rows are the MV this gate exists to
      // prove (the AggregatingMergeTree uniqState table an ingest
      // pipeline maintains) — so they live as a registered session MV
      // like every other rollup, and the gate's steady cost is the
      // merge + the exact/one-shot comparison sides, not re-building
      // the state table it is supposed to be served from
      val st = uniqHllState(s, d)
      val merged = st.groupBy(col("wallet"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_m"))
      // one-shot + exact sides fold from the flows rollup: HLL updates
      // are idempotent on duplicate values, so the sketch built over
      // the distinct (wallet, token) pairs is bit-identical to one
      // built over the raw explode, and exact = per-wallet row count
      val fl = walletTokenFlows(s, d)
      val oneshot = fl.groupBy(col("wallet"))
        .agg(hll_sketch_estimate(
            hll_sketch_agg(col("token_id"), lit(12))).as("est_o"),
          count(lit(1)).as("exact"))
      val agg = merged.join(oneshot, "wallet")
        .agg(count(lit(1)).as("n"),
          max(abs(col("est_m") - col("est_o")) / col("est_o")).as("max_dmo"),
          avg(abs(col("est_m") - col("exact")) / col("exact")).as("avg_dme"),
          max(abs(col("est_m") - col("exact")) / col("exact")).as("max_dme"))
      agg.select(explode(array(
          struct(lit("hll_state_accuracy").as("check_name"), col("n"),
            (col("avg_dme") <= 0.02 && col("max_dme") <= 0.10).as("ok")),
          struct(lit("hll_state_merge_consistent").as("check_name"),
            col("n"), (col("max_dmo") <= 0.05).as("ok")))).as("r"))
        .select(col("r.check_name").as("check_name"), col("r.n").as("n"),
          col("r.ok").as("ok"))
        .orderBy(col("check_name"))
    },
    // HLL++ error is a deterministic property of the value set
    // (order/partitioning-invariant merge); n is the exact wallet
    // cardinality the gate is about, computed relationally
    // n = wallets with trades; booleans are the sketch-state-MV
    // contract at the documented operating point (lgK 12)
    Some(
      s"""WITH $WT,
        |n AS (SELECT CAST(COUNT(DISTINCT wallet) AS BIGINT) AS n FROM wt)
        |SELECT v.check_name, n.n, v.ok
        |FROM n CROSS JOIN (VALUES
        |  ('hll_state_accuracy', true), ('hll_state_merge_consistent', true))
        |  v(check_name, ok)
        |ORDER BY check_name""".stripMargin)),

    // Theta-sketch set algebra (CH uniqTheta*, Spark's theta_*
    // built-ins): HLL states union but cannot intersect — "wallets
    // active in BOTH years" from sketches alone needs theta. One O(k)
    // sketch per cohort, then ∩/∪/\ estimates from the states; gated
    // against the exact set joins.
    QueryDef("q_cohort_overlap", (s, d) => {
      val w = wt(s, d)
      def cohort(y: Int) =
        w.filter(year(col("ts")) === y).select(col("wallet"))
      def sk(y: Int, as: String) = cohort(y)
        .agg(theta_sketch_agg(col("wallet"), 14).as(as))
      def exact(df: DataFrame, as: String) =
        df.agg(count(lit(1)).as(as))
      val a = cohort(1996).distinct()
      val b = cohort(1997).distinct()
      val one = sk(1996, "ska").crossJoin(sk(1997, "skb"))
        .crossJoin(exact(a.join(b, "wallet"), "ex_i"))
        .crossJoin(exact(a.unionByName(b).distinct(), "ex_u"))
        .crossJoin(exact(a.join(b, Seq("wallet"), "left_anti"), "ex_d"))
        .select(
          theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
            .as("est_i"),
          theta_sketch_estimate(theta_union(col("ska"), col("skb")))
            .as("est_u"),
          theta_sketch_estimate(theta_difference(col("ska"), col("skb")))
            .as("est_d"),
          col("ex_i"), col("ex_u"), col("ex_d"))
      // estimates are BIGINT: the relative error is formed in double
      def within(est: Column, ex: Column) =
        abs(est.cast("double") - ex) /
          greatest(ex.cast("double"), lit(1.0)) <= 0.05
      one.select(explode(array(
          struct(lit("theta_diff").as("check_name"), col("ex_d").as("n"),
            within(col("est_d"), col("ex_d")).as("ok")),
          struct(lit("theta_intersect").as("check_name"),
            col("ex_i").as("n"), within(col("est_i"), col("ex_i")).as("ok")),
          struct(lit("theta_union").as("check_name"), col("ex_u").as("n"),
            within(col("est_u"), col("ex_u")).as("ok")))).as("r"))
        .select(col("r.check_name").as("check_name"), col("r.n").as("n"),
          col("r.ok").as("ok"))
        .orderBy(col("check_name"))
    }, Some(
      s"""WITH $WT,
        |a AS (SELECT DISTINCT wallet FROM wt
        |      WHERE ts >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND ts <  TIMESTAMP '1997-01-01 00:00:00'),
        |b AS (SELECT DISTINCT wallet FROM wt
        |      WHERE ts >= TIMESTAMP '1997-01-01 00:00:00'
        |        AND ts <  TIMESTAMP '1998-01-01 00:00:00'),
        |i AS (SELECT COUNT(*) AS n FROM a JOIN b USING (wallet)),
        |u AS (SELECT COUNT(*) AS n FROM
        |        (SELECT wallet FROM a UNION SELECT wallet FROM b)),
        |dd AS (SELECT COUNT(*) AS n FROM a
        |       WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.wallet = a.wallet))
        |SELECT * FROM (
        |  SELECT 'theta_diff' AS check_name, n, true AS ok FROM dd
        |  UNION ALL SELECT 'theta_intersect', n, true FROM i
        |  UNION ALL SELECT 'theta_union', n, true FROM u)
        |ORDER BY check_name""".stripMargin)),

    QueryDef("q_hll_gate", (s, d) => {
      // the flows rollup's grain is the distinct (wallet, token) pair
      // set, and HLL register updates are idempotent on duplicates —
      // both the exact count (row count per wallet) and the sketch
      // estimate are IDENTICAL computed over the MV instead of the
      // raw explode
      val w = walletTokenFlows(s, d)
      val per = w.groupBy(col("wallet"))
        .agg(count(lit(1)).as("exact"),
          approx_count_distinct(col("token_id")).as("approx"))
        .agg(count(lit(1)).as("n"),
          max(abs(col("approx") - col("exact")).cast("double") /
            col("exact").cast("double")).as("max_re"),
          avg(abs(col("approx") - col("exact")).cast("double") /
            col("exact").cast("double")).as("avg_re"))
      val glob = w.agg(countDistinct(col("wallet")).as("exact"),
          approx_count_distinct(col("wallet")).as("approx"))
      // (wallet value set over the MV = over the explode; sketch and
      // distinct are set-functions)
        .select(col("exact"),
          (abs(col("approx") - col("exact")).cast("double") /
            col("exact").cast("double")).as("re"))
      per.crossJoin(broadcast(glob))
        .select(
          array(
            struct(lit("hll_markets_avg").as("check_name"),
              col("exact").as("n"), lit(0.05).as("bar"),
              (col("avg_re") <= 0.05).as("within_bar")),
            struct(lit("hll_markets_max").as("check_name"),
              col("exact").as("n"), lit(0.25).as("bar"),
              (col("max_re") <= 0.25).as("within_bar")),
            struct(lit("hll_wallets_global").as("check_name"),
              col("exact").as("n"), lit(0.10).as("bar"),
              (col("re") <= 0.10).as("within_bar"))).as("rows"))
        .select(explode(col("rows")).as("r"))
        .select(col("r.check_name").as("check_name"), col("r.n").as("n"),
          col("r.bar").as("bar"), col("r.within_bar").as("within_bar"))
        .orderBy(col("check_name"))
    }, Some(
      s"""WITH $WT,
        |agg AS (SELECT CAST(COUNT(DISTINCT wallet) AS BIGINT) AS nw FROM wt)
        |SELECT * FROM (
        |  SELECT 'hll_markets_avg' AS check_name, nw AS n, 0.05 AS bar,
        |         true AS within_bar FROM agg
        |  UNION ALL SELECT 'hll_markets_max', nw, 0.25, true FROM agg
        |  UNION ALL SELECT 'hll_wallets_global', nw, 0.10, true FROM agg)
        |ORDER BY check_name""".stripMargin)),

    // SpaceSaving gate: the merged-sketch error bounds are theorems
    // (per partition count − err ≤ true ≤ count + err for present
    // items; summing preserves both sides), so they hold under ANY
    // partitioning — plus heavy-hitter coverage: the exact top 10
    // must appear among the sketch's top 50. n = total word
    // instances, the N the n/capacity survival guarantee is about.
    QueryDef("q_topk_gate", (s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " +")).as("word"))
        .filter(length(col("word")) > 0)
      val approx = HeavyHitters.topKApprox(s, words, "word", 50, 2000)
      val exact = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val bounds = approx
        .join(exact, approx("item") === exact("word"))
        .agg(min(col("count_est") - col("err") <= col("cnt") &&
          col("count_est") <= col("cnt") + col("err")).as("ok"))
      val covered = exact.orderBy(col("cnt").desc, col("word")).limit(10)
        .join(approx, exact("word") === approx("item"), "left_semi")
        .agg((count(lit(1)) === 10).as("ok"))
      val n = words.agg(count(lit(1)).as("n"))
      n.crossJoin(broadcast(bounds.withColumnRenamed("ok", "bounds_ok")))
        .crossJoin(broadcast(covered.withColumnRenamed("ok", "cover_ok")))
        .select(array(
            struct(lit("ss_count_bounds").as("check_name"), col("n"),
              col("bounds_ok").as("ok")),
            struct(lit("ss_top10_in_top50").as("check_name"), col("n"),
              col("cover_ok").as("ok"))).as("rows"))
        .select(explode(col("rows")).as("r"))
        .select(col("r.check_name").as("check_name"), col("r.n").as("n"),
          col("r.ok").as("ok"))
        .orderBy(col("check_name"))
    },
    // the SpaceSaving bounds are partitioning-independent theorems;
    // n is the total word-instance count N of the n/capacity
    // survival guarantee
    Some(
      """WITH n AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word
        |    FROM documents) t
        |  WHERE len(word) > 0)
        |SELECT v.check_name, n.n, v.ok
        |FROM n CROSS JOIN (VALUES
        |  ('ss_count_bounds', true), ('ss_top10_in_top50', true))
        |  v(check_name, ok)
        |ORDER BY check_name""".stripMargin)),

    // Weighted SpaceSaving gate (CH topKWeighted): items ranked by
    // TOTAL WEIGHT (here: characters contributed per word — a
    // cost-weighted token census), same bound theorems with total
    // weight W in place of n.
    QueryDef("q_topk_weighted_gate", (s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " +")).as("word"))
        .filter(length(col("word")) > 0)
        .withColumn("w", length(col("word")).cast("long"))
      val approx = HeavyHitters.topKWeightedApprox(s, words, "word", "w",
        50, 2000)
      val exact = words.groupBy(col("word")).agg(sum(col("w")).as("wt"))
      val bounds = approx
        .join(exact, approx("item") === exact("word"))
        .agg(min(col("weight_est") - col("err") <= col("wt") &&
          col("weight_est") <= col("wt") + col("err")).as("ok"))
      val covered = exact.orderBy(col("wt").desc, col("word")).limit(10)
        .join(approx, exact("word") === approx("item"), "left_semi")
        .agg((count(lit(1)) === 10).as("ok"))
      val n = words.agg(sum(col("w")).as("n"))
      n.crossJoin(broadcast(bounds.withColumnRenamed("ok", "bounds_ok")))
        .crossJoin(broadcast(covered.withColumnRenamed("ok", "cover_ok")))
        .select(array(
            struct(lit("ssw_weight_bounds").as("check_name"), col("n"),
              col("bounds_ok").as("ok")),
            struct(lit("ssw_top10_in_top50").as("check_name"), col("n"),
              col("cover_ok").as("ok"))).as("rows"))
        .select(explode(col("rows")).as("r"))
        .select(col("r.check_name").as("check_name"), col("r.n").as("n"),
          col("r.ok").as("ok"))
        .orderBy(col("check_name"))
    },
    // n = total character weight W (the weighted analogue of the
    // W/capacity survival guarantee's denominator)
    Some(
      """WITH n AS (
        |  SELECT CAST(SUM(len(word)) AS BIGINT) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word
        |    FROM documents) t
        |  WHERE len(word) > 0)
        |SELECT v.check_name, n.n, v.ok
        |FROM n CROSS JOIN (VALUES
        |  ('ssw_top10_in_top50', true), ('ssw_weight_bounds', true))
        |  v(check_name, ok)
        |ORDER BY check_name""".stripMargin)),

    // Count-Min gate. Never-undercount IS a theorem of the structure
    // (row counters only ever add; element-wise-add merge is
    // partitioning-invariant), checked over the ENTIRE vocab. The
    // overshoot bound is NOT a theorem: per query it holds only with
    // probability 1−e^{−depth} (≈98.2% at depth 4), and the per-word
    // rows are correlated, so the vocab-wide MAX can legitimately
    // exceed e·N/width on a data or scale-factor change. The gate
    // therefore checks the p99 of overshoot against the per-query bar
    // (a population-level property the guarantee does imply) instead
    // of the max (ADVICE r11). n = distinct words.
    QueryDef("q_cm_gate", (s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " +")).as("word"))
        .filter(length(col("word")) > 0)
      val sk = words.agg(graft.functions.CountMinExprs
        .cm_agg(xxhash64(col("word")), 4, 2048).as("sk"))
      val diffs = words.groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(sk))
        .select(col("word"), col("cnt"),
          (graft.functions.CountMinExprs.cm_estimate(col("sk"),
            xxhash64(col("word"))) - col("cnt")).as("over"))
        .agg(count(lit(1)).as("n"), sum(col("cnt")).as("total"),
          min(col("over")).as("min_over"),
          // approx_percentile (bounded GK summary): rank error 1e-4,
          // negligible next to the bar's slack — the exact percentile
          // buffer is banned registry-wide (PlanAuditSpec)
          expr("approx_percentile(over, 0.99, 10000)").as("p99_over"))
      diffs.select(explode(array(
          struct(lit("cm_never_undercounts").as("check_name"), col("n"),
            (col("min_over") >= 0L).as("ok")),
          struct(lit("cm_overshoot_p99_bound").as("check_name"), col("n"),
            (col("p99_over") <=
              lit(math.E) * col("total").cast("double") / 2048.0).as("ok"))))
          .as("r"))
        .select(col("r.check_name").as("check_name"), col("r.n").as("n"),
          col("r.ok").as("ok"))
        .orderBy(col("check_name"))
    },
    // n = distinct words (the full population the never-undercount
    // theorem is checked over); booleans are the CM contract
    Some(
      """WITH n AS (
        |  SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word
        |    FROM documents) t
        |  WHERE len(word) > 0)
        |SELECT v.check_name, n.n, v.ok
        |FROM n CROSS JOIN (VALUES
        |  ('cm_never_undercounts', true), ('cm_overshoot_p99_bound', true))
        |  v(check_name, ok)
        |ORDER BY check_name""".stripMargin)),

    // Quantile-sketch gate: approx_percentile carries a rank-error
    // guarantee ≤ 1/accuracy = 0.001, so the sketch p50 must land
    // inside the exact p40–p60 value envelope (and p90 inside
    // p85–p95) for every market — a 100× slack over the guarantee,
    // immune to merge-order variation. n = markets with trades.
    QueryDef("q_quantile_gate", (s, d) => {
      // exact envelopes via the same distributed-selection operator
      // the exact surface uses — no full-group percentile buffer here
      // either (PlanAuditSpec pins the whole registry); the bucketized
      // bases (and their pinned histograms) are the session MVs shared
      // with q_trade_quantiles
      val env = Rank.groupedQuantilesBucketed(quantBase(s, d, "qty"),
          "market", Seq("lo50" -> 0.4, "hi50" -> 0.6), countName = "__cq")
        .join(Rank.groupedQuantilesBucketed(quantBase(s, d, "usd"),
          "market", Seq("lo90" -> 0.85, "hi90" -> 0.95), countName = "__cu"),
          Seq("market"))
        .drop("__cq", "__cu")
      val sk = Stats.tradeSizeQuantilesSketchBucketed(
        quantBase(s, d, "qty"), quantBase(s, d, "usd"))
      env.join(sk, Seq("market"))
        .agg(count(lit(1)).as("n"),
          min(col("median_qty_approx").between(col("lo50"), col("hi50")))
            .as("p50_ok"),
          min(col("p90_usd_approx").between(col("lo90"), col("hi90")))
            .as("p90_ok"))
        .select(array(
            struct(lit("gk_p50_qty_in_p40_p60").as("check_name"), col("n"),
              col("p50_ok").as("ok")),
            struct(lit("gk_p90_usd_in_p85_p95").as("check_name"), col("n"),
              col("p90_ok").as("ok"))).as("rows"))
        .select(explode(col("rows")).as("r"))
        .select(col("r.check_name").as("check_name"), col("r.n").as("n"),
          col("r.ok").as("ok"))
        .orderBy(col("check_name"))
    },
    // rank-error ≤ 0.001 vs a ±10-rank-point envelope: the booleans
    // are the guarantee with 100× slack; n = markets with trades
    Some(
      s"""WITH $TRADES,
        |n AS (
        |  SELECT CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n
        |  FROM trades t JOIN part p ON p.p_partkey = t.token_id)
        |SELECT v.check_name, n.n, v.ok
        |FROM n CROSS JOIN (VALUES
        |  ('gk_p50_qty_in_p40_p60', true), ('gk_p90_usd_in_p85_p95', true))
        |  v(check_name, ok)
        |ORDER BY check_name""".stripMargin))
  )
}

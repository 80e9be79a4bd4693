package graft

import graft.model.Tables
import graft.sources.LogDecode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LogDecodeSpec extends SparkSpec {

  // trade_id collides in the synthetic data (duplicate (orderkey,
  // linenumber) pairs), so equality is multiset-based, not join-based
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("OrderFilled round trip recovers every trade field") {
    val trades = Tables.trades(spark, sf)
    val decoded = LogDecode.decodeOrderFilled(
        LogDecode.encodeOrderFilled(trades))
      .select(col("log_index"), col("maker"), col("taker"),
        col("is_maker_buy"), col("token_id"), col("usdc_i"),
        col("token_i"), col("fee_i"))
    val expected = trades.select(col("trade_id").as("log_index"),
      col("maker"), col("taker"), col("is_maker_buy"),
      (col("token_id") + LogDecode.TokenIdBase).as("token_id"),
      (col("usd") * 1000000).cast("long").as("usdc_i"),
      (col("qty") * 1000000).cast("long").as("token_i"),
      (col("fee") * 1000000).cast("long").as("fee_i"))
    assert(decoded.count() == trades.count(), "one decoded row per trade")
    assert(sameRows(decoded, expected), "decoded fields must equal the source")
  }

  test("decoders drop logs of other event types (topic0 filter)") {
    val trades = Tables.trades(spark, sf)
    val mixed = LogDecode.encodeOrderFilled(trades).unionByName(
      LogDecode.encodeTransferSingle(Tables.transfers(spark, sf)))
    assert(LogDecode.decodeOrderFilled(mixed).count() == trades.count())
    assert(LogDecode.decodeTransferSingle(mixed).count() == trades.count())
  }

  test("token_hex is the canonical 64-char word (256-bit-safe identity)") {
    val one = LogDecode.decodeOrderFilled(
        LogDecode.encodeOrderFilled(Tables.trades(spark, sf)))
      .select(length(col("token_hex")).as("len"),
        col("token_hex"), col("token_id")).limit(100)
    assert(one.filter(col("len") =!= 64).isEmpty)
    assert(one.filter(
      expr("conv(substr(token_hex, 49, 16), 16, 10)").cast("long")
        =!= col("token_id")).isEmpty)
  }

  test("TransferSingle round trip preserves movement and operator") {
    val tr = Tables.transfers(spark, sf)
    val decoded = LogDecode.decodeTransferSingle(
        LogDecode.encodeTransferSingle(tr))
      .select(col("log_index"), col("operator"), col("from"), col("to"),
        col("token_id"), col("amount_i"))
    val expected = tr.select(col("transfer_id").as("log_index"),
      lit(LogDecode.ExchangeOperator).as("operator"),
      col("from"), col("to"),
      (col("token_id") + LogDecode.TokenIdBase).as("token_id"),
      (col("value") * 1000000).cast("long").as("amount_i"))
    assert(sameRows(decoded, expected))
  }

  test("TransferBatch dynamic arrays decode element-exact in line order") {
    val li = Tables.lineitem(spark, sf)
    val logs = LogDecode.encodeTransferBatch(li, Tables.orders(spark, sf))
    val rows = LogDecode.explodeTransferBatch(
      LogDecode.decodeTransferBatch(logs))
    assert(rows.count() == li.count(), "one decoded element per lineitem")
    // element i of order o is the i-th lineitem in the encode's total
    // struct order (ln, token, amount) — mirror it exactly
    val expect = li.select(col("l_orderkey").as("log_index"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"),
          (col("l_quantity") * 1000000).cast("long")))
        .cast("long").as("elem_idx"),
      (col("l_partkey").cast("long") + LogDecode.TokenIdBase).as("token_id"),
      (col("l_quantity") * 1000000).cast("long").as("amount_i"))
    val got = rows.select(col("log_index"), col("elem_idx").cast("long"),
      col("token_id"), col("amount_i"))
    assert(sameRows(got, expect))
    assert(rows.filter(col("from") =!= 0L).isEmpty, "mint logs: from = 0")
  }

  test("decoded logs rebuild the canonical trade view column-exact") {
    // the end-to-end ingest claim: swap the trade source for log
    // decode and every downstream operator sees identical input
    // (price is recomputed downstream from usd/qty, not carried)
    val trades = Tables.trades(spark, sf)
    val rebuilt = LogDecode.decodedToTrades(LogDecode.decodeOrderFilled(
      LogDecode.encodeOrderFilled(trades)))
    val cols = Seq("trade_id", "ts", "maker", "taker", "token_id",
      "qty", "usd", "fee", "is_taker_buy", "is_maker_buy").map(col)
    assert(sameRows(rebuilt.select(cols: _*), trades.select(cols: _*)))
  }

  test("decode runs inside a structured stream (the processor topology)") {
    // the reference's ingest IS a stream of logs (processor.run,
    // main.ts:227) — decode must compose with readStream. Stateless
    // column exprs do, but this pins the topology end to end:
    // log stream -> decode -> trade rows -> grouped volume.
    val trades = Tables.trades(spark, sf)
    val dir = tempDir("graft-logstream").toString
    val logs = LogDecode.encodeOrderFilled(trades)
    logs.coalesce(2).write.parquet(s"$dir/logs")
    val decoded = LogDecode.decodedToTrades(LogDecode.decodeOrderFilled(
      spark.readStream.schema(logs.schema).parquet(s"$dir/logs")))
    val q = decoded.groupBy(col("token_id"))
      .agg(sum(col("usd")).as("vol"), count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("log_vol")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT * FROM log_vol")
    val want = trades.groupBy(col("token_id"))
      .agg(sum(col("usd")).as("vol"), count(lit(1)).as("n"))
    assert(sameRows(got, want), "streamed decode must match batch aggregate")
  }

  test("condition events: kind-dependent indexed sets decode correctly") {
    val orders = Tables.orders(spark, sf)
    val decoded = LogDecode.decodeConditionEvents(
      LogDecode.encodeConditionEvents(Tables.lineitem(spark, sf), orders))
    // conditionId rides topic3 for split/merge but data word 0 for
    // redemption; all three kinds must still recover the same value
    val badCond = decoded.filter(col("condition_hex") =!=
      lpad(lower(hex(col("log_index"))), 64, "0"))
    assert(badCond.isEmpty, "condition id must decode for every kind")
    assert(decoded.filter(col("collateral") =!= LogDecode.CollateralToken)
      .isEmpty, "collateral must decode from topic2 or data word 0")
    val kinds = decoded.groupBy(col("kind")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.keySet == Set("split", "merge", "redeem"))
    // the index-set array is the order's lineitems
    val expN = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey").as("log_index"))
      .agg(count(lit(1)).as("exp_n"))
    val badN = decoded.select(col("log_index"), size(col("index_sets"))
        .cast("long").as("n"))
      .join(expN, Seq("log_index"))
      .filter(col("n") =!= col("exp_n"))
    assert(badN.isEmpty, "index-set length must equal lineitem count")
  }

  test("NegRisk adapter family decodes all six events, address-filtered") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    // the fixture inner-joins lineitems (redemption needs the amounts
    // tail), so childless orders emit no log on either side
    val nOrders = orders.join(li.select(col("l_orderkey").as("o_orderkey"))
      .distinct(), Seq("o_orderkey")).count()
    val logs = LogDecode.encodeNegRiskEvents(orders, li)
    val decoded = LogDecode.decodeNegRiskEvents(logs)
    // the fixture emits split/merge decoys from the ConditionalTokens
    // address; a topic0-only decoder would see MORE than one row per
    // order — the address filter must drop exactly the decoys
    assert(logs.count() > nOrders, "fixture must contain decoys")
    assert(decoded.count() == nOrders,
      "wrong-address decoys must be dropped")
    val kinds = decoded.groupBy(col("kind")).count().collect()
      .map(_.getString(0)).toSet
    assert(kinds == Set("market_prepared", "question_prepared", "split",
      "merge", "redeem", "convert"))
    // main.ts:506: question_count = Number(event.index) + 1
    assert(decoded.filter(col("kind") === "question_prepared")
      .filter(col("question_count") =!= pmod(col("log_index"), lit(8L)) + 1L)
      .isEmpty, "question_count must be decoded index + 1")
    // the redemption amounts tail is the order's lineitems
    val expN = li.groupBy(col("l_orderkey").as("log_index"))
      .agg(count(lit(1)).as("exp_n"))
    assert(decoded.filter(col("kind") === "redeem")
      .join(expN, Seq("log_index"))
      .filter(col("n_amounts") =!= col("exp_n")).isEmpty,
      "amounts length must equal lineitem count")
    // indexed-uint256 topic: the index set decodes from topic3 itself
    assert(decoded.filter(col("kind") === "convert")
      .filter(col("index_set") =!= pmod(col("log_index"), lit(63L)) + 1L)
      .isEmpty, "indexSet must decode from the indexed topic")
  }

  test("FeeModule decode feeds the ledger's fee cash events (the seam)") {
    val trades = Tables.trades(spark, sf)
    val decoded = LogDecode.decodeFeeEvents(LogDecode.encodeFeeEvents(trades))
    assert(decoded.count() == trades.count(),
      "both module addresses accepted, wrong-address decoys dropped")
    val mods = decoded.select(col("module")).distinct().collect()
      .map(_.getString(0)).toSet
    assert(mods == Set(LogDecode.FeeModuleAddr, LogDecode.NegRiskFeeModuleAddr))
    // kind names ARE the ledger's cash-event kinds: decoded rows feed
    // Ledger.buildEvents unchanged (ledger-engine.ts:1811/:1838 —
    // usdc_delta = +amount, fees_paid down)
    val ev = decoded.select(
      col("to_wallet").as("wallet"),
      col("ts"),
      col("log_index").as("seq"),
      lit(0L).as("token_id"),
      col("kind"),
      lit(0.0).as("qty"),
      (coalesce(col("refund_i"), col("amount_i")).cast("double") / 1e6)
        .as("usd"),
      lit(0.0).as("fee"),
      lit(0L).as("token_id2"),
      lit(null).cast("array<long>").as("leg_tokens"),
      lit(null).cast("array<double>").as("leg_qtys"),
      lit(null).cast("array<long>").as("leg_tokens2"),
      lit(null).cast("array<double>").as("leg_qtys2"))
    val led = graft.operators.Ledger.buildEvents(spark, ev).toDF()
    assert(led.count() == decoded.count())
    val sums = led.agg(
      sum(col("usd_delta")).as("cash_in"),
      sum(col("fee")).as("fee_channel")).collect()(0)
    val expCash = decoded.agg(
      (sum(coalesce(col("refund_i"), col("amount_i"))) / 1e6).as("s"))
      .collect()(0).getDouble(0)
    assert(math.abs(sums.getDouble(0) - expCash) < 1e-6,
      "fee events must book usdc_delta = +amount")
    assert(math.abs(sums.getDouble(1) + expCash) < 1e-6,
      "fee events must reduce fees_paid by the same amount")
  }

  test("decoded NegRisk conversions drive the ledger's convert path") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val conv = LogDecode.decodeNegRiskEvents(
        LogDecode.encodeNegRiskEvents(orders, li))
      .filter(col("kind") === "convert")
    // the decoded indexed-uint256 index set selects the legs exactly
    // as ledger-engine.ts:1690-1706: burn the NO token of question i
    // when bit i is set, mint the YES token of the others (3-question
    // market, unit qty per leg)
    val bit = (i: Int) => shiftright(col("index_set"), i).bitwiseAND(lit(1L))
    val qs = sequence(lit(0), lit(2))
    val inSet = (i: org.apache.spark.sql.Column) =>
      pmod(floor(col("index_set") / pow(lit(2.0), i.cast("double")))
        .cast("long"), lit(2L)) === 1
    val ts0 = orders.select(col("o_orderkey").as("log_index"),
      col("o_orderdate").cast("timestamp").as("ts"))
    val ev = conv.join(ts0, Seq("log_index")).select(
      col("wallet"), col("ts"), col("log_index").as("seq"),
      lit(0L).as("token_id"), lit("convert").as("kind"),
      lit(0.0).as("qty"), lit(0.0).as("usd"), lit(0.0).as("fee"),
      lit(0L).as("token_id2"),
      transform(filter(qs, inSet), i => lit(400000L) + i.cast("long"))
        .as("leg_tokens"),
      transform(filter(qs, inSet), _ => lit(1.0)).as("leg_qtys"),
      transform(filter(qs, i => !inSet(i)), i => lit(410000L) + i.cast("long"))
        .as("leg_tokens2"),
      transform(filter(qs, i => !inSet(i)), _ => lit(1.0)).as("leg_qtys2"))
    val led = graft.operators.Ledger.buildEvents(spark, ev).toDF()
    assert(led.count() == conv.count(), "one ledger row per conversion")
    assert(led.filter(col("event_type") =!= "convert").isEmpty)
    assert(led.filter(col("usd_delta") =!= 0.0).isEmpty,
      "conversion moves no usdc (ledger-engine.ts:1670-1750)")
    // emitted qty = mint count (3 − popcount of bits 0..2), or the
    // burn count when every question is in the set (mint 0)
    val pop = bit(0) + bit(1) + bit(2)
    val expQty = when(lit(3L) - pop === 0L, pop.cast("double"))
      .otherwise((lit(3L) - pop).cast("double"))
    val chk = led.select(col("seq").as("log_index"), col("qty"))
      .join(conv.select(col("log_index"), col("index_set")), Seq("log_index"))
    assert(chk.filter(col("qty") =!= expQty).isEmpty,
      "per-event qty must follow the decoded index set")
  }

  test("condition lifecycle: denominator is the decoded numerator sum") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val decoded = LogDecode.decodeConditionLifecycle(
      LogDecode.encodeConditionLifecycle(orders, li))
    val withLi = orders.join(li.select(col("l_orderkey").as("o_orderkey"))
      .distinct(), Seq("o_orderkey"))
    // a prep per condition + a resolve for odd orders, decoys dropped
    val nOrders = withLi.count()
    val nOdd = withLi.filter(pmod(col("o_orderkey"), lit(2L)) === 1).count()
    assert(decoded.count() == nOrders + nOdd,
      "prep per order + resolve per odd order, decoys dropped")
    val prep = decoded.filter(col("kind") === "prep")
    assert(prep.count() == nOrders)
    assert(prep.filter(col("is_resolved")).isEmpty)
    assert(prep.filter(col("n_payouts").isNotNull).isEmpty,
      "prep rows carry no payout array (main.ts:392 payout_numerators: [])")
    // main.ts:413: payoutDenominator = reduce(numerators, +);
    // resolve log_index = 2·order + 1
    val expSum = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("exp_den"))
      .select((col("l_orderkey") * 2 + 1).as("log_index"), col("exp_den"))
    assert(decoded.filter(col("kind") === "resolve")
      .join(expSum, Seq("log_index"))
      .filter(col("payout_denominator") =!= col("exp_den")).isEmpty,
      "denominator must equal the numerator sum")
    // the merged conditions state: resolve overrides resolution
    // fields, prep supplies creation fields (main.ts upsert)
    val st = LogDecode.conditionsState(decoded)
    assert(st.count() == nOrders)
    assert(st.filter(col("is_resolved") &&
      col("payout_denominator").isNull).isEmpty)
    assert(st.filter(!col("is_resolved") &&
      col("resolved_log").isNotNull).isEmpty)
  }

  test("dynamic-array decode is allocation-bounded on a mixed log stream") {
    // Catalyst reorders merged filter conjuncts, so the tail-array
    // expression CAN evaluate on rows of other families before the
    // topic filter. An OrderFilled row reads offset 0 through its
    // zero asset word and a ~1e9 "length" from the adjacent word —
    // without the structural cap (len ≤ |data|/64 words) sequence()
    // allocates a billion-element array per row (r12 OOM). The mixed
    // stream here must decode the real rows and ignore the rest
    // without throwing or exploding.
    val trades = Tables.trades(spark, sf).limit(50)
    val fills = LogDecode.encodeOrderFilled(trades)
      .withColumn("addr", lit(LogDecode.ConditionalTokensAddr))
    val lifecycle = LogDecode.encodeConditionLifecycle(
      Tables.orders(spark, sf).limit(20), Tables.lineitem(spark, sf))
      .withColumn("ts", lit(null).cast("timestamp"))
    val mixed = fills.unionByName(lifecycle.select(fills.columns.map(col): _*))
    val decoded = LogDecode.decodeConditionLifecycle(mixed)
      // force the payout-array expressions into the same filter
      .filter(col("kind") === "resolve" && size(col("payouts")) > 0)
    val rows = decoded.collect()
    assert(rows.nonEmpty, "resolution rows decode from the mixed stream")
    assert(rows.forall(r => r.getAs[Seq[Long]]("payouts").size ==
      r.getAs[Long]("slot_count")),
      "payout arrays decode at their declared slot count")
  }

  test("ledger-topology seams: every event kind enters from raw logs") {
    import graft.sources.LogLedger
    val wtTaker = graft.operators.Leaderboard
      .walletTrades(Tables.trades(spark, sf))
      .filter(col("role") === "taker")
      .select(col("trade_id"), col("ts"), col("wallet"), col("token_id"),
        col("usd"))
    val logs = LogLedger.encodeTopologyLogs(wtTaker)
    val cond = LogLedger.conditionEvents(LogDecode.decodeConditionEvents(logs))
    val resol = LogLedger.resolutionEvents(
      LogDecode.decodeConditionLifecycle(logs))
    val xfer = LogLedger.transferEvents(LogDecode.decodeTransferSingle(logs))
    val conv = LogLedger.convertEvents(LogDecode.decodeNegRiskEvents(logs))
    val fees = LogLedger.feeEvents(LogDecode.decodeFeeEvents(logs))
    val kinds = cond.unionByName(xfer).unionByName(conv).unionByName(fees)
      .select(col("kind")).distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("split", "merge", "redeem", "transfer_out",
      "transfer_in", "convert", "fee_refund", "fee_withdrawal"),
      s"all seam kinds present, got $kinds")
    // zero-address senders (custkey 0 exists in the data) emit no
    // transfer_out, but their receiver still gets the transfer_in
    assert(xfer.filter(col("kind") === "transfer_out" &&
      col("wallet") === 0L).isEmpty)
    // resolution events wipe only zero-payout slots, one leg here
    val r = resol.select(size(col("leg_tokens")).as("n")).distinct().collect()
    assert(r.map(_.getInt(0)).forall(_ == 1))
    // the fold accepts the unioned stream end to end
    val events = cond.unionByName(xfer).unionByName(conv).unionByName(fees)
    val folded = graft.operators.Ledger.buildEvents(spark, events)
    assert(folded.count() > 0)
  }

  test("position-token registry dim: arbitrary ids above the formula bound") {
    import graft.sources.LogLedger
    // a condition whose base id is far above the 50 000 bound the
    // arithmetic stand-in needs — the injected dim maps its sets to
    // handpicked token ids the formula could never produce
    val baseId = 987654321L
    val word = LogDecode.TokenIdBase + baseId
    val ts = lit("2020-01-01 00:00:00").cast("timestamp")
    val decodedSplit = spark.range(1).select(
      lit(1L).as("log_index"), ts.as("ts"), lit("split").as("kind"),
      lit(42L).as("wallet"), LogDecode.toWord(lit(word)).as("condition_hex"),
      lit(0L).as("collateral"), lit(3000000L).as("amount_i"),
      array(lit(1L), lit(2L)).as("index_sets"))
    val registry = spark.range(1).select(
        lit(word).as("condition"), lit(1L).as("index_set"),
        lit(70000000001L).as("token_id"), lit(80000000001L).as("yes_token_id"))
      .unionByName(spark.range(1).select(
        lit(word).as("condition"), lit(2L).as("index_set"),
        lit(70000000002L).as("token_id"), lit(80000000002L).as("yes_token_id")))
    val legs = LogLedger.conditionEvents(decodedSplit, registry = Some(registry))
      .select(col("leg_tokens")).head.getSeq[Long](0).toList
    assert(legs == Seq(70000000001L, 70000000002L),
      s"split legs resolve through the dim, got $legs")

    // convert: NO and YES both come from the dim, not +offset math
    val decodedConvert = spark.range(1).select(
      lit(2L).as("log_index"), ts.as("ts"), lit("convert").as("kind"),
      LogDecode.toWord(lit(word)).as("market_hex"),
      lit(43L).as("wallet"), lit(2L).as("index_set"),
      lit(1000000L).as("amount_i"))
    val conv = LogLedger.convertEvents(decodedConvert, Some(registry))
      .select(col("token_id"), col("token_id2")).head
    assert(conv.getLong(0) == 70000000002L && conv.getLong(1) == 80000000002L,
      s"convert NO/YES resolve through the dim, got $conv")

    // resolution: losing-slot legs look up by slot index
    val decodedResolve = spark.range(1).select(
      lit(3L).as("log_index"), ts.as("ts"), lit("resolve").as("kind"),
      LogDecode.toWord(lit(word)).as("condition_hex"),
      array(lit(0L), lit(1L)).as("payouts"))
    val resLegs = LogLedger.resolutionEvents(decodedResolve, Some(registry))
      .select(col("leg_tokens")).head.getSeq[Long](0).toList
    assert(resLegs == Seq(70000000001L),
      s"losing slot 1 resolves through the dim, got $resLegs")

    // the formula-as-dim is exactly the inline formula: seams agree
    // row-for-row when fed formulaRegistry over the fixture's words
    val wtTaker = graft.operators.Leaderboard
      .walletTrades(graft.model.Tables.trades(spark, sf))
      .filter(col("role") === "taker")
      .select(col("trade_id"), col("ts"), col("wallet"), col("token_id"),
        col("usd"))
    val logs = LogLedger.encodeTopologyLogs(wtTaker)
    val decCond = LogDecode.decodeConditionEvents(logs)
    val dim = LogLedger.formulaRegistry(
      decCond.select(LogDecode.wordLong(col("condition_hex")).as("condition")))
    val inline = LogLedger.conditionEvents(decCond)
    val viaDim = LogLedger.conditionEvents(decCond, registry = Some(dim))
    assert(inline.exceptAll(viaDim).isEmpty && viaDim.exceptAll(inline).isEmpty,
      "formulaRegistry dim path ≡ inline formula path")
  }
}

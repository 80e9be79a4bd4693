package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ABI event-log decoding as pure column expressions — the
  * reference's ingest seam re-expressed Spark-first.
  *
  * Reference: main.ts:254-483 consumes raw EVM logs and decodes
  * `OrderFilled(bytes32,address,address,uint256,uint256,uint256,
  * uint256,uint256)` (abi/CTFExchange.ts:6), ERC1155
  * `TransferSingle`/`TransferBatch` (abi/ERC1155.ts:5-27) into
  * normalized trade/transfer rows. The codec itself is public ABI
  * layout: indexed params ride `topics[1..3]` as 32-byte words,
  * non-indexed params are consecutive 32-byte words in `data`, and
  * dynamic arrays (`uint256[]`) are head offsets pointing at a
  * length-prefixed tail.
  *
  * Spark-first: every field is a `substring`/`conv` column expression
  * over the hex string — whole-stage-codegen'd, pushdown-friendly
  * (the topic0 filter prunes at the scan), no UDF, no driver loop.
  * Dynamic arrays decode with `transform(sequence(...))` — one row
  * per log regardless of array length until the caller explodes.
  *
  * At 100 TB this is the map-side of ingest: decode is stateless and
  * embarrassingly parallel, so it runs in the scan stage of whatever
  * pipeline consumes it (the candle/ledger/balance builders), never
  * forcing its own shuffle.
  *
  * 256-bit honesty: asset/token ids on-chain are uint256 hashes that
  * overflow any numeric type, so decoded ids keep their canonical
  * 64-hex-char form (`*_hex` columns) — identity, grouping and joins
  * work on the string exactly like the reference's `toString()` ids.
  * Amount fields are additionally parsed from the low 8 bytes as
  * BIGINT (USDC/share amounts fit 63 bits by contract design).
  */
object LogDecode {

  /** keccak topic0 of each event (abi/CTFExchange.ts:6, ERC1155.ts:5,
    * ConditionalTokens.ts:6-8). */
  val OrderFilledTopic = "0xd0a08e8c493f9c94f29311604c9de1b4e8c8d4c06bd0c789af57f2d65bfec0f6"
  val TransferSingleTopic = "0xc3d58168c5ae7397731d063d5bbf3d657854427343f4c083240f7aacaa2d0f62"
  val TransferBatchTopic = "0x4a39dc06d4c0dbc64b70af90fd698a233a518aa5d07e595d983b8c0526c8f7fb"
  val PositionSplitTopic = "0x2e6bb91f8cbcda0c93623c54d0403a43514fabc40084ec96b6d5379a74786298"
  val PositionsMergeTopic = "0x6f13ca62553fcc2bcd2372180a43949c1e4cebba603901ede2f4e14f36b282ca"
  val PayoutRedemptionTopic = "0x2682012a4a4f1973119f1c9b90745d1bd91fa2bab387344f044cb3586864d18d"

  /** NegRisk adapter event topics (abi/NegRiskAdapter.ts:6-14). Note
    * the adapter's PositionSplit/PositionsMerge/PayoutRedemption are
    * DIFFERENT events from the ConditionalTokens family above — same
    * names, different signatures and topic0s — which is why the
    * reference discriminates every handler on BOTH topic0 and the
    * emitting address (main.ts:483-590). */
  val NrMarketPreparedTopic = "0xf059ab16d1ca60e123eab60e3c02b68faf060347c701a5d14885a8e1def7b3a8"
  val NrQuestionPreparedTopic = "0xaac410f87d423a922a7b226ac68f0c2eaf5bf6d15e644ac0758c7f96e2c253f7"
  val NrPositionSplitTopic = "0xbbed930dbfb7907ae2d60ddf78345610214f26419a0128df39b6cc3d9e5df9b0"
  val NrPositionsMergeTopic = "0xba33ac50d8894676597e6e35dc09cff59854708b642cd069d21eb9c7ca072a04"
  val NrPayoutRedemptionTopic = "0x9140a6a270ef945260c03894b3c6b3b2695e9d5101feef0ff24fec960cfd3224"
  val NrPositionsConvertedTopic = "0xb03d19dddbc72a87e735ff0ea3b57bef133ebe44e1894284916a84044deb367e"

  /** FeeModule event topics (abi/FeeModule.ts:6-7). FeeRefunded has an
    * INDEXED uint256 (`feeCharged` rides topic3, not data) and
    * FeeWithdrawn indexes nothing (all four params in data) — the two
    * layout extremes of the ABI. */
  val FeeRefundedTopic = "0xb608d2bf25d8b4b744ba23ce2ea9802ea955e216c064a62f42152fbf98958d24"
  val FeeWithdrawnTopic = "0x6ce49f8691a80db5eb4f60cd55b14640529346a7ddf9bf8f77a423fa6a10bfdb"

  /** ConditionalTokens lifecycle topics (abi/ConditionalTokens.ts:9-10).
    * ConditionResolution carries the payout-numerator dynamic array
    * that drives the reference's resolution/redemption math
    * (main.ts:380-435). */
  val ConditionPreparationTopic = "0xab3760c3bd2bb38b5bcf54dc79802ed67338b4cf29f3054ded67ed24661e4177"
  val ConditionResolutionTopic = "0xb44d84d3289691f71497564b85d4233648d9dbae8cbdbb4329f301c3a0185894"

  /** Synthetic contract addresses (20-byte, lowercase hex like the
    * reference's `log.address.toLowerCase()` comparisons): the
    * fixtures emit real events from the right address plus decoy rows
    * from the wrong one, so a decoder that filters on topic0 alone
    * (the naive bug the dual-address reality trips, main.ts:489 vs
    * :385) hash-mismatches. */
  def toAddr(v: Long): String = "0x" + f"$v%040x"
  val NegRiskAdapterAddr = toAddr(551000L)
  val ConditionalTokensAddr = toAddr(553000L)
  val FeeModuleAddr = toAddr(552000L)
  val NegRiskFeeModuleAddr = toAddr(552001L)

  // ---------------------------------------------------------------
  // word-level primitives (all pure column expressions)
  // ---------------------------------------------------------------

  /** 32-byte word `i` (0-based) of an un-prefixed hex data string. */
  def word(data: Column, i: Int): Column = substring(data, i * 64 + 1, 64)

  /** Low 8 bytes of a 32-byte word as BIGINT (amounts ≤ 2^63). */
  def wordLong(w: Column): Column =
    conv(substring(w, 49, 16), 16, 10).cast("long")

  /** Left-pad a BIGINT into a 32-byte hex word (encode side). */
  def toWord(v: Column): Column =
    lpad(lower(hex(v.cast("long"))), 64, "0")

  /** Spread an encode input across the full shuffle-partition count
    * BEFORE the word-building projection. The encoders expand every
    * row ~10× (five-plus 64-char words from a few longs), so their
    * stage is expensive-compute-on-cheap-input — exactly the shape
    * AQE's size-based coalescing gets wrong: it sees the small INPUT
    * bytes, folds the stage to one partition, and the string build
    * runs single-threaded (measured: a 400 s lone task at sf0.1). An
    * explicit-count repartition is exempt from AQE coalescing, so the
    * expansion keeps the full task parallelism. */
  private[sources] def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    df.repartition(n)
  }

  // ---------------------------------------------------------------
  // encoders — deterministic raw-log fixtures from the trade view
  // (the test stand-in for a chain RPC feed; every field is exact)
  // ---------------------------------------------------------------

  /** On-chain CTF asset ids are nonzero keccak hashes — id 0 IS USDC
    * (main.ts USDC_ASSET_ID). The synthetic token-id space includes 0,
    * so the fixture shifts ids into the nonzero range; decoded rows
    * carry the on-chain id (consumers map back by subtracting). */
  val TokenIdBase = 1000000000L

  /** OrderFilled logs from the canonical trade view. Amounts use the
    * on-chain 6-decimal fixed point (USDC and CTF shares), so every
    * value is an exact integer. Asset-id convention per main.ts:268:
    * the buying side's asset is USDC (id 0), the other is the token. */
  def encodeOrderFilled(trades: DataFrame): DataFrame = {
    val usdcI = (col("usd") * 1000000).cast("long")
    val tokenI = (col("qty") * 1000000).cast("long")
    val feeI = (col("fee") * 1000000).cast("long")
    val chainToken = col("token_id") + TokenIdBase
    spread(trades).select(
      col("trade_id").as("log_index"),
      col("ts"),
      lit(OrderFilledTopic).as("topic0"),
      toWord(col("trade_id")).as("topic1"), // orderHash stand-in
      toWord(col("maker")).as("topic2"),
      toWord(col("taker")).as("topic3"),
      concat(
        toWord(when(col("is_maker_buy"), lit(0L)).otherwise(chainToken)),
        toWord(when(col("is_maker_buy"), chainToken).otherwise(lit(0L))),
        toWord(when(col("is_maker_buy"), usdcI).otherwise(tokenI)),
        toWord(when(col("is_maker_buy"), tokenI).otherwise(usdcI)),
        toWord(feeI)).as("data"))
  }

  /** The exchange contract executes every transfer — the constant
    * `operator` indexed param of ERC1155 transfer logs. */
  val ExchangeOperator = 777000L

  /** TransferSingle logs from the transfers view (one token movement
    * seller → buyer per trade; reference: polymarket.transfers). */
  def encodeTransferSingle(transfers: DataFrame): DataFrame =
    spread(transfers).select(
      col("transfer_id").as("log_index"),
      col("ts"),
      lit(TransferSingleTopic).as("topic0"),
      toWord(lit(ExchangeOperator)).as("topic1"),
      toWord(col("from")).as("topic2"),
      toWord(col("to")).as("topic3"),
      concat(
        toWord(col("token_id") + TokenIdBase),
        toWord((col("value") * 1000000).cast("long"))).as("data"))

  /** TransferBatch logs: one log per order, the order's lineitems as
    * the ids/values arrays — real ABI dynamic-array layout (two head
    * offsets, then length-prefixed tails). Element order is the
    * line-number order, pinned by array_sort over (linenumber, …)
    * structs (collect_list alone is nondeterministic). */
  def encodeTransferBatch(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val li = lineitem.select(
      col("l_orderkey").as("order_id"), col("l_linenumber").as("ln"),
      (col("l_partkey").cast("long") + TokenIdBase).as("token_id"),
      (col("l_quantity") * 1000000).cast("long").as("amount_i"))
    val elems = li
      .groupBy(col("order_id"))
      .agg(array_sort(collect_list(struct(col("ln"), col("token_id"),
        col("amount_i")))).as("xs"))
    val n = size(col("xs"))
    val idWords = concat_ws("",
      transform(col("xs"), x => toWord(x.getField("token_id"))))
    val valWords = concat_ws("",
      transform(col("xs"), x => toWord(x.getField("amount_i"))))
    spread(elems
      .join(orders.select(col("o_orderkey").as("order_id"),
        col("o_custkey").cast("long").as("to_wallet")), Seq("order_id")))
      .select(
        col("order_id").as("log_index"),
        lit(TransferBatchTopic).as("topic0"),
        toWord(lit(ExchangeOperator)).as("topic1"),    // operator
        toWord(lit(0L)).as("topic2"),                  // from: mint
        toWord(col("to_wallet")).as("topic3"),
        concat(
          toWord(lit(64L)),                            // ids offset
          toWord(lit(96L) + n.cast("long") * 32L),     // values offset
          toWord(n.cast("long")),                      // ids length
          idWords,
          toWord(n.cast("long")),                      // values length
          valWords).as("data"))
  }

  /** The collateral (USDC) contract as an address word. */
  val CollateralToken = 888000L

  /** Condition-token lifecycle logs, one per order:
    * order_id % 3 picks PositionSplit / PositionsMerge /
    * PayoutRedemption. These three events share the ABI shape that
    * exercises the general codec: a dynamic `uint256[]` SANDWICHED
    * between static words — the head holds (static, offset, static),
    * the array tail follows. Split/merge carry the collateral address
    * in data word 0 and index the conditionId (topic3); redemption
    * indexes the collateral (topic2) and carries conditionId in data
    * word 0 (ConditionalTokens.ts:6-8 — same signature arity,
    * different indexed sets, which is exactly what trips naive
    * positional decoders).
    *
    * amount/payout: o_totalprice in exact cents. Index sets: the
    * order's lineitems as (partkey+1) values, line order. */
  def encodeConditionEvents(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val li = lineitem.select(
      col("l_orderkey").as("order_id"), col("l_linenumber").as("ln"),
      (col("l_partkey").cast("long") + 1L).as("index_set"))
    val elems = li.groupBy(col("order_id"))
      .agg(array_sort(collect_list(struct(col("ln"), col("index_set"))))
        .as("xs"))
    val n = size(col("xs"))
    val setWords = concat_ws("",
      transform(col("xs"), x => toWord(x.getField("index_set"))))
    val kind = pmod(col("order_id"), lit(3L))
    spread(elems
      .join(orders.select(col("o_orderkey").as("order_id"),
        col("o_custkey").cast("long").as("wallet"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents")), Seq("order_id")))
      .select(
        col("order_id").as("log_index"),
        when(kind === 0, PositionSplitTopic)
          .when(kind === 1, PositionsMergeTopic)
          .otherwise(PayoutRedemptionTopic).as("topic0"),
        toWord(col("wallet")).as("topic1"),        // stakeholder/redeemer
        when(kind === 2, toWord(lit(CollateralToken)))
          .otherwise(toWord(lit(0L))).as("topic2"), // redeem: collateral
        when(kind === 2, toWord(lit(0L)))
          .otherwise(toWord(col("order_id"))).as("topic3"), // conditionId
        concat(
          // data word 0: collateral (split/merge) vs conditionId (redeem)
          when(kind === 2, toWord(col("order_id")))
            .otherwise(toWord(lit(CollateralToken))),
          toWord(lit(96L)),                        // array offset
          toWord(col("cents")),                    // amount / payout
          toWord(n.cast("long")),
          setWords).as("data"))
  }

  // ---------------------------------------------------------------
  // decoders
  // ---------------------------------------------------------------

  /** Decode OrderFilled logs into the reference's normalized trade
    * shape (main.ts:262-300): direction from which asset id is USDC,
    * token/usdc amount assignment, integer price-per-token in
    * micro-USDC per share. Non-matching topic0 rows are dropped (the
    * processor's topic filter). */
  def decodeOrderFilled(logs: DataFrame): DataFrame = {
    val makerAsset = word(col("data"), 0)
    val takerAsset = word(col("data"), 1)
    val makerAmt = wordLong(word(col("data"), 2))
    val takerAmt = wordLong(word(col("data"), 3))
    val zeroWord = lpad(lit("0"), 64, "0")
    val isMakerBuy = makerAsset === zeroWord
    logs.filter(col("topic0") === OrderFilledTopic)
      .select(
        col("log_index"), col("ts"),
        col("topic1").as("order_hash"),
        wordLong(col("topic2")).as("maker"),
        wordLong(col("topic3")).as("taker"),
        isMakerBuy.as("is_maker_buy"),
        when(isMakerBuy, takerAsset).otherwise(makerAsset).as("token_hex"),
        wordLong(when(isMakerBuy, takerAsset).otherwise(makerAsset))
          .as("token_id"),
        when(isMakerBuy, makerAmt).otherwise(takerAmt).as("usdc_i"),
        when(isMakerBuy, takerAmt).otherwise(makerAmt).as("token_i"),
        wordLong(word(col("data"), 4)).as("fee_i"))
      .withColumn("price_ppm",
        expr("usdc_i * 1000000L div token_i"))
  }

  /** Decode TransferSingle logs (fixed layout: 3 indexed addresses,
    * id + value words in data). */
  def decodeTransferSingle(logs: DataFrame): DataFrame =
    logs.filter(col("topic0") === TransferSingleTopic)
      .select(
        col("log_index"), col("ts"),
        wordLong(col("topic1")).as("operator"),
        wordLong(col("topic2")).as("from"),
        wordLong(col("topic3")).as("to"),
        word(col("data"), 0).as("token_hex"),
        wordLong(word(col("data"), 0)).as("token_id"),
        wordLong(word(col("data"), 1)).as("amount_i"))

  /** The dynamic-array tail whose byte offset sits in head word `i`:
    * length-prefixed 32-byte words starting at that offset. Hex chars
    * = 2 × bytes, so the length word's low 8 bytes sit at char
    * ofs·2+49 and element j at char ofs·2 + 64·(j−1) + 65.
    * sequence(1,0) is DESCENDING in Spark — empty arrays need the
    * explicit guard.
    *
    * Allocation is BOUNDED even on foreign/corrupt rows: the decoded
    * length is capped at the data string's own word count (a length-n
    * tail structurally needs n·64 chars), and offsets/lengths parse
    * via try_cast (null, never throw). Without the cap, Catalyst's
    * predicate reordering can evaluate this expression on rows of
    * OTHER log families in a unioned stream BEFORE the topic filter —
    * an OrderFilled row reads a ~1e9 "length" through its zero asset
    * word and sequence() allocates a billion-element array per row
    * (measured OOM at sf0.001 in the r12 ledger-topology capstone). */
  private def tailArray(headWord: Int): Column = {
    val ofs =
      s"try_cast(conv(substr(data, ${headWord * 64 + 49}, 16), 16, 10) AS BIGINT)"
    val len =
      s"try_cast(conv(substr(data, ($ofs) * 2 + 49, 16), 16, 10) AS BIGINT)"
    expr(
      s"""CASE WHEN ($len) IS NULL OR ($len) < 1 THEN array()
         |     ELSE transform(
         |       sequence(1, int(least($len, length(data) div 64))),
         |       i -> substr(data, ($ofs) * 2 + 64 * (i - 1) + 65, 64))
         |END""".stripMargin)
  }

  /** Decode TransferBatch logs — dynamic `uint256[]` arrays. The head
    * words are byte offsets to each array's length-prefixed tail;
    * elements come out via transform(sequence(...)) over substr at a
    * computed position, so arbitrary-length batches stay one row per
    * log with two array columns (zip-exploded by the caller). */
  def decodeTransferBatch(logs: DataFrame): DataFrame =
    logs.filter(col("topic0") === TransferBatchTopic)
      .select(
        col("log_index"),
        wordLong(col("topic1")).as("operator"),
        wordLong(col("topic2")).as("from"),
        wordLong(col("topic3")).as("to"),
        tailArray(0).as("id_words"),
        tailArray(1).as("value_words"))

  /** Decode the condition-token lifecycle family into the normalized
    * split/merge/redemption rows of main.ts:305-380. One decoder for
    * the three events because they share arity but not indexed sets:
    * the kind column drives where conditionId and collateral come
    * from (topic vs data word), and the dynamic index-set array
    * decodes through its head offset regardless of kind. */
  def decodeConditionEvents(logs: DataFrame): DataFrame = {
    val kind = when(col("topic0") === PositionSplitTopic, "split")
      .when(col("topic0") === PositionsMergeTopic, "merge")
      .otherwise("redeem")
    val isRedeem = col("topic0") === PayoutRedemptionTopic
    val sets = tailArray(1) // the offset rides head word 1 in all three
    // block timestamp rides the log when the source carries one (the
    // ledger-topology fixture does; the standalone decode fixture
    // doesn't — schema unchanged there)
    val tsCols = if (logs.columns.contains("ts")) Seq(col("ts")) else Nil
    logs
      .filter(col("topic0").isin(PositionSplitTopic, PositionsMergeTopic,
        PayoutRedemptionTopic))
      .select(Seq(
        col("log_index")) ++ tsCols ++ Seq(
        kind.as("kind"),
        wordLong(col("topic1")).as("wallet"),
        when(isRedeem, word(col("data"), 0)).otherwise(col("topic3"))
          .as("condition_hex"),
        wordLong(when(isRedeem, col("topic2")).otherwise(word(col("data"), 0)))
          .as("collateral"),
        wordLong(word(col("data"), 2)).as("amount_i"),
        transform(sets, w => wordLong(w)).as("index_sets")): _*)
  }

  /** Rebuild the canonical trade view from decoded OrderFilled rows —
    * the adapter that lets every downstream operator (candles,
    * ledger, leaderboards, balances) run off log ingest unchanged
    * (LogDecodeSpec proves column-exact equality with
    * [[graft.model.Tables.trades]]). The 6-decimal integer amounts
    * divide back exactly: usd has ≤4 decimals and fee ≤6 by
    * construction, so the decimal casts lose nothing. */
  def decodedToTrades(decoded: DataFrame): DataFrame =
    decoded.select(
      col("log_index").as("trade_id"),
      col("ts"),
      col("maker"),
      col("taker"),
      (col("token_id") - TokenIdBase).as("token_id"),
      (col("token_i").cast("double") / 1000000.0).as("qty"),
      (col("usdc_i").cast("decimal(24,6)") / 1000000)
        .cast("decimal(18,4)").as("usd"),
      (col("fee_i").cast("decimal(24,6)") / 1000000)
        .cast("decimal(18,6)").as("fee"),
      (!col("is_maker_buy")).as("is_taker_buy"),
      col("is_maker_buy"))

  // ---------------------------------------------------------------
  // NegRisk adapter family (main.ts:483-590, abi/NegRiskAdapter.ts)
  // ---------------------------------------------------------------

  /** NegRisk adapter logs, one per order; `o_orderkey % 6` picks the
    * event. Deterministic field map (mirrored by the DuckDB oracle):
    *   - marketId / conditionId = word(o_orderkey)
    *   - stakeholder / redeemer = o_custkey; oracle = o_custkey+900000
    *   - questionId = word(o_orderkey + 7000000)
    *   - feeBips = o_orderkey % 1000; question index = o_orderkey % 8
    *   - indexSet = o_orderkey % 63 + 1 (indexed topic3 — uint256
    *     topics carry the value itself, no tail)
    *   - amount / payout = o_totalprice in exact cents
    *   - PayoutRedemption amounts[] = the order's lineitems'
    *     l_extendedprice cents in line order
    *   - MarketPrepared / QuestionPrepared `bytes data` = empty
    *     (head offset → zero-length tail)
    * Every split/merge row is ALSO emitted from the ConditionalTokens
    * address as a decoy the address filter must drop. */
  def encodeNegRiskEvents(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(
      col("l_orderkey").as("order_id"), col("l_linenumber").as("ln"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .as("amt_i"))
    val elems = li.groupBy(col("order_id"))
      .agg(array_sort(collect_list(struct(col("ln"), col("amt_i")))).as("xs"))
    val n = size(col("xs"))
    val amtWords = concat_ws("",
      transform(col("xs"), x => toWord(x.getField("amt_i"))))
    val kind = pmod(col("order_id"), lit(6L))
    val joined = spread(elems.join(
      orders.select(col("o_orderkey").as("order_id"),
        col("o_custkey").cast("long").as("wallet"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents")), Seq("order_id")))
    val emptyBytes = (static: Column) =>
      concat(toWord(static), toWord(lit(64L)), toWord(lit(0L)))
    val logs = joined.select(
      col("order_id").as("log_index"),
      lit(NegRiskAdapterAddr).as("addr"),
      when(kind === 0, NrMarketPreparedTopic)
        .when(kind === 1, NrQuestionPreparedTopic)
        .when(kind === 2, NrPositionSplitTopic)
        .when(kind === 3, NrPositionsMergeTopic)
        .when(kind === 4, NrPayoutRedemptionTopic)
        .otherwise(NrPositionsConvertedTopic).as("topic0"),
      when(kind.isin(0L, 1L), toWord(col("order_id")))     // marketId
        .otherwise(toWord(col("wallet"))).as("topic1"),    // stakeholder
      when(kind === 0, toWord(col("wallet") + 900000L))    // oracle
        .when(kind === 1, toWord(col("order_id") + 7000000L)) // questionId
        .otherwise(toWord(col("order_id"))).as("topic2"),  // cond/marketId
      when(kind === 5, toWord(pmod(col("order_id"), lit(63L)) + 1))
        .otherwise(toWord(lit(0L))).as("topic3"),          // indexSet
      when(kind === 0, emptyBytes(pmod(col("order_id"), lit(1000L))))
        .when(kind === 1, emptyBytes(pmod(col("order_id"), lit(8L))))
        .when(kind === 4, concat(
          toWord(lit(64L)),                                // amounts offset
          toWord(col("cents")),                            // payout
          toWord(n.cast("long")), amtWords))
        .otherwise(toWord(col("cents"))).as("data"))
    // decoys: same topics, wrong emitting contract — must be dropped
    val decoys = logs.filter(col("topic0").isin(
        NrPositionSplitTopic, NrPositionsMergeTopic))
      .withColumn("addr", lit(ConditionalTokensAddr))
    logs.unionByName(decoys)
  }

  /** Decode the six NegRisk adapter events into the normalized rows
    * of main.ts:483-590 — one decoder, kind-driven column sourcing,
    * filtered on topic0 AND the adapter address. `question_count` is
    * the reference's derived `Number(event.index) + 1` (main.ts:506).
    * Hex ids stay canonical words; amounts parse from the low 8
    * bytes. The PayoutRedemption amounts tail decodes through its
    * head offset like every other dynamic array. */
  def decodeNegRiskEvents(logs: DataFrame): DataFrame = {
    val t0 = col("topic0")
    val kind = when(t0 === NrMarketPreparedTopic, "market_prepared")
      .when(t0 === NrQuestionPreparedTopic, "question_prepared")
      .when(t0 === NrPositionSplitTopic, "split")
      .when(t0 === NrPositionsMergeTopic, "merge")
      .when(t0 === NrPayoutRedemptionTopic, "redeem")
      .otherwise("convert")
    val isMeta = t0.isin(NrMarketPreparedTopic, NrQuestionPreparedTopic)
    val amounts = transform(tailArray(0), w => wordLong(w))
    // block timestamp passthrough, as in decodeConditionEvents
    val tsCols = if (logs.columns.contains("ts")) Seq(col("ts")) else Nil
    logs
      .filter(col("addr") === NegRiskAdapterAddr && t0.isin(
        NrMarketPreparedTopic, NrQuestionPreparedTopic,
        NrPositionSplitTopic, NrPositionsMergeTopic,
        NrPayoutRedemptionTopic, NrPositionsConvertedTopic))
      .select(Seq(
        col("log_index")) ++ tsCols ++ Seq(
        kind.as("kind"),
        when(isMeta, col("topic1"))
          .when(t0 === NrPositionsConvertedTopic, col("topic2"))
          .as("market_hex"),
        when(t0.isin(NrPositionSplitTopic, NrPositionsMergeTopic,
          NrPayoutRedemptionTopic), col("topic2")).as("condition_hex"),
        when(t0 === NrQuestionPreparedTopic, col("topic2")).as("question_hex"),
        when(!isMeta, wordLong(col("topic1"))).as("wallet"),
        when(t0 === NrMarketPreparedTopic, wordLong(col("topic2"))).as("oracle"),
        when(t0 === NrMarketPreparedTopic, wordLong(word(col("data"), 0)))
          .as("fee_bips"),
        when(t0 === NrQuestionPreparedTopic,
          wordLong(word(col("data"), 0)) + 1L).as("question_count"),
        when(t0 === NrPositionsConvertedTopic, wordLong(col("topic3")))
          .as("index_set"),
        when(t0.isin(NrPositionSplitTopic, NrPositionsMergeTopic,
          NrPositionsConvertedTopic), wordLong(word(col("data"), 0)))
          .as("amount_i"),
        when(t0 === NrPayoutRedemptionTopic, wordLong(word(col("data"), 1)))
          .as("payout_i"),
        when(t0 === NrPayoutRedemptionTopic, size(amounts).cast("long"))
          .as("n_amounts"),
        when(t0 === NrPayoutRedemptionTopic,
          aggregate(amounts, lit(0L), (a, x) => a + x)).as("amounts_sum")): _*)
  }

  // ---------------------------------------------------------------
  // FeeModule family (main.ts:590-633, abi/FeeModule.ts)
  // ---------------------------------------------------------------

  /** FeeModule logs from the trade view, one per trade;
    * `trade_id % 2` picks FeeRefunded / FeeWithdrawn and
    * `trade_id % 4 < 2` picks which of the two live module addresses
    * emits (the reference accepts both, main.ts:594-596).
    *   FeeRefunded : topics = orderHash(trade_id), to(maker),
    *                 feeCharged(fee_i) — an INDEXED uint256;
    *                 data = [tokenId, refund = fee_i div 2]
    *   FeeWithdrawn: nothing indexed;
    *                 data = [collateral, to(maker), tokenId, fee_i]
    * Refund rows are also emitted from the ConditionalTokens address
    * as address-filter decoys. */
  def encodeFeeEvents(trades: DataFrame): DataFrame = {
    val feeI = (col("fee") * 1000000).cast("long")
    val chainToken = col("token_id") + TokenIdBase
    val isRefund = pmod(col("trade_id"), lit(2L)) === 0
    val module = when(pmod(col("trade_id"), lit(4L)) < 2, FeeModuleAddr)
      .otherwise(NegRiskFeeModuleAddr)
    val logs = spread(trades).select(
      col("trade_id").as("log_index"),
      col("ts"),
      module.as("addr"),
      when(isRefund, FeeRefundedTopic).otherwise(FeeWithdrawnTopic)
        .as("topic0"),
      when(isRefund, toWord(col("trade_id"))).otherwise(toWord(lit(0L)))
        .as("topic1"),                                    // orderHash
      when(isRefund, toWord(col("maker"))).otherwise(toWord(lit(0L)))
        .as("topic2"),                                    // to
      when(isRefund, toWord(feeI)).otherwise(toWord(lit(0L)))
        .as("topic3"),                                    // feeCharged
      when(isRefund,
        concat(toWord(chainToken), toWord(floor(feeI / 2).cast("long"))))
        .otherwise(concat(toWord(lit(CollateralToken)), toWord(col("maker")),
          toWord(chainToken), toWord(feeI))).as("data"))
    val decoys = logs.filter(col("topic0") === FeeRefundedTopic)
      .withColumn("addr", lit(ConditionalTokensAddr))
    logs.unionByName(decoys)
  }

  /** Decode FeeRefunded / FeeWithdrawn into the reference's
    * fee_refunds / fee_withdrawals rows (main.ts:600-633): kind names
    * match the ledger's cash-event kinds so decoded rows feed
    * [[graft.operators.Ledger.buildEvents]] directly
    * (LogDecodeSpec pins that seam). Accepts logs from EITHER module
    * address and keeps `module` so downstream can split by venue. */
  def decodeFeeEvents(logs: DataFrame): DataFrame = {
    val isRefund = col("topic0") === FeeRefundedTopic
    logs
      .filter(col("addr").isin(FeeModuleAddr, NegRiskFeeModuleAddr) &&
        col("topic0").isin(FeeRefundedTopic, FeeWithdrawnTopic))
      .select(
        col("log_index"), col("ts"),
        when(isRefund, "fee_refund").otherwise("fee_withdrawal").as("kind"),
        col("addr").as("module"),
        when(isRefund, col("topic1")).as("order_hash"),
        when(isRefund, wordLong(col("topic2")))
          .otherwise(wordLong(word(col("data"), 1))).as("to_wallet"),
        when(!isRefund, wordLong(word(col("data"), 0))).as("token"),
        when(isRefund, word(col("data"), 0)).otherwise(word(col("data"), 2))
          .as("token_hex"),
        when(isRefund, wordLong(word(col("data"), 0)))
          .otherwise(wordLong(word(col("data"), 2))).as("token_id"),
        when(isRefund, wordLong(word(col("data"), 1))).as("refund_i"),
        when(isRefund, wordLong(col("topic3"))).as("fee_charged_i"),
        when(!isRefund, wordLong(word(col("data"), 3))).as("amount_i"))
  }

  // ---------------------------------------------------------------
  // ConditionalTokens lifecycle (main.ts:380-435)
  // ---------------------------------------------------------------

  /** ConditionPreparation / ConditionResolution logs: EVERY order's
    * condition emits a preparation (log_index = 2·order), ODD orders
    * additionally resolve later (log_index = 2·order + 1) — so the
    * conditions-table upsert path sees both a prep and a resolve for
    * the same conditionId, like main.ts:385-434 ("Will be overwritten
    * by earlier prep"). Both index conditionId/oracle/questionId;
    * resolution adds the payout-numerator dynamic array AFTER the
    * static outcomeSlotCount word — numerators are the order's
    * lineitem quantities (exact integers) in line order, slot count =
    * the line count. Preparation rows are also emitted from the
    * NegRisk adapter address as decoys. */
  def encodeConditionLifecycle(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // (ln, pk) sort key: l_linenumber DUPLICATES within an order in
    // the synthetic data, so the element order pins the same
    // tiebreak as the oracle's ORDER BY (l_linenumber, l_partkey)
    val li = lineitem.select(
      col("l_orderkey").as("order_id"), col("l_linenumber").as("ln"),
      col("l_partkey").as("pk"),
      col("l_quantity").cast("long").as("num_i"))
    val elems = li.groupBy(col("order_id"))
      .agg(array_sort(collect_list(struct(col("ln"), col("pk"),
        col("num_i")))).as("xs"))
    val n = size(col("xs"))
    val numWords = concat_ws("",
      transform(col("xs"), x => toWord(x.getField("num_i"))))
    val base = spread(elems.join(
      orders.select(col("o_orderkey").as("order_id"),
        col("o_custkey").cast("long").as("wallet")), Seq("order_id")))
    val preps = base.select(
      (col("order_id") * 2).as("log_index"),
      lit(ConditionalTokensAddr).as("addr"),
      lit(ConditionPreparationTopic).as("topic0"),
      toWord(col("order_id")).as("topic1"),                // conditionId
      toWord(col("wallet") + 900000L).as("topic2"),        // oracle
      toWord(col("order_id") + 7000000L).as("topic3"),     // questionId
      toWord(n.cast("long")).as("data"))
    val resolves = base.filter(pmod(col("order_id"), lit(2L)) === 1)
      .select(
        (col("order_id") * 2 + 1).as("log_index"),
        lit(ConditionalTokensAddr).as("addr"),
        lit(ConditionResolutionTopic).as("topic0"),
        toWord(col("order_id")).as("topic1"),
        toWord(col("wallet") + 900000L).as("topic2"),
        toWord(col("order_id") + 7000000L).as("topic3"),
        concat(
          toWord(n.cast("long")),                          // slot count
          toWord(lit(64L)),                                // numerators ofs
          toWord(n.cast("long")), numWords).as("data"))
    val decoys = preps.withColumn("addr", lit(NegRiskAdapterAddr))
    preps.unionByName(resolves).unionByName(decoys)
  }

  /** Merge decoded lifecycle rows into the reference's `conditions`
    * state table (main.ts:385-434 upsert semantics): created_* comes
    * from the preparation, is_resolved / payout numerators from the
    * resolution when one exists — resolution rows "will be
    * overwritten by earlier prep" for creation fields and override
    * resolution fields. One partial-agg groupBy per condition. */
  def conditionsState(decoded: DataFrame): DataFrame = {
    val isRes = col("kind") === "resolve"
    decoded.groupBy(col("condition_hex"))
      .agg(
        max(col("oracle")).as("oracle"),
        max(col("question_hex")).as("question_hex"),
        max(col("slot_count")).as("slot_count"),
        (sum(when(isRes, 1L).otherwise(0L)) > 0).as("is_resolved"),
        min(when(!isRes, col("log_index"))).as("created_log"),
        max(when(isRes, col("log_index"))).as("resolved_log"),
        max(when(isRes, col("payout_denominator"))).as("payout_denominator"),
        max(when(isRes, col("first_payout"))).as("first_payout"),
        max(when(isRes, col("last_payout"))).as("last_payout"))
  }

  /** Decode the condition lifecycle into the reference's `conditions`
    * rows (main.ts:385-434): prep rows carry is_resolved=false with
    * empty payouts; resolution rows compute payout_denominator as the
    * numerator sum (main.ts:413 reduce) plus order-sensitive scalars
    * of the numerator array. Address-filtered like every handler. */
  def decodeConditionLifecycle(logs: DataFrame): DataFrame = {
    val isPrep = col("topic0") === ConditionPreparationTopic
    val nums = transform(tailArray(1), w => wordLong(w))
    // block timestamp rides through when the source carries one (the
    // ledger-topology fixture); standalone fixtures have no ts column
    val tsCols = if (logs.columns.contains("ts")) Seq(col("ts")) else Nil
    logs
      .filter(col("addr") === ConditionalTokensAddr &&
        col("topic0").isin(ConditionPreparationTopic,
          ConditionResolutionTopic))
      .select(Seq(
        col("log_index")) ++ tsCols ++ Seq(
        when(isPrep, "prep").otherwise("resolve").as("kind"),
        col("topic1").as("condition_hex"),
        wordLong(col("topic2")).as("oracle"),
        col("topic3").as("question_hex"),
        wordLong(word(col("data"), 0)).as("slot_count"),
        (!isPrep).as("is_resolved"),
        when(!isPrep, size(nums).cast("long")).as("n_payouts"),
        when(!isPrep, aggregate(nums, lit(0L), (a, x) => a + x))
          .as("payout_denominator"),
        // try_element_at: under ANSI a plain element_at THROWS on the
        // empty arrays this expression sees when Catalyst reorders it
        // before the topic filter in a unioned log stream
        when(!isPrep, try_element_at(nums, lit(1))).as("first_payout"),
        when(!isPrep, try_element_at(nums, lit(-1))).as("last_payout"),
        // the full numerator array, for consumers that need per-slot
        // payouts (the ledger topology's mid-stream losing-outcome
        // resolution derives the wiped tokens from the zero slots)
        when(!isPrep, nums).as("payouts")): _*)
  }

  /** One row per (log, element): the exploded movement rows the
    * ERC1155 handler feeds the balance/ledger builders
    * (main.ts:460-483 iterates ids/values pairwise). */
  def explodeTransferBatch(decoded: DataFrame): DataFrame =
    decoded
      .select(col("log_index"), col("operator"), col("from"), col("to"),
        posexplode(arrays_zip(col("id_words"), col("value_words"))))
      .select(
        col("log_index"), col("operator"), col("from"), col("to"),
        (col("pos") + 1).as("elem_idx"),
        col("col.id_words").as("token_hex"),
        wordLong(col("col.id_words")).as("token_id"),
        wordLong(col("col.value_words")).as("amount_i"))
}

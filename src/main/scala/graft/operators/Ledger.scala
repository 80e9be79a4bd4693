package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** FIFO-lot PnL ledger engine.
  *
  * Reference: src/ledger-engine.ts:66-150 (`PositionManager`: lots are
  * consumed FIFO; a sell realizes qty·(sellPrice − lotUnitCost)) and
  * the wallet_ledger table (001:292-313).
  *
  * Spark-first: this is inherently a per-wallet sequential fold, so it
  * cannot be a plain SQL aggregate — but it distributes perfectly by
  * wallet. We repartition by wallet and sort within partitions by
  * (wallet, ts, seq), then stream each partition once with
  * `mapPartitions`, carrying only the open-lot state of the *current*
  * wallet. One shuffle, no driver collect, memory bounded by a single
  * wallet's open lots — this scales to any number of wallets/executors
  * (the reference runs the same fold single-threaded per wallet).
  */
object Ledger {

  /** One ledger event from one wallet's perspective.
    *
    * `kind` selects the semantics (empty = buy/sell via `isBuy`, the
    * original fill shape):
    *  - `"split"`: pay `usd` collateral, mint `qty` of `tokenId` AND
    *    `qty` of `tokenId2` at uniform unit cost usd/(2·qty)
    *    (ledger-engine.ts:1252 — PositionSplit mints every outcome).
    *  - `"merge"`: burn `qty` of both pair tokens, receive `usd`;
    *    realized = usd − FIFO basis of both legs (:1297).
    *  - `"transfer_out"`: `qty` of `tokenId` leaves; lots are consumed
    *    FIFO, zero usdc delta, zero realized — the basis just leaves
    *    the wallet (:1752).
    *  - `"transfer_in"`: `qty` arrives; the unit cost is the wallet's
    *    own average open-lot cost for the token, else its last-seen
    *    trade price (:1786-1790) — both wallet-local, which keeps the
    *    fold per-wallet (no cross-wallet basis dependency).
    *  - `"convert"`: NegRisk index-set conversion — burn `legs`,
    *    mint `legs2` at reallocated basis (:1670-1750); without legs,
    *    a 1:1 identity swap of tokenId → tokenId2.
    *  - `"redeem"`: event-carried redemption — burn `legs` (or `qty`
    *    of `tokenId`) for the lump payout `usd` (:1360-1460).
    *  - `"resolution"`: mid-stream losing-outcome wipe — the entire
    *    remaining position of each listed token realizes −basis at
    *    the event's time (:1865-1908).
    */
  final case class Fill(wallet: Long, ts: java.sql.Timestamp, seq: Long,
                        tokenId: Long, isBuy: Boolean, qty: Double, usd: Double,
                        fee: Double = 0.0, kind: String = "",
                        tokenId2: Long = 0L,
                        legTokens: Seq[Long] = Nil, legQtys: Seq[Double] = Nil,
                        legTokens2: Seq[Long] = Nil, legQtys2: Seq[Double] = Nil) {
    /** Per-leg (tokenId, qty) list for split/merge — and the BURN side
      * of a conversion: explicit legs when the event carries them (the
      * reference derives these from the tx's ERC1155 transfers — any
      * outcome count, unequal amounts, ledger-engine.ts:1463-1530);
      * otherwise the 2-leg equal-qty fallback (tokenId, tokenId2), the
      * shape computeFallbackTokenAmounts produces for a binary
      * condition. */
    def legs: Seq[(Long, Double)] =
      if (legTokens.nonEmpty) legTokens.zip(legQtys)
      else Seq(tokenId -> qty, tokenId2 -> qty)
    /** The MINT side of a conversion (second leg list). */
    def legs2: Seq[(Long, Double)] = legTokens2.zip(legQtys2)
  }

  /** Output ledger row (reference wallet_ledger columns). */
  final case class LedgerRow(wallet: Long, ts: java.sql.Timestamp, seq: Long,
                             token_id: Long, event_type: String, qty: Double,
                             usd_delta: Double, cost_basis: Double,
                             realized_pnl: Double, fee: Double)

  private final case class Lot(var qty: Double, unitCost: Double)

  /** Fold one wallet's fills (already sorted by ts, seq) into ledger
    * rows. Buys append lots; sells consume lots FIFO and realize
    * proceeds − cost basis (ledger-engine.ts consumeTokens). Oversold
    * quantity (no lots left) has zero basis, like the reference. */
  def foldWallet(fills: Iterator[Fill]): Iterator[LedgerRow] =
    foldWalletInto(fills, mutable.Map.empty, _ => ())

  /** Fold one wallet's fills, then settle remaining open lots against
    * market resolutions: tokens with a defined payout emit one
    * "redeem" row each — realized = qty·payout − cost basis (a zero
    * payout is the reference's resolutionLoss: the full basis is
    * realized as loss). Mirrors PayoutRedemption handling in
    * ledger-engine.ts. */
  def foldWalletResolved(fills: Iterator[Fill],
                         resolutions: Long => Option[Double]): Iterator[LedgerRow] = {
    val lots = mutable.Map.empty[Long, mutable.Queue[Lot]]
    var wallet = 0L
    var lastTs: java.sql.Timestamp = null
    var lastSeq = 0L
    val traded = foldWalletInto(fills, lots, f => {
      wallet = f.wallet; lastTs = f.ts; lastSeq = math.max(lastSeq, f.seq)
    })
    def settlements: Iterator[LedgerRow] =
      lots.iterator.filter(_._2.nonEmpty).flatMap { case (token, q) =>
        resolutions(token).map { payout =>
          val qty = q.iterator.map(_.qty).sum
          val basis = q.iterator.map(l => l.qty * l.unitCost).sum
          LedgerRow(wallet, lastTs, lastSeq + 1, token, "redeem", -qty,
            qty * payout, basis, qty * payout - basis, 0.0)
        }
      }.toSeq.sortBy(_.token_id).iterator
    traded ++ settlements
  }

  /** Shared fold core: emits trade rows, mutating `lots`; `observe`
    * sees every fill (for wallet/ts bookkeeping). */
  private def foldWalletInto(fills: Iterator[Fill],
      lots: mutable.Map[Long, mutable.Queue[Lot]],
      observe: Fill => Unit,
      lastPrice: mutable.Map[Long, Double] = mutable.Map.empty)
      : Iterator[LedgerRow] = {

    def addLot(token: Long, qty: Double, unitCost: Double): Unit =
      lots.getOrElseUpdate(token, mutable.Queue.empty) += Lot(qty, unitCost)

    // FIFO consumption; oversold quantity (no lots left) carries zero
    // basis, like the reference's consumeTokens
    def consume(token: Long, qty: Double): Double = {
      val q = lots.getOrElse(token, mutable.Queue.empty)
      var remaining = qty
      var basis = 0.0
      while (remaining > 1e-7 && q.nonEmpty) {
        val lot = q.head
        val take = math.min(remaining, lot.qty)
        basis += take * lot.unitCost
        lot.qty -= take
        remaining -= take
        if (lot.qty <= 1e-7) q.dequeue()
      }
      basis
    }

    def avgUnitCost(token: Long): Double =
      lots.get(token).filter(_.nonEmpty).map { q =>
        val qty = q.iterator.map(_.qty).sum
        if (qty > 0) q.iterator.map(l => l.qty * l.unitCost).sum / qty else 0.0
      }.getOrElse(0.0)

    // `lastPrice`: the wallet's last-seen unit price per token, set
    // at each trade (ledger-engine.ts:1177/1203) — the mint-cost
    // fallback for conversions (:1723) and transfer-ins (:1787).
    // Caller-supplied so the streaming fold can carry it across
    // micro-batches alongside the open lots.

    fills.map { f =>
      observe(f)
      f.kind match {
        case "" | "buy" | "sell" =>
          if (f.isBuy || f.kind == "buy") {
            val unit = if (f.qty > 0) f.usd / f.qty else 0.0
            addLot(f.tokenId, f.qty, unit)
            if (f.qty > 0) lastPrice(f.tokenId) = unit
            LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "buy", f.qty, -f.usd,
              f.usd, 0.0, f.fee)
          } else {
            val basis = consume(f.tokenId, f.qty)
            if (f.qty > 0) lastPrice(f.tokenId) = f.usd / f.qty
            LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "sell", -f.qty, f.usd,
              basis, f.usd - basis, f.fee)
          }
        case "split" =>
          // usd collateral in, per-leg qtys minted at UNIFORM unit
          // cost usd / total minted (ledger-engine.ts adapter_split:
          // unitCost = totalCost / totalMintQty regardless of how the
          // transfers distribute quantity across outcomes)
          val legs = f.legs
          val minted = legs.iterator.map(_._2).sum
          val unit = if (minted > 0) f.usd / minted else 0.0
          legs.foreach { case (t, q) => if (q > 0) addLot(t, q, unit) }
          LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "split", minted, -f.usd,
            f.usd, 0.0, f.fee)
        case "merge" =>
          // burn per-leg qtys, each leg consumed FIFO from its own
          // token's lots; realized = proceeds − total consumed basis
          // (adapter_merge: per-consumption proceeds share unitProceeds
          // = usd / totalBurnQty, which sums back to usd)
          val legs = f.legs
          val burned = legs.iterator.map(_._2).sum
          val basis = legs.iterator.map { case (t, q) =>
            if (q > 0) consume(t, q) else 0.0
          }.sum
          LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "merge", -burned,
            f.usd, basis, f.usd - basis, f.fee)
        case "redeem" =>
          // event-carried redemption (adapter_redemption /
          // PayoutRedemption with transfer-derived amounts,
          // ledger-engine.ts:1360-1460): burn the legs — each
          // consumed FIFO from its own token's lots — receive the
          // lump payout; realized = payout − total basis. Without
          // legs: a single-token redemption of qty. (End-of-history
          // resolution settlement is the separate resolveOpen path.)
          val legs =
            if (f.legTokens.nonEmpty) f.legs else Seq(f.tokenId -> f.qty)
          val burned = legs.iterator.map(_._2).sum
          val basis = legs.iterator.map { case (t, q) =>
            if (q > 0) consume(t, q) else 0.0
          }.sum
          LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "redeem", -burned,
            f.usd, basis, f.usd - basis, f.fee)
        case "resolution" =>
          // mid-stream resolution of LOSING outcomes
          // (ledger-engine.ts:1865-1908): each listed token's ENTIRE
          // remaining position is wiped at the event's time — zero
          // proceeds, realized = −basis — and later events on the
          // token start from an empty book. This is the in-stream
          // counterpart of the end-of-history resolveOpen settlement.
          val tokens =
            if (f.legTokens.nonEmpty) f.legTokens else Seq(f.tokenId)
          var wiped = 0.0
          var basis = 0.0
          tokens.foreach { t =>
            val held = lots.get(t).map(_.iterator.map(_.qty).sum).getOrElse(0.0)
            if (held > 1e-7) {
              wiped += held
              basis += consume(t, held)
            }
          }
          LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "resolution_loss",
            -wiped, 0.0, basis, -basis, f.fee)
        case "transfer_out" =>
          val basis = consume(f.tokenId, f.qty)
          LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "transfer_out", -f.qty,
            0.0, basis, 0.0, f.fee)
        case "transfer_in" =>
          // own average open-lot cost, else the wallet's last-seen
          // price for the token (ledger-engine.ts:1786-1790)
          val avg = avgUnitCost(f.tokenId)
          val unit = if (avg > 0) avg else lastPrice.getOrElse(f.tokenId, 0.0)
          addLot(f.tokenId, f.qty, unit)
          if (unit > 0) lastPrice(f.tokenId) = unit
          LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "transfer_in", f.qty,
            0.0, f.qty * unit, 0.0, f.fee)
        case "convert" =>
          // adapter conversion (ledger-engine.ts:1670-1750, NegRisk
          // index-set semantics): burn the legs in `legs` (NO tokens
          // of the questions inside the index set — each consumed
          // FIFO from its own token's lots), mint the legs in `legs2`
          // (YES tokens elsewhere) at the PROPORTIONALLY REALLOCATED
          // unit cost totalCostBasis / totalMintQty; a zero-basis
          // mint falls back to the wallet's last-seen price per
          // token (:1723). Nothing realizes, no usdc moves.
          if (f.legTokens.nonEmpty || f.legTokens2.nonEmpty) {
            val burnLegs = f.legs
            val mintLegs = f.legs2
            val basis = burnLegs.iterator.map { case (t, q) =>
              if (q > 0) consume(t, q) else 0.0
            }.sum
            val burnQty = burnLegs.iterator.map(_._2).sum
            val mintQty = mintLegs.iterator.map(_._2).sum
            if (mintQty > 0) {
              val unit = if (basis > 0) basis / mintQty else 0.0
              mintLegs.foreach { case (t, q) =>
                if (q > 0) {
                  val applied =
                    if (unit > 0) unit else lastPrice.getOrElse(t, 0.0)
                  addLot(t, q, applied)
                  if (applied > 0) lastPrice(t) = applied
                }
              }
            }
            LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "convert",
              if (mintQty > 0) mintQty else burnQty, 0.0, basis, 0.0, f.fee)
          } else {
            // degenerate 1:1 identity swap (binary condition): qty of
            // tokenId becomes qty of tokenId2 at the SAME FIFO basis
            val basis = consume(f.tokenId, f.qty)
            val unit = if (f.qty > 0) basis / f.qty else 0.0
            addLot(f.tokenId2, f.qty, unit)
            LedgerRow(f.wallet, f.ts, f.seq, f.tokenId2, "convert", f.qty,
              0.0, basis, 0.0, f.fee)
          }
        case "fee_refund" =>
          // fee returned to the wallet (:1811): cash in, fees_paid down
          LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "fee_refund", 0.0,
            f.usd, 0.0, 0.0, -f.usd)
        case "fee_withdrawal" =>
          // earned maker fees withdrawn to the wallet (:1838-1862):
          // the reference books it identically to fee_refund —
          // usdc_delta = +amount, realized income. Cash in, fees_paid
          // down (our fee channel carries the income into net_realized).
          LedgerRow(f.wallet, f.ts, f.seq, f.tokenId, "fee_withdrawal", 0.0,
            f.usd, 0.0, 0.0, -f.usd)
        case other =>
          throw new IllegalArgumentException(s"unknown ledger event kind '$other'")
      }
    }
  }

  /** Resumable fold: start from carried-over open lots (and the
    * wallet's last-seen prices), return the emitted rows plus both
    * surviving states — the seam the streaming ledger uses to persist
    * FIFO state across micro-batches (token → [(qty, unitCost)], FIFO
    * order preserved; token → last price). Without the carried
    * lastPrice, a conversion or transfer-in whose cost fallback
    * fires in a later micro-batch than the trade that set the price
    * would diverge from the batch fold. */
  def foldWalletStateful(fills: Iterator[Fill],
      initial: Map[Long, Seq[(Double, Double)]],
      initialLastPrice: Map[Long, Double] = Map.empty)
      : (Seq[LedgerRow], Map[Long, Seq[(Double, Double)]], Map[Long, Double]) = {
    val lots = mutable.Map.empty[Long, mutable.Queue[Lot]]
    initial.foreach { case (token, ls) =>
      lots(token) = mutable.Queue(ls.map(p => Lot(p._1, p._2)): _*)
    }
    val lastPrice = mutable.Map.empty[Long, Double] ++ initialLastPrice
    val rows = foldWalletInto(fills, lots, _ => (), lastPrice).toSeq
    val out = lots.iterator.collect { case (token, q) if q.nonEmpty =>
      token -> q.iterator.map(l => (l.qty, l.unitCost)).toSeq
    }.toMap
    (rows, out, lastPrice.toMap)
  }

  /** Distributed ledger build over the two-sided trade view. */
  def build(spark: SparkSession, walletTrades: DataFrame): Dataset[LedgerRow] =
    buildWith(spark, walletTrades, foldWallet)

  /** Distributed build with end-of-history resolution settlement.
    * `resolutions` (token → payout/share) is a small dim broadcast to
    * executors; at 100 TB it rides the closure exactly like a
    * broadcast-hash-join build side. Prefer the DataFrame overload —
    * this one exists for tests / in-memory dims that are already maps. */
  def buildResolved(spark: SparkSession, walletTrades: DataFrame,
                    resolutions: Map[Long, Double]): Dataset[LedgerRow] = {
    val bc = spark.sparkContext.broadcast(resolutions)
    buildWith(spark, walletTrades, fills => foldWalletResolved(fills, bc.value.get))
  }

  /** Fold one wallet's fills, then emit one synthetic `"_open"` row
    * per token still holding lots — exact end-of-fold lot state
    * (qty = Σ lot qty, cost_basis = Σ qty·unitCost), stamped with the
    * wallet's last ts and seq+1. Deriving leftovers from the trade
    * rows instead would be wrong for wallets that oversold and
    * re-bought (the oversold portion consumes no lots but still rides
    * the sell row's qty), so the fold itself reports its state. */
  def foldWalletOpen(fills: Iterator[Fill]): Iterator[LedgerRow] = {
    val lots = mutable.Map.empty[Long, mutable.Queue[Lot]]
    var wallet = 0L
    var lastTs: java.sql.Timestamp = null
    var lastSeq = 0L
    val traded = foldWalletInto(fills, lots, f => {
      wallet = f.wallet; lastTs = f.ts; lastSeq = math.max(lastSeq, f.seq)
    })
    def openRows: Iterator[LedgerRow] =
      lots.iterator.filter(_._2.nonEmpty).map { case (token, q) =>
        LedgerRow(wallet, lastTs, lastSeq + 1, token, "_open",
          q.iterator.map(_.qty).sum, 0.0,
          q.iterator.map(l => l.qty * l.unitCost).sum, 0.0, 0.0)
      }.toSeq.sortBy(_.token_id).iterator
    traded ++ openRows
  }

  /** Resolution settlement with the resolutions dim kept as a
    * DataFrame end to end — no driver-side collect anywhere.
    *
    * The FIFO fold runs once and emits its exact open-lot state as
    * `"_open"` rows (see [[foldWalletOpen]]). Settlement joins those
    * against the broadcast resolutions dim — `(token_id, payout)` —
    * and emits one "redeem" row per resolved open position,
    * payout·qty − basis realized (zero payout = the reference's
    * resolutionLoss; ledger-engine.ts PayoutRedemption). Unresolved
    * `"_open"` rows are dropped from the output.
    */
  def buildResolved(spark: SparkSession, walletTrades: DataFrame,
                    resolutions: DataFrame): Dataset[LedgerRow] = {
    import spark.implicits._
    // both the trade branch and the settlement join consume the fold
    // output — persist so the wallet-fold shuffle runs once. Callers
    // issuing the query repeatedly should persist/bind the open-rows
    // fold themselves (see graft.model.Views.ledgerOpen) and use
    // [[resolveOpen]] — this overload persists a fresh copy per call.
    val rows = buildOpenRows(spark, walletTrades).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    resolveOpen(rows, resolutions).as[LedgerRow]
  }

  /** The FIFO fold emitting trade rows plus exact `"_open"` lot-state
    * rows (see [[foldWalletOpen]]) — the materializable half of
    * [[buildResolved]]. */
  def buildOpenRows(spark: SparkSession, walletTrades: DataFrame): Dataset[LedgerRow] =
    buildWith(spark, walletTrades, foldWalletOpen)

  /** Settlement over an already-built (usually cached) open-rows fold
    * output: resolved `"_open"` rows become "redeem" rows, unresolved
    * ones are dropped, trade rows pass through. */
  /** Only the settlement rows resolution produces — the broadcast
    * join of open lots against per-token payouts. A consumer that
    * wants JUST the redemption rows (q_ledger_from_logs) calls this
    * directly and skips [[resolveOpen]]'s union branch, whose
    * non-open rows it would filter straight back out (one full scan
    * of the cached fold saved). */
  def settlements(rows: DataFrame, resolutions: DataFrame): DataFrame =
    rows.filter(col("event_type") === "_open")
      .join(broadcast(resolutions.select(col("token_id"), col("payout"))),
        Seq("token_id"))
      .select(col("wallet"), col("ts"), col("seq"), col("token_id"),
        lit("redeem").as("event_type"),
        (-col("qty")).as("qty"),
        (col("qty") * col("payout")).as("usd_delta"),
        col("cost_basis"),
        (col("qty") * col("payout") - col("cost_basis")).as("realized_pnl"),
        lit(0.0).as("fee"))

  def resolveOpen(rows: DataFrame, resolutions: DataFrame): DataFrame =
    rows.filter(col("event_type") =!= "_open")
      .unionByName(settlements(rows, resolutions))

  /** Distributed ledger build over a generalized event stream:
    * columns (wallet, ts, seq, token_id, kind, qty, usd[, fee]
    * [, token_id2] [, leg_tokens, leg_qtys]) with kind ∈ buy / sell /
    * split / merge / transfer_in / transfer_out — the 12-event-type
    * surface of ledger-engine.ts reduced to its position-mutating
    * core. `leg_tokens`/`leg_qtys` (parallel arrays) carry the
    * transfer-derived per-outcome amounts of multi-outcome
    * splits/merges; rows without them use the binary 2-leg fallback.
    * Same scale shape as [[build]]: one shuffle by wallet,
    * per-wallet fold. */
  def buildEvents(spark: SparkSession, events: DataFrame): Dataset[LedgerRow] = {
    import spark.implicits._
    val cols = events.columns.toSet
    val emptyLongs = lit(Array.empty[Long])
    val emptyDoubles = lit(Array.empty[Double])
    val fills: Dataset[Fill] = events.select(
        col("wallet").cast("long").as("wallet"),
        col("ts"),
        col("seq").cast("long").as("seq"),
        col("token_id").cast("long").as("tokenId"),
        (col("kind") === "buy").as("isBuy"),
        col("qty").cast("double").as("qty"),
        col("usd").cast("double").as("usd"),
        (if (cols("fee")) coalesce(col("fee").cast("double"), lit(0.0))
         else lit(0.0)).as("fee"),
        col("kind"),
        (if (cols("token_id2")) coalesce(col("token_id2").cast("long"), lit(0L))
         else lit(0L)).as("tokenId2"),
        (if (cols("leg_tokens"))
           coalesce(col("leg_tokens").cast("array<long>"), emptyLongs)
         else emptyLongs).as("legTokens"),
        (if (cols("leg_qtys"))
           coalesce(col("leg_qtys").cast("array<double>"), emptyDoubles)
         else emptyDoubles).as("legQtys"),
        (if (cols("leg_tokens2"))
           coalesce(col("leg_tokens2").cast("array<long>"), emptyLongs)
         else emptyLongs).as("legTokens2"),
        (if (cols("leg_qtys2"))
           coalesce(col("leg_qtys2").cast("array<double>"), emptyDoubles)
         else emptyDoubles).as("legQtys2"))
      .as[Fill]
    foldFills(fills, foldWallet)
  }

  private def buildWith(spark: SparkSession, walletTrades: DataFrame,
      folder: Iterator[Fill] => Iterator[LedgerRow]): Dataset[LedgerRow] = {
    import spark.implicits._
    foldFills(tradeFills(spark, walletTrades), folder)
  }

  /** The two-sided trade view as buy/sell [[Fill]]s; `fee` is 0.0
    * when the input carries no `fee` column. */
  private def tradeFills(spark: SparkSession,
                         walletTrades: DataFrame): Dataset[Fill] = {
    import spark.implicits._
    walletTrades.select(
        col("wallet").cast("long").as("wallet"),
        col("ts"),
        col("trade_id").cast("long").as("seq"),
        col("token_id").cast("long").as("tokenId"),
        (col("side") === "buy").as("isBuy"),
        col("qty").cast("double").as("qty"),
        col("usd").cast("double").as("usd"),
        (if (walletTrades.columns.contains("fee")) col("fee").cast("double")
         else lit(0.0)).as("fee"),
        lit("").as("kind"),
        lit(0L).as("tokenId2"),
        lit(Array.empty[Long]).as("legTokens"),
        lit(Array.empty[Double]).as("legQtys"),
        lit(Array.empty[Long]).as("legTokens2"),
        lit(Array.empty[Double]).as("legQtys2"))
      .as[Fill]
  }

  /** The one per-wallet fold driver: shuffle by wallet, sort each
    * wallet's fills into the value-determined fold order, and run
    * `folder` over each wallet's streaming slice. */
  private def foldFills[T: Encoder](fills: Dataset[Fill],
      folder: Iterator[Fill] => Iterator[T]): Dataset[T] = {
    fills
      .repartition(col("wallet"))
      // (ts, seq) ties exist in real data (trade_id duplicates within
      // an order): break them by values — buys first (mirroring the
      // oracle twins' ORDER BY ..., side), then usd — so the fold
      // order is a function of the DATA, not of shuffle arrival order,
      // and the DuckDB twins replay the identical total order
      .sortWithinPartitions(col("wallet"), col("ts"), col("seq"),
        col("isBuy").desc, col("usd"))
      .mapPartitions { it =>
        // partitions hold many wallets, contiguously after the sort —
        // flush state at each wallet boundary. The per-wallet slice is
        // a STREAMING sub-iterator (stops at the boundary), not a
        // buffered copy: a whale wallet's history never materializes;
        // per-wallet memory is its open-lot/lastPrice state only. The
        // folds emit rows lazily as fills are pulled, and any fills a
        // folder leaves unconsumed are drained before the next wallet
        // starts.
        new Iterator[T] {
          private val buf = it.buffered
          private var cur: Iterator[T] = Iterator.empty
          private var slice: Iterator[Fill] = Iterator.empty
          private def advance(): Unit =
            while (!cur.hasNext && { while (slice.hasNext) slice.next(); buf.hasNext }) {
              val w = buf.head.wallet
              slice = new Iterator[Fill] {
                def hasNext: Boolean = buf.hasNext && buf.head.wallet == w
                def next(): Fill = buf.next()
              }
              cur = folder(slice)
            }
          def hasNext: Boolean = { advance(); cur.hasNext }
          def next(): T = { advance(); cur.next() }
        }
      }
  }

  /** Per-(wallet, token) period PnL components (reference:
    * calculate-pnl.ts modes 1-4 / ledger-engine.ts calculatePnl).
    * Realized is split by lot provenance — mode 1 counts only the
    * portion of each in-period sell consuming lots that were ALSO
    * opened in the period; mode 2 counts every in-period sell. Open
    * lots at end of history are split the same way so the caller can
    * add unrealized for period-opened positions (mode 3) or all open
    * positions (mode 4) after marking at last price. */
  final case class PeriodPnl(wallet: Long, token_id: Long,
                             realized_period_only: Double,
                             realized_with_history: Double,
                             open_qty_period: Double, open_basis_period: Double,
                             open_qty_all: Double, open_basis_all: Double)

  private final case class TsLot(var qty: Double, unitCost: Double,
                                 openTs: java.sql.Timestamp)

  /** FIFO fold with per-lot open-time provenance (buy/sell fills
    * only — the shape calculate-pnl.ts runs on). Oversold quantity
    * consumes no lots and realizes nothing in any mode — the
    * reference's consumeTokens returns no consumption for the
    * unmatched remainder (ledger-engine.ts:78-100), so its proceeds
    * never enter realizedEvents. The period is inclusive on BOTH ends
    * (isInPeriod, ledger-engine.ts:1972 — only ts > endTs excluded). */
  def foldWalletPeriod(fills: Iterator[Fill],
                       periodStart: java.sql.Timestamp,
                       periodEnd: java.sql.Timestamp): Iterator[PeriodPnl] = {
    val lots = mutable.Map.empty[Long, mutable.Queue[TsLot]]
    var wallet = 0L
    val realized1 = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val realized2 = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    def inPeriod(ts: java.sql.Timestamp): Boolean =
      !ts.before(periodStart) && !ts.after(periodEnd)
    fills.foreach { f =>
      wallet = f.wallet
      if (f.isBuy) {
        val unit = if (f.qty > 0) f.usd / f.qty else 0.0
        lots.getOrElseUpdate(f.tokenId, mutable.Queue.empty) +=
          TsLot(f.qty, unit, f.ts)
      } else {
        val sellPrice = if (f.qty > 0) f.usd / f.qty else 0.0
        val sellInPeriod = inPeriod(f.ts)
        val q = lots.getOrElse(f.tokenId, mutable.Queue.empty)
        var remaining = f.qty
        while (remaining > 1e-7 && q.nonEmpty) {
          val lot = q.head
          val take = math.min(remaining, lot.qty)
          if (sellInPeriod) {
            val gain = take * (sellPrice - lot.unitCost)
            realized2(f.tokenId) += gain
            if (inPeriod(lot.openTs))
              realized1(f.tokenId) += gain
          }
          lot.qty -= take
          remaining -= take
          if (lot.qty <= 1e-7) q.dequeue()
        }
        // oversold remainder: no consumption, nothing realized
      }
    }
    val tokens = (lots.keySet ++ realized1.keySet ++ realized2.keySet).toSeq.sorted
    tokens.iterator.map { token =>
      val open = lots.getOrElse(token, mutable.Queue.empty)
      val inP = open.iterator.filter(l => inPeriod(l.openTs)).toSeq
      PeriodPnl(wallet, token,
        realized1(token), realized2(token),
        inP.map(_.qty).sum, inP.map(l => l.qty * l.unitCost).sum,
        open.iterator.map(_.qty).sum,
        open.iterator.map(l => l.qty * l.unitCost).sum)
    }.filter(p => p.realized_period_only != 0.0 || p.realized_with_history != 0.0 ||
      p.open_qty_all > 1e-7)
  }

  /** Distributed period-PnL build: one shuffle by wallet, per-wallet
    * fold (same scale shape as [[build]]). */
  def buildPeriod(spark: SparkSession, walletTrades: DataFrame,
                  periodStart: String, periodEnd: String): Dataset[PeriodPnl] = {
    import spark.implicits._
    val ps = java.sql.Timestamp.valueOf(periodStart + " 00:00:00")
    val pe = java.sql.Timestamp.valueOf(periodEnd + " 00:00:00")
    foldFills(tradeFills(spark, walletTrades),
      foldWalletPeriod(_: Iterator[Fill], ps, pe))
  }

  /** The four reference PnL modes per wallet (calculate-pnl.ts):
    * mode 1 realized period-only, mode 2 realized with history,
    * mode 3 = 1 + unrealized on period-opened positions,
    * mode 4 = 2 + unrealized on all open positions — unrealized marks
    * open lots at the broadcast last price. */
  def periodModes(period: DataFrame, lastPrice: DataFrame): DataFrame =
    period
      .join(broadcast(lastPrice.select(col("token_id"), col("last_price"))),
        Seq("token_id"), "left")
      .withColumn("lp", coalesce(col("last_price"), lit(0.0)))
      .groupBy(col("wallet"))
      .agg(
        sum(floor(col("realized_period_only") * 1e4).cast("long")).as("m1_s"),
        sum(floor(col("realized_with_history") * 1e4).cast("long")).as("m2_s"),
        sum(floor((col("open_qty_period") * col("lp") - col("open_basis_period"))
          * 1e4).cast("long")).as("up_s"),
        sum(floor((col("open_qty_all") * col("lp") - col("open_basis_all"))
          * 1e4).cast("long")).as("ua_s"))
      .select(col("wallet"),
        (col("m1_s") / 10000.0).as("realized_period_only"),
        (col("m2_s") / 10000.0).as("realized_with_history"),
        ((col("m1_s") + col("up_s")) / 10000.0).as("realized_plus_unrealized_period"),
        ((col("m2_s") + col("ua_s")) / 10000.0).as("total_pnl"))

  /** Wallet-level realized PnL summary from the ledger rows
    * (reference: PnlResult realizedFromSells / realizedFromFees /
    * totalRealized). */
  /** Selective backfill (reference: backfill-ledger.ts — re-run the
    * ledger for a set of wallets whose history changed, leave everyone
    * else's rows untouched). `dirty` is a 1-column (wallet) dim:
    * existing rows for dirty wallets are dropped (left_anti), only the
    * dirty wallets' fills are re-folded (left_semi before the
    * repartition, so the fold shuffle moves just the dirty slice), and
    * the two halves union. At 100 TB this is the difference between
    * refolding a handful of reorged wallets and refolding the world —
    * the result is row-identical to a full rebuild (BackfillSpec). */
  def backfill(spark: SparkSession, existing: DataFrame,
               walletTrades: DataFrame, dirty: DataFrame): DataFrame = {
    val d = broadcast(dirty.select(col("wallet")).distinct())
    val kept = existing.join(d, Seq("wallet"), "left_anti")
    val refolded = build(spark,
      walletTrades.join(d, Seq("wallet"), "left_semi")).toDF()
    kept.unionByName(refolded)
  }

  def realizedSummary(ledger: DataFrame): DataFrame =
    ledger.groupBy(col("wallet"))
      .agg(
        sum(when(col("event_type") === "sell", col("realized_pnl"))
          .otherwise(0.0).cast("decimal(18,6)")).cast("double").as("realized_pnl"),
        sum(col("fee").cast("decimal(18,6)")).cast("double").as("fees_paid"),
        (sum(when(col("event_type") === "sell", col("realized_pnl"))
          .otherwise(0.0).cast("decimal(18,6)")) -
          sum(col("fee").cast("decimal(18,6)"))).cast("double").as("net_realized"),
        sum(when(col("event_type") === "sell", 1L).otherwise(0L)).as("sells"),
        sum(when(col("event_type") === "buy", 1L).otherwise(0L)).as("buys"))

  /** Summary decomposed by realization source (reference: PnlResult
    * realizedFromSells / realizedFromRedemptions / resolution losses). */
  def resolvedSummary(ledger: DataFrame): DataFrame =
    ledger.groupBy(col("wallet"))
      .agg(
        sum(when(col("event_type") === "sell", col("realized_pnl"))
          .otherwise(0.0).cast("decimal(18,6)")).cast("double")
          .as("realized_from_sells"),
        sum(when(col("event_type") === "redeem" && col("realized_pnl") >= 0,
          col("realized_pnl")).otherwise(0.0).cast("decimal(18,6)")).cast("double")
          .as("realized_from_redemptions"),
        sum(when(col("event_type") === "redeem" && col("realized_pnl") < 0,
          col("realized_pnl")).otherwise(0.0).cast("decimal(18,6)")).cast("double")
          .as("realized_from_resolution_losses"),
        sum(col("realized_pnl").cast("decimal(18,6)")).cast("double")
          .as("total_realized"))
}

package graft.queries

/** SQL fragments the DuckDB oracles share: the relational trades,
  * wallet-trades, balances, last-price and events CTEs, the
  * resolution-settlement closed form, the hex-word decode, and the
  * near-dup boilerplate both sides of q_neardup_recall prepend. */
private[queries] object OracleFragments {

  /** Inline DuckDB hex→BIGINT over chars [start, start+15] (1-indexed)
    * of `col` — the per-word ABI decode the like-for-like raw-logs twin
    * pays (VERDICT r15 next-round #3: the old twin computed closed
    * forms from relational fixtures and never decoded a log, so its
    * wall time compared no-decode against real decode). DuckDB's native
    * hex-literal cast is the fair counterpart of Spark's codegen'd
    * `conv(substring(w, 49, 16), 16, 10)` — a hand-rolled 16-nibble
    * strpos fold was measured 50+ s at sf0.1, which would punish the
    * baseline for MY sql, not its engine. */
  def hxWord(col: String, start: Int): String =
    s"CAST('0x' || substr($col, $start, 16) AS BIGINT)"

  val TRADES =
    """trades AS (
      |  SELECT l_orderkey*10 + l_linenumber AS trade_id,
      |         l_shipdate AS ts,
      |         CAST(l_suppkey + 1000000 AS BIGINT) AS maker,
      |         CAST(o_custkey AS BIGINT) AS taker,
      |         CAST(l_partkey AS BIGINT) AS token_id,
      |         l_quantity AS qty,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |              (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
      |              AS DECIMAL(18,4)) AS usd,
      |         l_extendedprice * (1.0 - l_discount) / l_quantity AS price,
      |         l_returnflag <> 'R' AS is_taker_buy,
      |         l_returnflag = 'R' AS is_maker_buy
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""".stripMargin

  val WT =
    s"""$TRADES,
      |wt AS (
      |  SELECT trade_id, ts, token_id, qty, usd, maker AS wallet,
      |         'maker' AS role,
      |         CASE WHEN is_maker_buy THEN 'buy' ELSE 'sell' END AS side
      |  FROM trades
      |  UNION ALL
      |  SELECT trade_id, ts, token_id, qty, usd, taker AS wallet,
      |         'taker' AS role,
      |         CASE WHEN is_taker_buy THEN 'buy' ELSE 'sell' END AS side
      |  FROM trades)""".stripMargin

  /** Resolution-settlement closed form on unit lots (shared by
    * q_ledger_resolved_exact and the raw-logs capstone
    * q_ledger_from_logs): open lots per (wallet, token) are the LAST
    * n_buys − K buys (K = sells − max prefix deficit); payout per
    * unit from token_id % 4. */
  val RESOLVED_EXACT_SQL =
    s"""WITH $WT,
      |f AS (
      |  SELECT wallet, token_id, ts, trade_id, side,
      |         CAST(usd * 10000 AS BIGINT) AS usd_i
      |  FROM wt),
      |o AS (
      |  SELECT wallet, token_id, side,
      |    SUM(CASE WHEN side = 'sell' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY wallet, token_id ORDER BY ts, trade_id, side, usd_i
      |            ROWS UNBOUNDED PRECEDING) AS cs,
      |    SUM(CASE WHEN side = 'buy' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY wallet, token_id ORDER BY ts, trade_id, side, usd_i
      |            ROWS UNBOUNDED PRECEDING) AS cb
      |  FROM f),
      |g AS (
      |  SELECT wallet, token_id,
      |    CAST(MAX(GREATEST(cs - cb, 0)) AS BIGINT) AS u,
      |    CAST(SUM(CASE WHEN side = 'sell' THEN 1 ELSE 0 END) AS BIGINT) AS n_sells
      |  FROM o GROUP BY 1, 2),
      |b AS (
      |  SELECT wallet, token_id, usd_i,
      |    ROW_NUMBER() OVER (PARTITION BY wallet, token_id
      |      ORDER BY ts, trade_id, side, usd_i) AS rn
      |  FROM f WHERE side = 'buy'),
      |ob AS (
      |  SELECT b.wallet, b.token_id,
      |    CAST(COUNT(*) AS BIGINT) AS open_qty,
      |    CAST(SUM(b.usd_i) AS BIGINT) AS open_basis_i
      |  FROM b JOIN g ON b.wallet = g.wallet AND b.token_id = g.token_id
      |  WHERE b.rn > g.n_sells - g.u
      |  GROUP BY 1, 2)
      |SELECT wallet, token_id, open_qty,
      |  open_qty * punit AS payout_i,
      |  open_basis_i AS basis_i,
      |  open_qty * punit - open_basis_i AS realized_i
      |FROM (
      |  SELECT ob.*,
      |    CASE token_id % 4 WHEN 1 THEN 10000 WHEN 2 THEN 0
      |         WHEN 3 THEN 5000 END AS punit
      |  FROM ob WHERE token_id % 4 <> 0) r
      |ORDER BY wallet, token_id""".stripMargin

  val BALANCES =
    s"""$TRADES,
      |transfers AS (
      |  SELECT trade_id AS transfer_id, ts,
      |         CASE WHEN is_taker_buy THEN maker ELSE taker END AS wfrom,
      |         CASE WHEN is_taker_buy THEN taker ELSE maker END AS wto,
      |         token_id, qty AS value
      |  FROM trades),
      |balances AS (
      |  SELECT wallet, token_id, CAST(SUM(delta) AS DOUBLE) AS balance FROM (
      |    SELECT wto AS wallet, token_id, CAST(value AS DECIMAL(18,4)) AS delta FROM transfers
      |    UNION ALL
      |    SELECT wfrom, token_id, -CAST(value AS DECIMAL(18,4)) FROM transfers) u
      |  GROUP BY wallet, token_id)""".stripMargin

  val LP =
    """lp AS (
      |  SELECT token_id, price AS last_price, ts AS last_ts FROM (
      |    SELECT token_id, price, ts,
      |           row_number() OVER (PARTITION BY token_id
      |             ORDER BY ts DESC, trade_id DESC, price DESC) AS rn
      |    FROM trades) t WHERE rn = 1)""".stripMargin

  /** Shared boilerplate prefix for q_neardup_recall's templated corpus
    * shape — identical on the Spark and oracle sides so the per-shape
    * truth sets agree exactly. */
  val NeardupBoiler =
    "terms of service this document is provided as is without warranty " +
    "of any kind either express or implied including but not limited to " +
    "the implied warranties of merchantability and fitness for purpose"

  val EV =
    """ev AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id AS wallet, event_type,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS token_id,
      |         value AS price,
      |         CAST(value AS DECIMAL(18,4)) AS usd
      |  FROM events)""".stripMargin
}

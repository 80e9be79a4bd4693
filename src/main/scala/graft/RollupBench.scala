package graft

import org.apache.spark.sql.functions._
import graft.operators.Leaderboard

/** The transparent-rollup rewrite's measured win (VERDICT r14 #8):
  * q_rollup_auto proves the PROJECTION mechanism is CORRECT; this
  * attaches the NUMBER — rewritten-vs-raw wall for the same aggregate
  * shape at sf0.1 and at ×16 DENSITY (fixed entities, 16× rows per
  * key: the axis where a rollup's economics live, since the rollup's
  * row count stays fixed while the raw side grows 16×).
  *
  * This measures the STORED-TABLE economics — exactly what a CH
  * PROJECTION buys: both sides read parquet, not session cache (an
  * in-memory MV-warm comparison is floor-bound at these sizes — the
  * whole 76.8M-row explode aggregates in ~0.5 s from cache, so wall
  * only shows the mechanism once the scan is real IO, as it is at
  * 100 TB).
  *
  * raw    = the wallet-grain aggregate over the two-sided explode of
  *          the trades PARQUET (what the query names);
  * rolled = the same analyzed plan after RollupRewrite substitutes a
  *          flows-rollup PARQUET table (written once at "ingest",
  *          outside both timings — the projection part files).
  *
  * Both sides are min-of-3 to a noop sink in one JVM (the OS page
  * cache warms both equally). One JSON line, committed as
  * BENCH_ROLLUP.json. */
object RollupBench {

  private def fmt(v: Double): String = f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-rollupbench-${ProcessHandle.current().pid()}")

    def minOf3(f: => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }.min

    def point(dir: String): (Double, Double, Long, Long) = {
      val source = Leaderboard.walletTrades(graft.model.Tables.trades(spark, dir))
      // "ingest": materialize the rollup as a stored table, untimed —
      // the projection part files the rewrite will serve from
      val rollupPath = new java.io.File(root,
        s"rollup-${dir.hashCode.toHexString}").getAbsolutePath
      Leaderboard.walletTokenFlows(source)
        .write.mode("overwrite").parquet(rollupPath)
      val flows = spark.read.parquet(rollupPath)
      graft.plans.RollupRewrite.register(spark, source, flows,
        dims = Seq((col("wallet"), "wallet"), (col("token_id"), "token_id")),
        sums = Seq(
          (when(col("side") === "buy", col("qty")).otherwise(lit(0.0)),
            "buy_qty"),
          (when(col("side") === "sell", col("qty")).otherwise(lit(0.0)),
            "sell_qty")),
        countCol = Some("trades"))
      val q = source.groupBy(col("wallet"))
        .agg(count(lit(1)).as("trades"),
          sum(when(col("side") === "buy", col("qty")).otherwise(lit(0.0)))
            .as("buy_qty"),
          sum(when(col("side") === "sell", col("qty")).otherwise(lit(0.0)))
            .as("sell_qty"))
        .orderBy(col("wallet"))
      val analyzed = q.queryExecution.analyzed
      val rolled = new graft.plans.RollupRewrite.RewriteRule(spark)(analyzed)
      require(rolled != analyzed, "rewrite must fire")
      val rolledDf = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, rolled)
      val rawSec = minOf3(
        q.write.format("noop").mode("overwrite").save())
      val rolledSec = minOf3(
        rolledDf.write.format("noop").mode("overwrite").save())
      val rawRows = source.count()
      val rollupRows = flows.count()
      graft.plans.RollupRewrite.clear(spark)
      (rawSec, rolledSec, rawRows, rollupRows)
    }

    try {
      val scales = sys.env.getOrElse("SPARK_GRAFT_ROLLUP_SCALES", "1,16,64")
        .split(",").flatMap(_.trim.toIntOption).filter(_ >= 1)
        .distinct.sorted.toSeq
      val rows = scales.map { k =>
        val dir =
          if (k == 1) srcDir
          else {
            val d = new java.io.File(root, s"x$k").getAbsolutePath
            BuildScaled.buildScaled(spark, srcDir, d, k, "density")
            d
          }
        val (raw, rolled, rr, fr) = point(dir)
        graft.model.Views.reset(spark)
        val label = if (k == 1) "x1" else s"x${k}_density"
        s"""{"scale":"$label","raw_rows":$rr,"rollup_rows":$fr,""" +
          s""""raw_sec":${fmt(raw)},"rolled_sec":${fmt(rolled)},""" +
          s""""speedup":${fmt(raw / rolled)}}"""
      }
      println(
        s"""{"metric":"rollup_rewrite","sf":"$srcDir","points":[""" +
          rows.mkString(",") + "]}")
    } finally graft.model.Views.rmTree(root.toPath)
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The ×k replica builder behind the scale evidence, and a main that
  * materializes one replica to disk so the DuckDB oracle can crosscheck
  * correctness AT THE SECOND SCALE POINT — the sweep (ScaleSweep)
  * measures time at ×1/×10, this makes the same ×10 tables available
  * to `Verify` + `tools/crosscheck.py`, turning the scale evidence from
  * timed-only into hash-checked. ScaleSweep, ScaleAnn and RollupBench
  * build their replicas here too.
  *
  * Replica construction — the realistic growth shape. Each replica r
  * offsets every ENTITY key (orderkey, custkey, partkey, suppkey,
  * user/event ids, doc/vec ids) by r·stride, so ×k data has ×k wallets,
  * ×k markets, ×k documents — key cardinality grows WITH the data, the
  * way a marketplace actually grows (more users and markets in the same
  * time window, i.e. rows-per-key and groups-per-window densify by key
  * count, not by per-key history). Timestamps are left untouched on
  * purpose: the window count per key stays fixed while the number of
  * keys scales, which is the hash-aggregate / hash-join stress axis.
  * Value distributions are untouched. Document text gets a per-replica
  * word-salt so near-dup structure is preserved within a replica but
  * replicas don't alias each other — see the inline note at the salt
  * for why (aliasing replicas makes the LSH pair OUTPUT grow ∝k²,
  * and the curve then measures output volume, not the engine).
  * nation/region are true dims and stay fixed.
  *
  * Two growth axes, both real at 100 TB:
  *  - `entities` (default): ×k wallets/markets/docs, per-key density
  *    fixed — stresses hash-aggregate/join state and shuffle width.
  *  - `density`: entity keys FIXED, ×k rows per key with replica rows
  *    interleaved a few seconds apart — stresses per-key sequential
  *    work (FIFO chains, candle groups) and map-side partial-agg
  *    reduction (output cardinality stays constant as input grows).
  *
  * Usage: runMain graft.BuildScaled <srcSfDir> <outDir> <k> [axis]
  */
object BuildScaled {
  // Key strides: far above any sf0.1 key image (orderkey max ≈ 600k,
  // custkey 15k, partkey 20k, suppkey 1k, event/user/doc/vec ≤ 600k),
  // so replica key ranges never collide up to ×100.
  private val STRIDE = 100_000_000L

  /** Per-table key roles. `idCols` are row/order identity (always
    * offset per replica — a replicated fill is a NEW fill); `entityCols`
    * are wallets/markets/suppliers (offset only on the `entities` axis);
    * `tsCol` is the event-time column (jittered only on the `density`
    * axis so replicated rows interleave instead of stacking on
    * identical timestamps). */
  private case class TableSpec(idCols: Seq[String],
                               entityCols: Seq[String],
                               tsCol: Option[String] = None)
  private val tableSpecs: Map[String, TableSpec] = Map(
    "lineitem"   -> TableSpec(Seq("l_orderkey"), Seq("l_partkey", "l_suppkey"), Some("l_shipdate")),
    "orders"     -> TableSpec(Seq("o_orderkey"), Seq("o_custkey"), Some("o_orderdate")),
    "customer"   -> TableSpec(Seq(), Seq("c_custkey")),
    "supplier"   -> TableSpec(Seq(), Seq("s_suppkey")),
    "part"       -> TableSpec(Seq(), Seq("p_partkey")),
    "events"     -> TableSpec(Seq("event_id"), Seq("user_id"), Some("ts")),
    "documents"  -> TableSpec(Seq("doc_id"), Seq()),
    "embeddings" -> TableSpec(Seq("vec_id"), Seq()),
    "nation"     -> TableSpec(Seq(), Seq()), // fixed dims: copied once
    "region"     -> TableSpec(Seq(), Seq()))

  /** Write the ×k replica of `srcDir` to `outDir`. Replica 0 is the
    * source rows unchanged (so ×1 differs from sf0.1 only in file
    * layout — every scale point is written by the same writer and read
    * back the same way, keeping the curve apples-to-apples). */
  private[graft] def buildScaled(spark: SparkSession, srcDir: String,
                                 outDir: String, k: Int, axis: String): Unit =
    buildTables(spark, srcDir, outDir, k, axis, tableSpecs)

  /** Build the ×k replica of ONE table (the loop body of
    * [[buildScaled]]) — [[graft.ScaleAnn]] uses it to grow just the
    * embeddings corpus to its off-clamp scale point without paying for
    * a full ×k dataset. */
  private[graft] def buildScaledTable(spark: SparkSession, srcDir: String,
                                      outDir: String, k: Int, axis: String,
                                      table: String): Unit =
    buildTables(spark, srcDir, outDir, k, axis,
      Map(table -> tableSpecs(table)))

  private def buildTables(spark: SparkSession, srcDir: String,
                          outDir: String, k: Int, axis: String,
                          specs: Map[String, TableSpec]): Unit = {
    for ((table, spec) <- specs) {
      val src =
        if (table == "events") graft.model.Tables.events(spark, srcDir)
        else spark.read.parquet(s"$srcDir/$table.parquet")
      // entities axis: everything with any key replicates, keys offset.
      // density axis: only fact/corpus tables replicate (identity keys
      // offset, entity keys FIXED — same wallets/markets, ×k rows each);
      // entity dims (customer/supplier/part) stay ×1 like nation/region.
      val keys =
        if (axis == "density") spec.idCols
        else spec.idCols ++ spec.entityCols
      val reps = math.max(1, if (keys.isEmpty) 1 else k)
      val unioned = (0 until reps).map { r =>
        val off = r.toLong * STRIDE
        var df = src
        for (c <- keys) df = df.withColumn(c, col(c) + lit(off))
        // interleave replicated rows in time instead of stacking k
        // rows on identical timestamps (degenerate density)
        if (axis == "density" && r > 0)
          for (c <- spec.tsCol)
            df = df.withColumn(c,
              col(c) + expr(s"INTERVAL ${r * 7} SECONDS"))
        // keep near-dup structure intra-replica ONLY: salting every
        // third word re-keys most shingles per replica, so a doc's
        // true near-dups replicate together but replicas do NOT alias
        // each other. (A plain suffix makes every doc a near-dup of
        // its 7 copies: LSH pair OUTPUT then grows ∝k² by
        // construction and the curve measures output volume, not the
        // engine — measured exponent 1.7 on that variant.)
        if (table == "documents" && r > 0)
          df = df.withColumn("text", concat_ws(" ",
              transform(split(col("text"), " +"),
                (w, i) => when(i % 3 === 0, concat(w, lit(s"r$r"))).otherwise(w))))
            .withColumn("n_chars", length(col("text")).cast("long"))
        // the embedding analogue of the word-salt (found by the r16
        // full-registry sweep: plain replication gives every vector
        // k-1 EXACT cross-replica copies, so cosine near-dup pair
        // OUTPUT grows ∝k² and q_dedup_embedding's curve measures
        // output volume, not the engine — 1.2 s → 29 s at ×10): a
        // per-replica diagonal ±1 sign transform. Diagonal ±1 is
        // ORTHOGONAL, so every intra-replica cosine is preserved
        // bit-for-bit (true near-dup structure replicates with the
        // data) while independent per-replica sign patterns scramble
        // cross-replica cosines toward 0 — replicas cannot alias.
        if (table == "embeddings" && r > 0)
          df = df.withColumn("embedding",
            transform(col("embedding"),
              (x, i) => when(pmod(hash(i, lit(r)), lit(2)) === 1, -x)
                .otherwise(x)))
        df
      }.reduce(_ unionByName _)
      unioned.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val k = args(2).toInt
    val axis = if (args.length > 3) args(3) else "entities"
    val spark = GraftSession.local()
    buildScaled(spark, src, out, k, axis)
    spark.stop()
  }
}

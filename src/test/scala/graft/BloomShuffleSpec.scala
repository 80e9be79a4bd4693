package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.BloomExprs
import graft.model.{Tables, Views}
import graft.operators.{BloomPrune, Leaderboard, Sampling}

class BloomShuffleSpec extends SparkSpec {

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("bloom: inserted keys are always found (no false negatives)") {
    val keys = spark.range(0, 5000).select(col("id"))
    val sketch = keys.agg(
      BloomExprs.bloom_agg(xxhash64(col("id")), 1 << 16, 7).as("bf"))
    val missed = keys.crossJoin(sketch)
      .filter(!BloomExprs.might_contain(col("bf"), xxhash64(col("id"))))
    assert(missed.isEmpty)
  }

  test("bloom: fp rate at ~10 bits/key stays near the 1% design point") {
    val keys = spark.range(0, 5000).select(col("id"))
    val sketch = keys.agg(
      BloomExprs.bloom_agg(xxhash64(col("id")), 1 << 16, 7).as("bf"))
    val absent = spark.range(1000000, 1020000).select(col("id"))
    val fp = absent.crossJoin(sketch)
      .filter(BloomExprs.might_contain(col("bf"), xxhash64(col("id"))))
      .count()
    assert(fp < 20000 * 0.05, s"fp=$fp of 20000 at 65536 bits / 5000 keys")
  }

  test("prunedJoin is row-identical to the plain join") {
    val w = Leaderboard.walletTrades(Views.trades(spark, sf))
    val hot = w.groupBy(col("wallet")).agg(count(lit(1)).as("trades"))
      .filter(col("trades") >= 10)
    // auto-sized path: the bounded approx-count action picks the bits
    val pruned = BloomPrune.prunedJoin(w, hot, "wallet")
    val plain = w.join(hot, Seq("wallet"))
    assert(sameRows(pruned.select(plain.columns.map(col): _*), plain))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("graft_might_contain"),
      "probe must survive into the physical plan")
    // caller-hint path: identical rows with an explicit cardinality
    val hinted = BloomPrune.prunedJoinSized(w, hot, "wallet",
      expectedKeys = 100000L)
    assert(sameRows(hinted.select(plain.columns.map(col): _*), plain))
  }

  test("auto-sizing memoizes: two constructions over one dim, one action") {
    val w = Leaderboard.walletTrades(Views.trades(spark, sf))
    // a dim plan not built anywhere else in the suite, so the memo
    // entry is provably created by THIS test's first construction
    val hot = w.groupBy(col("wallet")).agg(count(lit(1)).as("trades"))
      .filter(col("trades") >= 17)
    val before = Views.planStatMisses.get()
    BloomPrune.prunedJoin(w, hot, "wallet")
    BloomPrune.prunedJoin(w, hot, "wallet")
    val misses = Views.planStatMisses.get() - before
    assert(misses <= 1,
      s"expected at most one sizing action for two constructions, got $misses")
    // and the memo returns the same hint both times
    assert(BloomPrune.dimKeyCount(hot, "wallet") ==
      BloomPrune.dimKeyCount(hot, "wallet"))
  }

  test("wide-row dim: key count small but bytes over threshold → no broadcast") {
    // ADVICE r16: broadcast(dim) ships FULL rows — a dim whose key
    // count passes the 48 B/key check can still exceed the broadcast
    // threshold when its rows are wide. 2k keys × ~64 KiB of string
    // payload ≈ 128 MiB, far over the default 10 MiB threshold, while
    // 2k × 48 B is trivially under it. The byte cap must veto.
    val fact = spark.range(0, 40000).select(
      (col("id") % 20000).as("k"), col("id").as("v"))
    val wide = spark.range(0, 20000).select(
      col("id").as("k"),
      // 64 DISTINCT digests per row (~2 KiB, incompressible) — a
      // repeated single digest would dictionary-encode away in parquet
      concat_ws("", (1 to 64).map(i =>
        md5(concat(col("id").cast("string"), lit(i)))): _*)
        .as("payload"))
      // parquet round-trip so the optimizer has a REAL byte estimate
      // (an in-memory range plan estimates rows, not string payload)
      .repartition(1)
    val dir = tempDir("graft-wide-dim")
    wide.write.mode("overwrite").parquet(dir.toString)
    val dimOnDisk = spark.read.parquet(dir.toString)
    val bytes = BigInt(
      dimOnDisk.queryExecution.optimizedPlan.stats.sizeInBytes.toString)
    val threshold =
      spark.sessionState.conf.autoBroadcastJoinThreshold
    assume(bytes > BigInt(threshold),
      s"fixture dim must exceed the broadcast threshold (got $bytes)")
    val joined = BloomPrune.prunedJoinSized(fact, dimOnDisk, "k",
      expectedKeys = 20000L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      "wide-row dim must not be forced onto the broadcast path:\n" + plan)
    // and still row-identical to the plain join
    val plain = fact.join(dimOnDisk, Seq("k"))
    assert(sameRows(joined.select(plain.columns.map(col): _*), plain))
    // ...while an AGGREGATE-derived dim with the same key count keeps
    // the broadcast: its byte estimate is child-size-scaled garbage
    // (no cardinality reduction), so it must not veto
    val aggDim = fact.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val aggJoined = BloomPrune.prunedJoinSized(fact, aggDim, "k",
      expectedKeys = 20000L)
    assert(aggJoined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "derived-dim byte estimates must not veto the broadcast")
  }

  test("sketch sizing tracks the dim cardinality at ~10 bits/key") {
    // word-aligned, clamped, proportional in between
    assert(BloomPrune.sizeBits(0) == (1 << 13))
    assert(BloomPrune.sizeBits(100) == (1 << 13),
      "small dims clamp to the 1 KiB floor")
    assert(BloomPrune.sizeBits(100000) == 1000000,
      "10 bits/key, already word-aligned here")
    assert(BloomPrune.sizeBits(100001) == 1000064,
      "10 bits/key rounded up to a 64-bit word")
    assert(BloomPrune.sizeBits(Long.MaxValue / 4) == (1 << 27),
      "huge dims clamp to the 16 MiB broadcast ceiling")
    assert(BloomPrune.sizeBits(123457) % 64 == 0)
  }

  test("shardShuffle: a permutation — every key exactly once, stable") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"))
    val a = Sampling.shardShuffle(docs, col("doc_id"), "epoch1", 16)
    // exactly one (shard, pos) per doc, pos dense per shard
    assert(a.count() == docs.count())
    assert(a.select(col("doc_id")).distinct().count() == docs.count())
    val dense = a.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"))
      .filter(col("n") =!= col("mx"))
    assert(dense.isEmpty, "pos must be dense 1..n within each shard")
    // reproducible: same seed, same addresses
    assert(sameRows(a, Sampling.shardShuffle(docs, col("doc_id"), "epoch1", 16)))
    // a different seed is a different permutation
    val b = Sampling.shardShuffle(docs, col("doc_id"), "epoch2", 16)
    val moved = a.join(b, Seq("doc_id"))
      .filter(a("shard") =!= b("shard") || a("pos") =!= b("pos"))
    assert(moved.count() > 0)
  }
}

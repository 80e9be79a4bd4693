package graft

import graft.model.Tables
import graft.sources.PartitionedStore
import org.apache.spark.sql.functions._

class StoreSpec extends SparkSpec {

  test("monthly-partitioned store roundtrips and prunes partitions") {
    val dir = tempDir("graft-store").toString
    val trades = Tables.trades(spark, sf)
    PartitionedStore.writeMonthly(trades, "ts", dir, Seq("token_id", "trade_id"))

    val back = PartitionedStore.read(spark, dir)
    assert(back.count() == trades.count())
    // value fidelity through the roundtrip
    val a = trades.agg(sum(col("usd")), count(lit(1))).head()
    val b = back.agg(sum(col("usd")), count(lit(1))).head()
    assert(a == b)

    // partition pruning: the ym predicates must land in PartitionFilters
    // (inputFiles ignores filters, so inspect the scan node)
    val one = PartitionedStore.readMonths(spark, dir, "199601", "199603")
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("ym"),
      s"no partition pruning in plan:\n$scan")
    assert(one.filter(date_format(col("ts"), "yyyyMM") > "199603").count() == 0)
  }

  test("compaction merges small files per partition, preserving data") {
    val dir = tempDir("graft-compact").toString
    val trades = Tables.trades(spark, sf)
    // simulate micro-batch ingest: many small files inside one month
    trades.filter(date_format(col("ts"), "yyyyMM") === "199601")
      .repartition(16)
      .write.parquet(s"$dir/ym=199601")
    val before = spark.read.parquet(s"$dir/ym=199601")
    val beforeFiles = before.inputFiles.length
    val sumBefore = before.agg(sum(col("usd")), count(lit(1))).head()
    assert(beforeFiles == 16)

    PartitionedStore.compactMonth(spark, dir, "199601",
      Seq("token_id", "trade_id"), targetFileBytes = 1L << 30)

    val after = spark.read.parquet(s"$dir/ym=199601")
    assert(after.inputFiles.length == 1, s"files=${after.inputFiles.length}")
    assert(after.agg(sum(col("usd")), count(lit(1))).head() == sumBefore)

    val stats = PartitionedStore.partitionFileStats(spark, dir).head()
    assert(stats.getString(0) == "199601" && stats.getLong(1) == 1L)
  }
}

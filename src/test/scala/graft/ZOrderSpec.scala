package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ZOrder
import graft.model.Views
import graft.sources.PartitionedStore

class ZOrderSpec extends SparkSpec {

  test("morton interleave: a on even bits, b on odd bits, monotone blocks") {
    assert(ZOrder.interleave(3, 0) == 5L)   // 0b0101
    assert(ZOrder.interleave(0, 3) == 10L)  // 0b1010
    assert(ZOrder.interleave(0xFFFFFFFFL, 0) == 0x5555555555555555L)
    assert(ZOrder.interleave(0, 0xFFFFFFFFL) == 0xAAAAAAAAAAAAAAAAL)
    // quadrant property: interleave of (a, b) < 4 stays within 0..15
    for (a <- 0 to 3; b <- 0 to 3)
      assert(ZOrder.interleave(a, b) < 16)
  }

  test("z-layout prunes parquet row groups for filters on EITHER key") {
    val base = Views.trades(spark, sf).select(
      col("token_id"),
      datediff(col("ts"), lit("1992-01-01").cast("date")).as("day"),
      col("qty"))
    val dir = tempDir("graft-zorder").toString
    // single-key layout: clustered by day only (the "obvious" sort)
    base.withColumn("_s", col("day"))
      .repartitionByRange(24, col("_s")).sortWithinPartitions(col("_s"))
      .drop("_s").write.parquet(s"$dir/byday")
    PartitionedStore.writeZOrdered(base, s"$dir/zorder", "token_id", "day", 24)

    def scanned(path: String, pred: org.apache.spark.sql.Column): (Long, Long) = {
      val q = spark.read.parquet(path).filter(pred)
      val n = q.count()
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      (scan.metrics("numOutputRows").value, n)
    }
    val hotToken = base.groupBy(col("token_id")).count()
      .orderBy(col("count").desc).limit(1)
      .collect().head.getLong(0)
    val tokenPred = col("token_id") === hotToken
    val (zScan, zRows) = scanned(s"$dir/zorder", tokenPred)
    val (dScan, dRows) = scanned(s"$dir/byday", tokenPred)
    assert(zRows == dRows, "same result either layout")
    // by-day layout spreads a token across every row group: no skipping;
    // the z layout confines it to a handful
    assert(zScan * 4 <= dScan,
      s"token filter: z-scan $zScan should be <25% of day-layout scan $dScan")
    // and the z layout still skips on the day key too (vs its own full size)
    val total = base.count()
    val (zDayScan, _) = scanned(s"$dir/zorder", col("day") < 100)
    assert(zDayScan < total,
      s"day filter on z layout must still skip some row groups ($zDayScan/$total)")
  }
}

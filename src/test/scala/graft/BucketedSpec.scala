package graft

import graft.model.Tables
import graft.sources.BucketedWarehouse
import org.apache.spark.sql.functions._

class BucketedSpec extends SparkSpec {

  test("co-bucketed tables join without any shuffle exchange") {
    val prefix = "graftspec"
    try {
      BucketedWarehouse.create(spark, Tables.lineitem(spark, sf),
        Tables.orders(spark, sf), buckets = 4, prefix = prefix)

      // force the sort-merge path (broadcast would hide the point)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = BucketedWarehouse.bucketedJoin(spark, prefix)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")

      // and it returns the same rows as the ad hoc join
      val adhoc = Tables.lineitem(spark, sf).join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == adhoc)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      BucketedWarehouse.drop(spark, prefix)
    }
  }

  test("create survives a stale warehouse location from a dead JVM") {
    // The default catalog is per-process: a previous run's table FILES
    // survive under spark-warehouse while the registration does not,
    // and saveAsTable then threw LOCATION_ALREADY_EXISTS for every JVM
    // after the first (second bucketed bench on a host died this way).
    // Simulate the orphan: plant files at the managed location for a
    // prefix this catalog has never registered, then create().
    val prefix = "graftstale"
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(warehouse, s"${prefix}_lineitem_b")
    fs.mkdirs(orphan)
    val out = fs.create(new org.apache.hadoop.fs.Path(orphan, "stale.parquet"))
    out.write(1); out.close()
    try {
      BucketedWarehouse.create(spark, Tables.lineitem(spark, sf),
        Tables.orders(spark, sf), buckets = 4, prefix = prefix)
      assert(BucketedWarehouse.bucketedJoin(spark, prefix).count() > 0)
    } finally BucketedWarehouse.drop(spark, prefix)
  }
}

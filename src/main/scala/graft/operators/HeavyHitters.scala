package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Approximate heavy hitters — the ClickHouse `topK()` aggregate,
  * which is the SpaceSaving sketch (Metwally et al., "Efficient
  * computation of frequent and top-k elements in data streams").
  *
  * Exact top-k ([[TextAnalysis.wordFrequency]]) must shuffle the full
  * item vocabulary; at 100 TB that is the dominant shuffle. SpaceSaving
  * keeps a fixed-capacity counter map per partition — when full, the
  * minimum counter is evicted and its count is inherited (+1), which
  * overestimates by at most the evicted minimum. Each partition ships
  * only `capacity` counters; summed per item, any item with true count
  * > n/capacity is guaranteed to survive. The shuffle is
  * O(partitions × capacity), independent of vocabulary size.
  *
  * Kept over Spark's `approx_top_k`: it returns only `{item, count}`,
  * no error term, so the gates' lower bound `count_est − err` cannot
  * be formed from it.
  */
object HeavyHitters {

  /** One pass over `items` (single string column), SpaceSaving with
    * `capacity` counters per partition, merged and cut to top `k`.
    * Output: item, count_est (upper bound), err (max overestimate —
    * `count_est − err` is a guaranteed lower bound). */
  def topKApprox(spark: SparkSession, items: DataFrame, itemCol: String,
                 k: Int, capacity: Int): DataFrame = {
    import spark.implicits._
    val sketched = items.select(col(itemCol).cast("string")).as[String]
      .mapPartitions { it =>
        val counts = mutable.Map.empty[String, (Long, Long)] // item -> (count, err)
        it.foreach { item =>
          counts.get(item) match {
            case Some((c, e)) => counts(item) = (c + 1, e)
            case None if counts.size < capacity => counts(item) = (1L, 0L)
            case None =>
              // evict the min counter; the newcomer inherits its count
              // (the classic SpaceSaving replace: count = min+1,
              // err = min — it may have occurred up to min times before)
              val (minItem, (minC, _)) = counts.minBy(_._2._1)
              counts.remove(minItem)
              counts(item) = (minC + 1, minC)
          }
        }
        counts.iterator.map { case (i, (c, e)) => (i, c, e) }
      }
      .toDF("item", "cnt", "err")
    sketched.groupBy(col("item"))
      .agg(sum(col("cnt")).as("count_est"), sum(col("err")).as("err"))
      .orderBy(col("count_est").desc, col("item"))
      .limit(k)
  }

  /** ClickHouse `topKWeighted()`: SpaceSaving where each occurrence
    * increments by a caller-supplied positive weight (volume, bytes,
    * cost) instead of 1 — heaviest items by TOTAL WEIGHT, same
    * fixed-capacity state and the same bound with total weight W in
    * place of n: eviction inherits the minimum counter, so
    * `weight_est − err ≤ true ≤ weight_est`, and any item whose
    * weight exceeds W/capacity is guaranteed to survive its
    * partition's sketch. Shuffle stays O(partitions × capacity),
    * independent of item cardinality. */
  def topKWeightedApprox(spark: SparkSession, items: DataFrame,
                         itemCol: String, weightCol: String,
                         k: Int, capacity: Int): DataFrame = {
    import spark.implicits._
    val sketched = items
      .select(col(itemCol).cast("string"), col(weightCol).cast("long"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val counts = mutable.Map.empty[String, (Long, Long)] // item -> (weight, err)
        it.foreach { case (item, w) =>
          if (w > 0) counts.get(item) match {
            case Some((c, e)) => counts(item) = (c + w, e)
            case None if counts.size < capacity => counts(item) = (w, 0L)
            case None =>
              val (minItem, (minC, _)) = counts.minBy(_._2._1)
              counts.remove(minItem)
              counts(item) = (minC + w, minC)
          }
        }
        counts.iterator.map { case (i, (c, e)) => (i, c, e) }
      }
      .toDF("item", "wt", "err")
    sketched.groupBy(col("item"))
      .agg(sum(col("wt")).as("weight_est"), sum(col("err")).as("err"))
      .orderBy(col("weight_est").desc, col("item"))
      .limit(k)
  }
}

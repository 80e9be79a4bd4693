package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: random-
  * hyperplane LSH — vectors are bucketed by sign patterns, top-k runs
  * per bucket, so the join is bucketed instead of a full cross
  * product. All vector math is `zip_with`/`aggregate` column
  * expressions in double precision (no UDFs).
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two equal-length double arrays (native one-pass
    * expression; left-to-right summation order). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** (id, unit) with vectors cast to double and scaled to unit norm —
    * cosine then reduces to a plain dot product. */
  def normalized(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("n", norm(col("v")))
      .filter(col("n") > 0)
      .select(col("id"), transform(col("v"), x => x / col("n")).as("unit"))

  /** Exact brute-force top-k: for each query vector, the k nearest
    * corpus vectors by cosine. The (small) query set is broadcast —
    * the corpus streams once, no shuffle until the per-query top-k. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = corpus.select(col("id").as("corpus_id"), col("unit").as("cu"))
      .crossJoin(broadcast(
        queries.select(col("id").as("query_id"), col("unit").as("qu"))))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", round(dot(col("cu"), col("qu")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
  }

  /** (id, unit, scale, q) — unit vectors plus their symmetric-int8
    * quantization (per-vector abs-max scale). The byte vectors are 8×
    * smaller than the doubles: at 100 TB the SQ index is what streams
    * through the scan, with the full-precision vectors fetched only
    * for the rerank candidates. */
  def quantized(corpus: DataFrame): DataFrame = {
    val scale = graft.functions.VecAbsMax.vec_abs_max(col("unit"))
    corpus.select(col("id"), col("unit"), scale.as("scale"))
      .withColumn("q",
        graft.functions.QuantizeI8.quantize_i8(col("unit"), col("scale")))
  }

  /** SQ8 approximate top-k with exact rerank: approximate cosine
    * sa·sb/127² · Σ qaᵢ·qbᵢ over the byte vectors selects `refine`·k
    * candidates per query (scanning only the 8×-compressed index),
    * then the surviving candidates rejoin their full-precision unit
    * vectors for the exact cosine and final rank. Recall is measured
    * against [[bruteForceTopK]] in SimilaritySpec. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             refine: Int = 4): DataFrame = {
    val qc = quantized(corpus).select(col("id").as("corpus_id"),
      col("q").as("cq"), col("scale").as("cs"))
    val qq = quantized(queries).select(col("id").as("query_id"),
      col("q").as("qq"), col("scale").as("qs"))
    val approx = qc.crossJoin(broadcast(qq))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("approx_cos",
        col("cs") * col("qs") / lit(127.0 * 127.0) *
          graft.functions.DotI8.dot_i8(col("cq"), col("qq")))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("corpus_id"))
    val candidates = approx.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= k * refine)
      .select(col("query_id"), col("corpus_id"))
    val exact = candidates
      .join(corpus.select(col("id").as("corpus_id"), col("unit").as("cu")),
        "corpus_id")
      .join(broadcast(
        queries.select(col("id").as("query_id"), col("unit").as("qu"))),
        "query_id")
      .withColumn("cosine", round(dot(col("cu"), col("qu")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
  }

  /** Approximate top-k: queries probe their bucket in each of
    * `tables` hash tables (multi-table random-hyperplane LSH — a pair
    * is a candidate if it collides in ANY table, which lifts recall
    * without widening buckets); candidates are deduped, then ranked.
    * Postings are one native expression pass per vector.
    * Recall vs [[bruteForceTopK]] is measured in SimilaritySpec. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, dim: Int, planes: Int,
              k: Int, tables: Int = 4): DataFrame = {
    val post = graft.functions.LshPostings.lsh_postings(col("unit"), planes, tables)
    val cb = corpus.select(col("id").as("corpus_id"), col("unit").as("cu"),
      explode(post).as("post"))
    val qb = queries.select(col("id").as("query_id"), col("unit").as("qu"),
      explode(post).as("post"))
    val joined = cb.join(broadcast(qb), Seq("post"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        round(dot(col("cu"), col("qu")), 6).as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
  }

  /** Per-group embedding centroids, one row per (group, dimension) —
    * the building block of IVF training, cluster drift monitoring and
    * class-prototype classification. posexplode + groupBy is the
    * distributed shape: the shuffle carries (group, dim) partial sums
    * (map-side combined), never whole vectors, so a 100 TB corpus
    * reduces to |groups|·dim rows. Values are floored ×1e6 so results
    * are engine-comparable despite FP summation order. */
  def groupCentroids(embeddings: DataFrame, groupCol: String,
                     vecCol: String): DataFrame =
    embeddings
      .select(col(groupCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast("double")).as("s"))
      .select(col("label"), col("dim"), col("n"),
        floor(col("s") / col("n") * 1e6).cast("long").as("centroid_6"))
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash-LSH near-duplicate candidate detection.
  *
  * The batch near-dup pipeline ([[graft.operators.Dedup.minhashPairs]],
  * SURVEY §2 #30) bands MinHash signatures and pairs documents only
  * inside a (band, bucket). The same contract run INCREMENTALLY: each
  * arriving document pairs against the documents previously seen in
  * its buckets — the training-data "novelty filter" that flags a
  * near-duplicate at ingest time instead of re-running the
  * corpus-wide join per refresh.
  *
  * State is one doc-id list per (band, bucket), capped at
  * `maxDocsPerBucket`: a hot bucket (stop-gram band collision, or a
  * duplicate-dense corpus) stops accumulating once full, which bounds
  * BOTH the per-key state and the ∝k² pair-output cliff the r11 scale curve
  * measured on duplicate-dense replicas (PLANS.md r11 "kept negative
  * result") — this is the streaming form of the bucket-emission-cap
  * mitigation recorded there. At 100 TB the key space is the band
  * buckets (fine-grained, hash-distributed) and per-key state is a
  * few hundred longs, the shape RocksDB state stores carry well.
  *
  * Output rows are raw band-collision candidates (id_a < id_b) —
  * possibly repeated across bands, exactly like the batch candidate
  * stage pre-`distinct`; the consumer dedups and verifies with exact
  * n-gram Jaccard (one bounded join per candidate batch, the batch
  * pipeline's verify stage).
  */
object StreamingNearDup {

  final case class BandPost(band: Int, bucket: Long, doc_id: Long)
  final case class BucketState(ids: List[Long])
  final case class Candidate(id_a: Long, id_b: Long, band: Int, bucket: Long)

  /** (band, bucket, doc_id) posts computed with the SAME signature and
    * banding expressions as the batch pipeline, so a document collides
    * with history identically whether it streamed in or was batched.
    * Pure column exprs — valid on static and streaming frames. */
  def bandPosts(docs: DataFrame, idCol: String, textCol: String,
                ngramN: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    import graft.operators.Dedup
    val k = bands * rowsPerBand
    docs.select(col(idCol).cast("long").as("doc_id"),
        Dedup.wordNgrams(col(textCol), ngramN).as("ngrams"))
      .filter(size(col("ngrams")) > 0)
      .withColumn("sig", Dedup.minhashSignature(col("ngrams"), k))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
          .as(Seq("band", "bucket")))
      .select(col("band").cast("int").as("band"), col("bucket"),
        col("doc_id"))
  }

  /** Candidate pairs, incrementally: a post pairs with every doc
    * already stored in its bucket; re-delivered doc ids are idempotent
    * (no self-pairs, no duplicate growth); a full bucket neither
    * stores nor emits. Works on a bounded Dataset for batch-parity
    * tests. */
  def candidates(spark: SparkSession, posts: Dataset[BandPost],
                 maxDocsPerBucket: Int): Dataset[Candidate] = {
    import spark.implicits._
    posts.groupByKey(p => (p.band, p.bucket))
      .flatMapGroupsWithState[BucketState, Candidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, bucket), rows: Iterator[BandPost],
              state: GroupState[BucketState]) =>
          var ids = state.getOption.map(_.ids).getOrElse(Nil)
          val out = List.newBuilder[Candidate]
          rows.foreach { p =>
            if (!ids.contains(p.doc_id) && ids.size < maxDocsPerBucket) {
              ids.foreach { prev =>
                out += Candidate(math.min(prev, p.doc_id),
                  math.max(prev, p.doc_id), band, bucket)
              }
              ids = p.doc_id :: ids
            }
          }
          state.update(BucketState(ids))
          out.result().iterator
      }
  }
}

package graft

import graft.operators.Dedup
import graft.streaming.StreamingNearDup
import graft.streaming.StreamingNearDup.BandPost
import org.apache.spark.sql.functions._

class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and AGAIN"),
    (3L, "completely different text about market data pipelines here"),
    (4L, "yet another unrelated document speaking of parquet files")
  )

  test("bounded run reproduces the batch candidate stage exactly") {
    val docs = corpus.toDF("doc_id", "text")
    val posts = StreamingNearDup.bandPosts(docs, "doc_id", "text",
      ngramN = 3, bands = 8, rowsPerBand = 4)
    val got = StreamingNearDup.candidates(spark, posts.as[BandPost],
        maxDocsPerBucket = 64)
      .collect().map(c => (c.id_a, c.id_b)).toSet
    // batch candidate stage: same posts, self-joined per (band, bucket)
    val l = posts.select($"band", $"bucket", $"doc_id".as("id_a"))
    val r = posts.select($"band", $"bucket", $"doc_id".as("id_b"))
    val batch = l.join(r, Seq("band", "bucket"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b").distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == batch, s"stream=$got batch=$batch")
    assert(got.contains((1L, 2L)), "planted near-dup pair must collide")
  }

  test("incremental: a doc pairs against history from earlier batches") {
    val dir = tempDir("graft-neardup").toString
    val first = corpus.filter(_._1 != 2L).toDF("doc_id", "text")
    val postsSchema = StreamingNearDup.bandPosts(first, "doc_id", "text",
      3, 8, 4).schema
    // batch 1: everything except doc 2
    StreamingNearDup.bandPosts(first, "doc_id", "text", 3, 8, 4)
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(postsSchema).parquet(dir)
      .as[BandPost]
    val q = StreamingNearDup.candidates(spark, stream, maxDocsPerBucket = 64)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val afterFirst = spark.table("neardup_out")
      .select($"id_a", $"id_b").distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(!afterFirst.contains((1L, 2L)))
    // batch 2: doc 2 arrives later and must pair against stored doc 1
    StreamingNearDup.bandPosts(
        corpus.filter(_._1 == 2L).toDF("doc_id", "text"),
        "doc_id", "text", 3, 8, 4)
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    // batch 3: doc 2 re-delivered — idempotent, nothing new
    StreamingNearDup.bandPosts(
        corpus.filter(_._1 == 2L).toDF("doc_id", "text"),
        "doc_id", "text", 3, 8, 4)
      .write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val all = spark.table("neardup_out").select($"id_a", $"id_b")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(all.toSet.contains((1L, 2L)), "late arrival must hit history")
    // re-delivery added no rows: every (pair, band) combination unique
    val byBand = spark.table("neardup_out")
      .groupBy($"id_a", $"id_b", $"band", $"bucket").count()
      .filter($"count" > 1).count()
    assert(byBand == 0L, "re-delivered doc must not re-emit")
  }

  test("bucket cap bounds both state and emission on a hot bucket") {
    // 10 identical docs → every band bucket collides for all of them;
    // cap 4 → per bucket at most C(4,2)=6 pairs, and ids 5..10 vanish
    val dup = (1L to 10L).map(i => (i, "same same same same same text"))
      .toDF("doc_id", "text")
    val posts = StreamingNearDup.bandPosts(dup, "doc_id", "text", 3, 8, 4)
    val got = StreamingNearDup.candidates(spark, posts.as[BandPost],
        maxDocsPerBucket = 4)
      .collect()
    val perBucket = got.groupBy(c => (c.band, c.bucket)).values
    assert(perBucket.forall(_.length <= 6), "per-bucket pairs must be <= C(cap,2)")
    // arrival order inside a bounded group is partition order, so the
    // four admitted ids are arbitrary — but never more than cap many
    val perBucketMembers = got.groupBy(c => (c.band, c.bucket)).values
      .map(_.flatMap(c => Seq(c.id_a, c.id_b)).toSet.size)
    assert(perBucketMembers.forall(_ <= 4), "cap bounds admitted members")
  }
}

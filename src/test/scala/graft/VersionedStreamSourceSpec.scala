package graft

import graft.sources.VersionedStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The versioned store as a streaming SOURCE (`graft-versioned`):
  * Delta's startingVersion streaming-read contract on this store's
  * manifests — offsets are table versions, batches are per-version
  * file-list deltas, rewrites fail loudly unless skipped. */
class VersionedStreamSourceSpec extends SparkSpec {

  private def freshDir(prefix: String): String = tempDir(prefix).toString

  private def startTail(path: String, sinkName: String, ckpt: String,
                        options: Map[String, String] = Map.empty)
      : StreamingQuery = {
    val reader = spark.readStream.format("graft-versioned")
      .option("path", path)
    options.foreach { case (k, v) => reader.option(k, v) }
    reader.load()
      .writeStream.format("memory").queryName(sinkName)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
  }

  private def sunk(name: String): Set[Long] =
    spark.sql(s"SELECT id FROM $name").collect().map(_.getLong(0)).toSet

  test("latest mode tails exactly the commits made after stream start") {
    import spark.implicits._
    val path = freshDir("vss-latest")
    VersionedStore.append(Seq(1L, 2L).toDF("id"), path)           // v1
    VersionedStore.append(Seq(3L).toDF("id"), path)               // v2
    val q = startTail(path, "vss_latest", freshDir("vss-ckpt"))
    q.processAllAvailable()
    assert(sunk("vss_latest") == Set.empty[Long],
      "pre-start versions are not replayed in latest mode")
    VersionedStore.append(Seq(10L, 11L).toDF("id"), path)         // v3
    q.processAllAvailable()
    assert(sunk("vss_latest") == Set(10L, 11L))
    VersionedStore.append(Seq(12L).toDF("id"), path)              // v4
    q.processAllAvailable()
    q.stop()
    assert(sunk("vss_latest") == Set(10L, 11L, 12L),
      "each new commit arrives exactly once")
  }

  test("snapshot mode bootstraps the full table, then deltas") {
    import spark.implicits._
    val path = freshDir("vss-snap")
    VersionedStore.append(Seq(1L, 2L).toDF("id"), path)
    VersionedStore.append(Seq(3L).toDF("id"), path)
    val q = startTail(path, "vss_snap", freshDir("vss-ckpt"),
      Map("startingVersion" -> "snapshot"))
    q.processAllAvailable()
    assert(sunk("vss_snap") == Set(1L, 2L, 3L), "bootstrap = full snapshot")
    VersionedStore.append(Seq(4L).toDF("id"), path)
    q.processAllAvailable()
    q.stop()
    assert(sunk("vss_snap") == Set(1L, 2L, 3L, 4L))
  }

  test("integer startingVersion streams the deltas since that version") {
    import spark.implicits._
    val path = freshDir("vss-from")
    VersionedStore.append(Seq(1L).toDF("id"), path)               // v1
    VersionedStore.append(Seq(2L).toDF("id"), path)               // v2
    VersionedStore.append(Seq(3L).toDF("id"), path)               // v3
    val q = startTail(path, "vss_from", freshDir("vss-ckpt"),
      Map("startingVersion" -> "1"))
    q.processAllAvailable()
    q.stop()
    assert(sunk("vss_from") == Set(2L, 3L), "deltas of (1, 3]")
  }

  test("a checkpointed restart resumes at the committed offset") {
    import spark.implicits._
    val path = freshDir("vss-restart")
    val ckpt = freshDir("vss-ckpt")
    val out = freshDir("vss-out")
    // memory sinks don't recover from checkpoints — use the file sink
    // (the recovery-capable one) so the SAME checkpoint drives both runs
    def tail(): StreamingQuery =
      spark.readStream.format("graft-versioned").option("path", path)
        .option("startingVersion", "0").load()
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .outputMode("append").start()
    VersionedStore.append(Seq(1L).toDF("id"), path)               // v1
    val q1 = tail(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).toSet
      == Set(1L))
    VersionedStore.append(Seq(2L, 3L).toDF("id"), path)           // v2
    // a fresh query on the SAME checkpoint must deliver only v2 —
    // offsets (versions) round-trip through the checkpoint log
    val q2 = tail(); q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L),
      "the restarted stream delivers v2 exactly once, no v1 replay")
  }

  test("rewrite versions fail the stream unless skipRewrites") {
    import spark.implicits._
    val path = freshDir("vss-rewrite")
    VersionedStore.append((1L to 8L).toDF("id").repartition(4), path)
    val ckpt = freshDir("vss-ckpt")
    val q = startTail(path, "vss_rw", ckpt)
    q.processAllAvailable()
    VersionedStore.compact(spark, path, nFiles = 1)               // v2: rewrite
    VersionedStore.append(Seq(100L).toDF("id"), path)             // v3
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")),
      s"rewrites must fail loudly, got: ${e.getMessage}")

    // skipRewrites: the compaction (logically identical rows) is
    // skipped whole and the append after it still arrives
    val q2 = startTail(path, "vss_rw_skip", freshDir("vss-ckpt"),
      Map("skipRewrites" -> "true"))
    q2.processAllAvailable()
    VersionedStore.compact(spark, path, nFiles = 1)               // v4
    VersionedStore.append(Seq(200L).toDF("id"), path)             // v5
    q2.processAllAvailable(); q2.stop()
    assert(sunk("vss_rw_skip") == Set(200L),
      "compaction emits nothing; the append after it arrives")
  }

  test("skipRewrites delivers files a skipped rewrite removed mid-range " +
    "(each delta resolves through its own version's manifests)") {
    import spark.implicits._
    val path = freshDir("vss-midrw")
    VersionedStore.append(
      Seq(1L -> "1997-01", 2L -> "1997-02").toDF("id", "month"),
      path, partCol = Some("month"))                                              // v1
    VersionedStore.append(
      Seq(3L -> "1997-02").toDF("id", "month"), path, partCol = Some("month"))    // v2
    VersionedStore.compactPartition(spark, path, "1997-02", 1)    // v3 rewrite
    // ONE batch covers (0, 3]: v2's file is absent from v3's manifests
    // (the skipped compaction re-homed its rows), but the append's rows
    // must still arrive — from the file as v2's own mlist lists it
    val q = startTail(path, "vss_midrw", freshDir("vss-ckpt"),
      Map("startingVersion" -> "0", "skipRewrites" -> "true"))
    q.processAllAvailable(); q.stop()
    assert(sunk("vss_midrw") == Set(1L, 2L, 3L),
      "files removed by a skipped rewrite later in the batch range are " +
        "still delivered from their original manifests")
  }

  test("a batch file vacuumed after a skipped rewrite fails with the " +
    "actionable remedy, not a raw reader error") {
    import spark.implicits._
    val path = freshDir("vss-vac")
    VersionedStore.append(Seq(1L).toDF("id"), path)                  // v1
    VersionedStore.append(Seq(2L).toDF("id"), path)                  // v2
    VersionedStore.compact(spark, path, nFiles = 1)                  // v3
    // simulate vacuum taking v2's original file (the compaction
    // re-homed its rows into files a skipRewrites stream skips)
    val v2file = (VersionedStore.filesAsOf(path, 2).toSet --
      VersionedStore.filesAsOf(path, 1).toSet).head
    assert(new java.io.File(path, v2file).delete())
    val q = startTail(path, "vss_vac", freshDir("vss-ckpt"),
      Map("startingVersion" -> "0", "skipRewrites" -> "true"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("vacuumed") &&
      m.contains("startingVersion=snapshot")),
      s"expected the vacuumed-file remedy, got: ${msgs(e).mkString(" | ")}")
  }

  test("hierarchical tables stream with the partition column reattached") {
    import spark.implicits._
    val path = freshDir("vss-part")
    def batch(ids: Seq[(Long, String)]): DataFrame =
      ids.toDF("id", "month")
    VersionedStore.append(
      batch(Seq(1L -> "1997-01", 2L -> "1997-02")), path, partCol = Some("month"))  // v1
    val q = startTail(path, "vss_part", freshDir("vss-ckpt"))
    q.processAllAvailable()
    VersionedStore.append(
      batch(Seq(3L -> "1997-02", 4L -> "1997-03")), path, partCol = Some("month"))  // v2
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT id, month FROM vss_part").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(3L -> "1997-02", 4L -> "1997-03"),
      s"delta rows carry their partition values, got $got")
  }

  test("batch format read: current, versionAsOf, timestampAsOf") {
    import spark.implicits._
    val path = freshDir("vss-batch")
    VersionedStore.append(Seq(1L, 2L).toDF("id"), path)           // v1
    VersionedStore.append(Seq(3L).toDF("id"), path)               // v2
    def fmt = spark.read.format("graft-versioned").option("path", path)
    assert(fmt.load().collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L), "no option = current snapshot")
    assert(fmt.option("versionAsOf", "1").load()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "versionAsOf pins the snapshot")
    // far-future timestamp resolves to the current version (the
    // at-t precision is pinned in VersionedStoreSpec; manifest mtimes
    // of back-to-back commits can collide at ms resolution)
    val tFuture = VersionedStore.history(path).last.timestampMs + 3600000L
    assert(fmt.option("timestampAsOf", tFuture.toString).load()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
      "timestampAsOf resolves the version live at t")
    intercept[IllegalArgumentException] {
      fmt.option("versionAsOf", "1").option("timestampAsOf", "0").load()
    }
    // partitioned tables read through the same format with the
    // partition column attached (the Catalyst FileIndex underneath)
    val ppath = freshDir("vss-batch-p")
    VersionedStore.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "p"), ppath, partCol = Some("p"))
    val got = spark.read.format("graft-versioned").option("path", ppath)
      .load().select("id", "p").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> "a", 2L -> "b"))
  }

  test("the warehouse tail drives a downstream incremental consumer") {
    // the point of #154: a downstream pipeline (here: keep-first
    // exact dedup over doc hashes, the incremental-ingest shape)
    // tails the warehouse table and maintains its state with
    // exactly-once batch delivery — no hand-rolled checkpointing
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val path = freshDir("vss-consume")
    VersionedStore.append(
      Seq((1L, "aa"), (2L, "bb")).toDF("id", "text"), path)       // v1
    val stream = spark.readStream.format("graft-versioned")
      .option("path", path).option("startingVersion", "0").load()
    val firstSeen = stream
      .select(col("text"), col("id")).as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (text: String, rows: Iterator[(String, Long)],
         state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val id = rows.map(_._2).min
            state.update(id)
            Iterator((text, id))
          }
      }.toDF("text", "keep_id")
    val q = firstSeen.writeStream.format("memory").queryName("vss_dedup")
      .option("checkpointLocation", freshDir("vss-ckpt"))
      .outputMode("append").start()
    q.processAllAvailable()
    VersionedStore.append(
      Seq((3L, "aa"), (4L, "cc")).toDF("id", "text"), path)       // v2
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT text, keep_id FROM vss_dedup").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set("aa" -> 1L, "bb" -> 2L, "cc" -> 4L),
      s"duplicate 'aa' in v2 is suppressed by the stateful consumer, got $got")
  }

  test("streamed deltas equal readChanges over the same range") {
    import spark.implicits._
    val path = freshDir("vss-parity")
    VersionedStore.append((1L to 5L).toDF("id"), path)            // v1
    val q = startTail(path, "vss_parity", freshDir("vss-ckpt"))
    q.processAllAvailable()
    VersionedStore.append((6L to 9L).toDF("id"), path)            // v2
    VersionedStore.append(Seq(10L).toDF("id"), path)              // v3
    q.processAllAvailable(); q.stop()
    val batchDelta = VersionedStore.readChanges(spark, path, 1, 3)
      .collect().map(_.getLong(0)).toSet
    assert(sunk("vss_parity") == batchDelta,
      "the streaming source and the batch delta read agree")
  }

  test("delete-vector versions are retractions: the snapshot bootstrap " +
    "subtracts them, mid-stream they fail unless skipRewrites") {
    import spark.implicits._
    val path = freshDir("vss-dv")
    VersionedStore.append((1L to 10L).toDF("id").repartition(2), path) // v1
    VersionedStore.deleteVectored(spark, path, col("id") <= 3L)        // v2
    // bootstrap AFTER the vectored delete: dead rows must not stream
    val q = startTail(path, "vss_dv_snap", freshDir("vss-ckpt"),
      Map("startingVersion" -> "snapshot"))
    q.processAllAvailable()
    assert(sunk("vss_dv_snap") == (4L to 10L).toSet,
      "the bootstrap applies the table's delete vectors")
    // a vectored delete mid-stream retracts rows an append-only
    // stream cannot express — same contract as a rewrite
    VersionedStore.deleteVectored(spark, path, col("id") === 9L)       // v3
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")),
      s"vectored deletes must fail loudly, got: ${e.getMessage}")
    // skipRewrites streams past the retraction; later appends arrive
    val q2 = startTail(path, "vss_dv_skip", freshDir("vss-ckpt"),
      Map("skipRewrites" -> "true"))
    q2.processAllAvailable()
    VersionedStore.deleteVectored(spark, path, col("id") === 10L)      // v4
    VersionedStore.append(Seq(100L).toDF("id"), path)                  // v5
    q2.processAllAvailable(); q2.stop()
    assert(sunk("vss_dv_skip") == Set(100L),
      "the vectored version is skipped whole; the append after arrives")
  }
}

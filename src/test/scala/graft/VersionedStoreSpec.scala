package graft

import graft.sources.VersionedStore
import org.apache.spark.sql.functions._

/** Snapshot isolation / time travel / vacuum over the
  * manifest-versioned store (§2 #145): the Iceberg-style commit
  * protocol in its minimal single-writer form. */
class VersionedStoreSpec extends SparkSpec {

  private def freshDir(): String = tempDir("vstore").toString

  private def rows(path: String, v: Int): Set[Long] =
    VersionedStore.readAsOf(spark, path, v)
      .collect().map(_.getLong(0)).toSet

  test("append commits are versioned and snapshots are stable") {
    import spark.implicits._
    val path = freshDir()
    val v1 = VersionedStore.append(Seq(1L, 2L).toDF("id"), path)
    val v2 = VersionedStore.append(Seq(3L).toDF("id"), path)
    assert((v1, v2) == ((1, 2)))
    assert(rows(path, 1) == Set(1L, 2L), "v1 snapshot excludes v2's rows")
    assert(rows(path, 2) == Set(1L, 2L, 3L))
    assert(VersionedStore.currentVersion(path) == 2)
  }

  test("overwrite and compaction keep old versions readable") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append((1L to 10L).toDF("id"), path)
    VersionedStore.overwrite((100L to 102L).toDF("id"), path)
    assert(rows(path, 1) == (1L to 10L).toSet, "overwrite is a new version")
    assert(rows(path, 2) == (100L to 102L).toSet)
    // compaction: logically identical rows, fewer files, new version
    VersionedStore.append((103L to 120L).toDF("id").repartition(8), path)
    val before = VersionedStore.filesAsOf(path, 3).size
    val v4 = VersionedStore.compact(spark, path, nFiles = 1)
    assert(VersionedStore.filesAsOf(path, v4).size < before)
    assert(rows(path, v4) == rows(path, 3), "compaction changes no rows")
    assert(rows(path, 3) == (100L to 120L).toSet,
      "pre-compaction snapshot still resolves the uncompacted files")
  }

  test("vacuum deletes only files no retained snapshot references") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq(1L).toDF("id"), path)      // v1
    VersionedStore.overwrite(Seq(2L).toDF("id"), path)   // v2 (v1 orphan)
    VersionedStore.append(Seq(3L).toDF("id"), path)      // v3 carries v2
    val deleted = VersionedStore.vacuum(path, keepVersions = 2)
    assert(deleted.nonEmpty && deleted.forall(_.contains("commit-1")),
      s"only v1's files are unreferenced by v2/v3, got $deleted")
    assert(rows(path, 2) == Set(2L) && rows(path, 3) == Set(2L, 3L),
      "retained snapshots unaffected")
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOf(spark, path, 1)
    }
  }

  test("vacuumOlderThan retains exactly what timestamp time travel can " +
    "still reach") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq(1L).toDF("id"), path)      // v1
    VersionedStore.overwrite(Seq(2L).toDF("id"), path)   // v2 (v1 orphan)
    VersionedStore.append(Seq(3L).toDF("id"), path)      // v3 carries v2
    // age v1's commit a day into the past (history reads manifest
    // list mtimes — the same clock timestampAsOf resolves against)
    val cutoff = System.currentTimeMillis() - 3600 * 1000L
    val m1 = new java.io.File(path, "manifests/v1.mlist")
    assert(m1.exists() && m1.setLastModified(cutoff - 86400000L))
    val deleted = VersionedStore.vacuumOlderThan(path, cutoff)
    assert(deleted.nonEmpty && deleted.forall(_.contains("commit-1")),
      s"only the pre-cutoff version's orphans go, got $deleted")
    assert(rows(path, 2) == Set(2L) && rows(path, 3) == Set(2L, 3L),
      "post-cutoff snapshots unaffected")
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOf(spark, path, 1)
    }
    // a cutoff before every retained commit is a no-op
    assert(VersionedStore.vacuumOlderThan(path, cutoff - 172800000L).isEmpty)
  }

  test("row-level delete rewrites only the files containing matches") {
    import spark.implicits._
    val path = freshDir()
    // two separate appends -> two disjoint file sets; the predicate
    // only ever matches rows of the second
    VersionedStore.append((1L to 10L).toDF("id").coalesce(1), path)  // v1
    VersionedStore.append((11L to 20L).toDF("id").coalesce(1), path) // v2
    val before = VersionedStore.filesAsOf(path, 2)
    val v3 = VersionedStore.delete(spark, path, col("id") > 15L)
    assert(v3 == 3)
    assert(rows(path, 3) == ((1L to 10L) ++ (11L to 15L)).toSet)
    assert(rows(path, 2) == (1L to 20L).toSet,
      "pre-delete snapshot still reads the deleted rows")
    // copy-on-write at FILE granularity: v1's file is carried by
    // reference (same name), v2's file was rewritten
    val after = VersionedStore.filesAsOf(path, 3)
    val v1Files = VersionedStore.filesAsOf(path, 1)
    assert(v1Files.forall(after.contains),
      "untouched files are carried by reference, not rewritten")
    assert(before.exists(f => !after.contains(f)),
      "the matching file was replaced")
  }

  test("delete keeps false AND null predicate rows; no-match is a no-op") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq((1L, Some(5L)), (2L, None: Option[Long]),
      (3L, Some(50L))).toDF("id", "score"), path)
    // null score: predicate evaluates NULL -> row is KEPT
    VersionedStore.delete(spark, path, col("score") > 10L)
    assert(rows(path, 2) == Set(1L, 2L), "null-predicate row survives")
    // nothing matches: no version minted
    val v = VersionedStore.delete(spark, path, col("score") > 999L)
    assert(v == 2 && VersionedStore.currentVersion(path) == 2,
      "a no-match delete mints no version")
  }

  test("merge upserts by key, rewriting only files with matched keys") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1), path)                                           // v1
    VersionedStore.append(Seq((3L, "c"), (4L, "d")).toDF("id", "name")
      .coalesce(1), path)                                           // v2
    val v1Files = VersionedStore.filesAsOf(path, 1)
    // update key 3 (lives in v2's file), insert key 9
    val v3 = VersionedStore.merge(spark, path,
      Seq((3L, "C2"), (9L, "new")).toDF("id", "name"), Seq("id"))
    val got = VersionedStore.readAsOf(spark, path, v3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "C2", 4L -> "d",
      9L -> "new"))
    val after = VersionedStore.filesAsOf(path, v3)
    assert(v1Files.forall(after.contains),
      "the file without matched keys is carried by reference")
    assert(rows(path, 2) == Set(1L, 2L, 3L, 4L),
      "pre-merge snapshot unchanged")
    // pure insert (no key matches): every existing file carried
    val v4 = VersionedStore.merge(spark, path,
      Seq((10L, "x")).toDF("id", "name"), Seq("id"))
    assert(after.forall(VersionedStore.filesAsOf(path, v4).contains),
      "a no-match merge carries every file")
    assert(rows(path, v4).contains(10L))
    // guards: duplicate update keys and schema drift are refused
    intercept[IllegalArgumentException] {
      VersionedStore.merge(spark, path,
        Seq((1L, "p"), (1L, "q")).toDF("id", "name"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      VersionedStore.merge(spark, path,
        Seq((1L, "p", 0L)).toDF("id", "name", "extra"), Seq("id"))
    }
  }

  test("change feed derives row-level insert/update/delete from COW file " +
      "deltas; carried survivors and compaction are silent") {
    import spark.implicits._
    val path = freshDir()
    // v1: two rows in ONE file (so the merge rewrite carries a survivor)
    VersionedStore.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1), path)
    // v2: update id=2, insert id=3 — id=1 survives the rewrite UNCHANGED
    VersionedStore.merge(spark, path,
      Seq((2L, "B2"), (3L, "c")).toDF("id", "name"), Seq("id"))
    // v3: delete id=1
    VersionedStore.delete(spark, path, col("id") === 1L)
    // v4: compaction — same rows, new files
    VersionedStore.compact(spark, path, nFiles = 1)
    def feed(from: Int, to: Int) =
      VersionedStore.readChangeFeed(spark, path, from, to, Seq("id"))
        .collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
          r.getAs[String]("_change_type"), r.getAs[Int]("_commit_version")))
        .toSet
    assert(feed(0, 1) == Set((1L, "a", "insert", 1), (2L, "b", "insert", 1)))
    assert(feed(1, 2) == Set(
      (2L, "b", "update_preimage", 2), (2L, "B2", "update_postimage", 2),
      (3L, "c", "insert", 2)),
      "the carried survivor id=1 is NOT misreported as a change")
    assert(feed(2, 3) == Set((1L, "a", "delete", 3)))
    assert(feed(3, 4) == Set.empty, "compaction is CDF-silent")
    // a multi-version range unions the steps with their versions
    assert(feed(1, 4) == feed(1, 2) ++ feed(2, 3))
  }

  test("change feed on the hierarchical store reattaches partition values") {
    val path = freshDir()
    VersionedStore.append(
      part(path, "1996-01", 1L).unionByName(part(path, "1996-02", 10L, 20L)),
      path, partCol = Some("month"))
    VersionedStore.delete(spark, path, col("id") === 20L)
    val got = VersionedStore.readChangeFeed(spark, path, 1, 2, Seq("id"))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("month"),
        r.getAs[String]("_change_type"))).toSet
    assert(got == Set((20L, "1996-02", "delete")),
      "only the deleted row changes; its partition value rides along")
  }

  test("schema evolution: opted-in new columns null-fill old files; " +
      "drift without opt-in, type changes and drops are refused") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq((1L, "a")).toDF("id", "name"), path)     // v1
    // new column without opt-in: refused
    intercept[IllegalArgumentException] {
      VersionedStore.append(Seq((2L, "b", 0.5)).toDF("id", "name", "score"),
        path)
    }
    // type change: refused
    intercept[IllegalArgumentException] {
      VersionedStore.append(Seq(("2", "b")).toDF("id", "name"), path)
    }
    // dropped column: refused
    intercept[IllegalArgumentException] {
      VersionedStore.append(Seq(Tuple1(2L)).toDF("id"), path)
    }
    // opted-in evolution
    val v2 = VersionedStore.append(
      Seq((2L, "b", 0.5)).toDF("id", "name", "score"), path,
      allowSchemaEvolution = true)
    val snap = VersionedStore.readAsOf(spark, path, v2)
    assert(snap.columns.toSeq == Seq("id", "name", "score"),
      "evolved schema keeps the stable prefix, extras at the end")
    val got = snap.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set((1L, "a", None), (2L, "b", Some(0.5))),
      "pre-evolution file null-fills the new column")
    // time travel: v1 still reads under ITS schema
    assert(VersionedStore.readAsOf(spark, path, 1).columns.toSeq ==
      Seq("id", "name"))
    // post-evolution append must now carry the evolved schema
    intercept[IllegalArgumentException] {
      VersionedStore.append(Seq((3L, "c")).toDF("id", "name"), path)
    }
    // row-level ops work across the evolution boundary: a predicate
    // on the evolved column deletes from a pre-evolution file region
    val v3 = VersionedStore.delete(spark, path,
      col("score").isNull && col("id") === 1L)
    assert(VersionedStore.readAsOf(spark, path, v3).collect()
      .map(_.getLong(0)).toSet == Set(2L))
  }

  test("schema evolution on the hierarchical store; snapshot scan and " +
      "stream source serve the recorded schema") {
    val path = freshDir()
    VersionedStore.append(part(path, "1996-01", 1L),
      path, partCol = Some("month"))
    intercept[IllegalArgumentException] { // drift without opt-in
      VersionedStore.append(
        part(path, "1996-02", 2L).withColumn("tag", lit("x")),
        path, partCol = Some("month"))
    }
    val v2 = VersionedStore.append(
      part(path, "1996-02", 2L).withColumn("tag", lit("x")),
      path, partCol = Some("month"), allowSchemaEvolution = true)
    // the Catalyst FileIndex read serves the evolved schema with the
    // old partition's rows null-filled
    val snap = VersionedStore.readIndexed(spark, path, v2)
    assert(snap.columns.toSet == Set("id", "month", "tag"))
    val got = snap.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("month"),
        Option(r.getAs[String]("tag")))).toSet
    assert(got == Set((1L, "1996-01", None), (2L, "1996-02", Some("x"))))
    // a partition-pruned read of the old partition null-fills too
    assert(snap.where(col("month") === "1996-01").collect()
      .map(r => Option(r.getAs[String]("tag"))).toSeq == Seq(None))
    // the stream source's schema authority is the recorded schema
    assert(spark.readStream.format("graft-versioned").load(path)
      .schema.fieldNames.toSet == Set("id", "month", "tag"))
  }

  test("a torn commit leaves the previous version live") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq(1L).toDF("id"), path)
    // simulate a crash between data write and list publish: data
    // files exist, the manifest list's link never happened
    Seq(99L).toDF("id").write.parquet(s"$path/data/commit-2")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/manifests/v2.mlist.tmp"),
      "#part\n\tp--v2-bogus.pmanifest".getBytes("UTF-8"))
    assert(VersionedStore.currentVersion(path) == 1,
      "tmp manifest is not a committed version")
    assert(rows(path, 1) == Set(1L), "orphaned files stay invisible")
    // the next real commit proceeds past the debris
    val v = VersionedStore.append(Seq(2L).toDF("id"), path)
    assert(rows(path, v) == Set(1L, 2L))
  }

  test("streaming micro-batch commits: replay lands exactly-once state") {
    import spark.implicits._
    val path = freshDir()
    // two micro-batches through the streaming seam
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val q = graft.streaming.StreamingIngest.sinkVersioned(
      ms.toDF().withColumnRenamed("value", "id"), path,
      freshDir() + "/ckpt")
    ms.addData(1L, 2L); q.processAllAvailable()
    ms.addData(3L); q.processAllAvailable()
    q.stop()
    assert(VersionedStore.currentVersion(path) == 2)
    assert(rows(path, 1) == Set(1L, 2L))
    assert(rows(path, 2) == Set(1L, 2L, 3L))
    // at-least-once replay: recommitting the LAST batch (same id,
    // same rows — what a post-crash foreachBatch does) must land the
    // identical state, not append a second copy
    VersionedStore.commitBatch(Seq(3L).toDF("id"), path, batchId = 1L)
    assert(VersionedStore.currentVersion(path) == 2)
    assert(rows(path, 2) == Set(1L, 2L, 3L), "replay is idempotent")
  }

  test("commitBatch refuses to rewrite published history (ADVICE r12)") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq(1L).toDF("id"), path) // v1
    VersionedStore.append(Seq(2L).toDF("id"), path) // v2
    // a RESET checkpoint restarts batch ids at 0 → version 1, which is
    // already published: must fail fast, not clobber v1's manifest
    intercept[IllegalArgumentException] {
      VersionedStore.commitBatch(Seq(99L).toDF("id"), path, batchId = 0L)
    }
    assert(rows(path, 1) == Set(1L) && rows(path, 2) == Set(1L, 2L),
      "published versions untouched by the refused commit")
    // a future batch id (gap in versions) is equally diverged
    intercept[IllegalArgumentException] {
      VersionedStore.commitBatch(Seq(99L).toDF("id"), path, batchId = 5L)
    }
    // the two legal moves still work: next version, and replay of the
    // current one
    assert(VersionedStore.commitBatch(Seq(3L).toDF("id"), path, 2L) == 3)
    assert(VersionedStore.commitBatch(Seq(3L).toDF("id"), path, 2L) == 3)
    assert(rows(path, 3) == Set(1L, 2L, 3L))
  }

  test("crash MID-COMMIT between data write and manifest publish: " +
    "restart + replay + later batches land exactly-once state") {
    // VERDICT r12 #4: the full failure matrix for stream →
    // VersionedStore. The torn point is INSIDE commitBatch — data
    // files for the next version on disk, manifest never renamed —
    // and the checkpoint never recorded the batch, so the restarted
    // stream re-delivers it.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = freshDir()
    val ckpt = freshDir() + "/ckpt"
    // run 1: batch 0 commits v1, then the process "dies" while batch 1
    // was mid-commit — simulated by stopping the stream before batch 1
    // and fabricating exactly what a torn commitBatch leaves behind
    val ms1 = MemoryStream[Long]
    val q1 = graft.streaming.StreamingIngest.sinkVersioned(
      ms1.toDF().withColumnRenamed("value", "id"), path, ckpt)
    ms1.addData(1L, 2L); q1.processAllAvailable(); q1.stop()
    Seq(3L).toDF("id").write.parquet(s"$path/data/commit-2")
    assert(VersionedStore.currentVersion(path) == 1,
      "torn batch-1 commit is invisible: v1 still live")
    assert(rows(path, 1) == Set(1L, 2L))
    // run 2: fresh stream instance over the SAME checkpoint; the
    // source replays to the committed offset, batch 1 re-delivers its
    // rows, and a later batch follows
    val ms2 = MemoryStream[Long]
    val q2 = graft.streaming.StreamingIngest.sinkVersioned(
      ms2.toDF().withColumnRenamed("value", "id"), path, ckpt)
    ms2.addData(1L, 2L) // replay ballast: re-aligns the source offset
    ms2.addData(3L)     // the batch that was mid-commit at the crash
    q2.processAllAvailable()
    ms2.addData(4L)     // life goes on after recovery
    q2.processAllAvailable(); q2.stop()
    assert(VersionedStore.currentVersion(path) == 3)
    assert(rows(path, 2) == Set(1L, 2L, 3L),
      "replayed batch overwrote the torn debris exactly once")
    assert(rows(path, 3) == Set(1L, 2L, 3L, 4L))
    assert(rows(path, 1) == Set(1L, 2L), "history intact")
  }

  test("crash AFTER manifest publish but before checkpoint commit: " +
    "the replayed batch republishes identically, not twice") {
    // the other half of the failure matrix: commitBatch finished (v2
    // published) but the sink's batch never reached the checkpoint's
    // commit log, so the restarted stream re-runs it → v == cur, the
    // idempotent-replay arm of the commitBatch guard — driven through
    // a REAL restarted stream, not a direct call
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = freshDir()
    val ckpt = freshDir() + "/ckpt"
    val ms1 = MemoryStream[Long]
    val q1 = graft.streaming.StreamingIngest.sinkVersioned(
      ms1.toDF().withColumnRenamed("value", "id"), path, ckpt)
    ms1.addData(1L, 2L); q1.processAllAvailable(); q1.stop()
    // the "crashed" run published batch 1's version before dying
    VersionedStore.commitBatch(Seq(3L).toDF("id"), path, batchId = 1L)
    assert(VersionedStore.currentVersion(path) == 2)
    val ms2 = MemoryStream[Long]
    val q2 = graft.streaming.StreamingIngest.sinkVersioned(
      ms2.toDF().withColumnRenamed("value", "id"), path, ckpt)
    ms2.addData(1L, 2L)
    ms2.addData(3L)
    q2.processAllAvailable()
    ms2.addData(4L)
    q2.processAllAvailable(); q2.stop()
    assert(VersionedStore.currentVersion(path) == 3)
    assert(rows(path, 2) == Set(1L, 2L, 3L), "replay republished v2, no dup")
    assert(rows(path, 3) == Set(1L, 2L, 3L, 4L))
  }

  // ---- hierarchical manifests (manifest list + per-partition) --------

  private def part(path: String, month: String, id: Long*) = {
    import spark.implicits._
    id.map(i => (i, month)).toDF("id", "month")
  }
  private def pmanifests(path: String): Set[String] =
    new java.io.File(path, "manifests").list().toSet
      .filter(_.endsWith(".pmanifest"))
  /** Files a fresh execution of `df`'s scan read — the planner's
    * pruning result (`numFiles` of its one FileSourceScanExec). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    val q = df.where(lit(true)) // a new plan: `df`'s metrics may be spent
    q.collect()
    q.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get.metrics("numFiles").value
  }
  private def prows(path: String, v: Int): Set[(Long, String)] =
    VersionedStore.readAsOf(spark, path, v)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("month"))).toSet

  test("a 1-partition append rewrites O(1) manifest entries") {
    val path = freshDir()
    // v1: three partitions
    val v1 = VersionedStore.append(
      part(path, "1996-01", 1L).unionByName(part(path, "1996-02", 2L))
        .unionByName(part(path, "1996-03", 3L)), path, partCol = Some("month"))
    assert(v1 == 1)
    val pmsV1 = pmanifests(path)
    assert(pmsV1.size == 3, "one pmanifest per partition")
    // v2: append into ONE partition
    val v2 = VersionedStore.append(part(path, "1996-02", 20L),
      path, partCol = Some("month"))
    val pmsV2 = pmanifests(path)
    assert((pmsV2 -- pmsV1).size == 1,
      s"one new pmanifest for the touched partition, got ${pmsV2 -- pmsV1}")
    // untouched partitions carried BY REFERENCE: identical entries
    val (m1, m2) = (VersionedStore.readMlist(path, 1),
      VersionedStore.readMlist(path, 2))
    def entry(m: VersionedStore.Mlist, v: String) =
      m.parts.find(_.value == v).get
    assert(entry(m2, "1996-01") == entry(m1, "1996-01"))
    assert(entry(m2, "1996-03") == entry(m1, "1996-03"))
    assert(entry(m2, "1996-02") != entry(m1, "1996-02"))
    // pinned old version still resolves, new version unions
    assert(prows(path, 1) ==
      Set((1L, "1996-01"), (2L, "1996-02"), (3L, "1996-03")))
    assert(prows(path, v2) == prows(path, 1) + ((20L, "1996-02")))
  }

  test("partitioned row-level delete: file granularity inside partitions, " +
      "untouched partitions by reference, emptied partitions vanish") {
    val path = freshDir()
    // v1: three partitions; v2: a second FILE into 1996-02, so that
    // partition holds two files with disjoint id ranges
    VersionedStore.append(
      part(path, "1996-01", 1L, 2L).unionByName(part(path, "1996-02", 10L))
        .unionByName(part(path, "1996-03", 30L)), path, partCol = Some("month"))
    VersionedStore.append(part(path, "1996-02", 20L),
      path, partCol = Some("month"))
    val m2 = VersionedStore.readMlist(path, 2)
    // delete id=20: lives in exactly one of 1996-02's two files
    val v3 = VersionedStore.delete(spark, path, col("id") === 20L)
    assert(v3 == 3)
    assert(prows(path, 3) ==
      Set((1L, "1996-01"), (2L, "1996-01"), (10L, "1996-02"),
        (30L, "1996-03")))
    assert(prows(path, 2).contains((20L, "1996-02")),
      "pre-delete snapshot unchanged")
    val m3 = VersionedStore.readMlist(path, 3)
    def entry(m: VersionedStore.Mlist, v: String) =
      m.parts.find(_.value == v).get
    // untouched partitions carried by reference (identical entries);
    // within 1996-02, the file holding id=10 survives untouched
    assert(entry(m3, "1996-01") == entry(m2, "1996-01"))
    assert(entry(m3, "1996-03") == entry(m2, "1996-03"))
    val files2 = VersionedStore.readPmanifestEntries(path,
      entry(m2, "1996-02").pmanifest).map(_.file).toSet
    val files3 = VersionedStore.readPmanifestEntries(path,
      entry(m3, "1996-02").pmanifest).map(_.file).toSet
    assert((files3 -- files2).isEmpty && files2 != files3,
      "delete with no survivors in the file strikes it; no rewrite needed")
    // wipe a whole partition: its entry disappears from the mlist
    val v4 = VersionedStore.delete(spark, path,
      col("month") === "1996-03")
    val m4 = VersionedStore.readMlist(path, v4)
    assert(!m4.parts.exists(_.value == "1996-03"),
      "an emptied partition vanishes from the manifest list")
    assert(prows(path, v4) ==
      Set((1L, "1996-01"), (2L, "1996-01"), (10L, "1996-02")))
    // no-match delete mints no version
    assert(VersionedStore.delete(spark, path,
      col("id") === 999L) == v4)
  }

  test("pruned reads never open unselected partitions' manifests or files") {
    val path = freshDir()
    VersionedStore.append(
      part(path, "1996-01", 1L).unionByName(part(path, "1996-02", 2L)),
      path, partCol = Some("month"))
    VersionedStore.append(part(path, "1996-02", 20L), path, partCol = Some("month"))
    val pruned = VersionedStore.readIndexed(spark, path, 2)
      .where(col("month") === "1996-01")
    assert(pruned.collect().map(_.getAs[Long]("id")).toSet == Set(1L))
    // planning prunes whole manifests: the only file in the scan is
    // the selected partition's — which lives in commit-1, because v2
    // never touched it
    assert(scannedFiles(pruned) == 1)
    val inputs = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(inputs.nonEmpty && inputs.forall(f =>
      f.contains("commit-1") && f.contains("month=1996-01")), inputs.toSeq)
  }

  test("partition overwrite replaces one partition; snapshots + vacuum hold") {
    val path = freshDir()
    VersionedStore.append(
      part(path, "1996-01", 1L).unionByName(part(path, "1996-02", 2L)),
      path, partCol = Some("month"))
    // hot-range rewrite of one partition (reorg finality shape)
    val v2 = VersionedStore.overwritePartitions(part(path, "1996-02", 99L),
      path, "month")
    assert(prows(path, v2) == Set((1L, "1996-01"), (99L, "1996-02")))
    assert(prows(path, 1) == Set((1L, "1996-01"), (2L, "1996-02")),
      "pre-rewrite snapshot still resolves the replaced files")
    // vacuum to the current version only: v1's orphaned partition file
    // goes, the carried 1996-01 files and pmanifest survive
    val deleted = VersionedStore.vacuum(path, keepVersions = 1)
    assert(deleted.nonEmpty && deleted.forall(_.contains("month=1996-02")),
      s"only the replaced partition's old files are unreferenced: $deleted")
    assert(prows(path, v2) == Set((1L, "1996-01"), (99L, "1996-02")),
      "current version unaffected by vacuum")
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOf(spark, path, 1)
    }
    val leftPms = pmanifests(path)
    assert(leftPms == VersionedStore.readMlist(path, v2).parts
      .map(_.pmanifest).toSet,
      "exactly the referenced pmanifests survive vacuum")
  }

  test("partitioned streaming sink: torn mid-commit crash + replay " +
    "lands exactly-once state with O(touched) metadata per batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = freshDir()
    val ckpt = freshDir() + "/ckpt"
    def withMonth(ms: MemoryStream[Long]) =
      ms.toDF().withColumnRenamed("value", "id")
        .withColumn("month", when(col("id") < 10, "1996-01")
          .otherwise("1996-02"))
    // batch 0 → v1 over two partitions, then die while batch 1 (one
    // row, one partition) was mid-commit: its data + pmanifest exist,
    // the mlist was never renamed
    val ms1 = MemoryStream[Long]
    val q1 = graft.streaming.StreamingIngest.sinkVersioned(
      withMonth(ms1), path, ckpt, partCol = Some("month"))
    ms1.addData(1L, 12L); q1.processAllAvailable(); q1.stop()
    assert(VersionedStore.currentVersion(path) == 1)
    part(path, "1996-01", 3L).write
      .parquet(s"$path/data/commit-2/month=1996-01")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/manifests/p-1996-01-v2.pmanifest"),
      "data/commit-2/month=1996-01/bogus.parquet")
    assert(VersionedStore.currentVersion(path) == 1,
      "an unpublished mlist leaves v1 live; orphan pmanifest invisible")
    // restart: replay batch 1, then a later batch
    val ms2 = MemoryStream[Long]
    val q2 = graft.streaming.StreamingIngest.sinkVersioned(
      withMonth(ms2), path, ckpt, partCol = Some("month"))
    ms2.addData(1L, 12L)
    ms2.addData(3L)
    q2.processAllAvailable()
    ms2.addData(14L)
    q2.processAllAvailable(); q2.stop()
    assert(VersionedStore.currentVersion(path) == 3)
    assert(prows(path, 1) == Set((1L, "1996-01"), (12L, "1996-02")))
    assert(prows(path, 2) == prows(path, 1) + ((3L, "1996-01")),
      "replayed batch overwrote the torn debris exactly once")
    assert(prows(path, 3) == prows(path, 2) + ((14L, "1996-02")))
    // O(touched) held batch to batch: v2 touched only 1996-01, so its
    // 1996-02 entry is v1's, carried by reference
    val (m1, m2) = (VersionedStore.readMlist(path, 1),
      VersionedStore.readMlist(path, 2))
    assert(m1.parts.find(_.value == "1996-02") ==
      m2.parts.find(_.value == "1996-02"))
  }

  test("file-level stats pruning: a time-range read skips whole files " +
    "from the manifest, no footer probing at plan time") {
    import spark.implicits._
    val path = freshDir()
    // one partition, four disjoint-ts files (repartitionByRange +
    // local sort puts each ts band in its own file, like an hourly
    // ingest producing time-ordered files)
    val df = (0L until 4000L).map(i => (i, 1000L + i, "1996-01"))
      .toDF("id", "ts", "month")
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
    val v1 = VersionedStore.append(df, path, partCol = Some("month"),
      statsCol = Some("ts"))
    val ml = VersionedStore.readMlist(path, v1)
    assert(ml.statsCol.contains("ts"), "stats column is a table property")
    val entries = VersionedStore.readPmanifestEntries(path,
      ml.parts.head.pmanifest)
    assert(entries.size == 4 && entries.forall(_.stats.nonEmpty),
      s"every file carries footer-harvested (rows, min, max): $entries")
    assert(entries.map(_.stats.get._1).sum == 4000L, "row counts harvested")
    // a narrow range: only the one file whose [min,max] intersects
    val pruned = VersionedStore.readIndexed(spark, path, v1)
      .where(col("ts").between(1100, 1200))
    assert(pruned.count() == 101, "the surviving file holds the full answer")
    assert(scannedFiles(pruned) == 1, "3 of 4 files pruned at PLANNING time")
    // inherited on later commits without re-declaring; appended files
    // get their own stats; carried lines keep theirs
    val v2 = VersionedStore.append(
      Seq((9000L, 9000L, "1996-01")).toDF("id", "ts", "month"), path, partCol = Some("month"))
    val e2 = VersionedStore.readPmanifestEntries(path,
      VersionedStore.readMlist(path, v2).parts.head.pmanifest)
    assert(e2.size == 5 && e2.forall(_.stats.nonEmpty))
    // declaring a DIFFERENT stats column mid-table is refused
    intercept[IllegalArgumentException] {
      VersionedStore.append(
        Seq((1L, 1L, "1996-01")).toDF("id", "ts", "month"), path, partCol = Some("month"),
        statsCol = Some("id"))
    }
    // a range beyond every file's window scans no file at all
    val miss = VersionedStore.readIndexed(spark, path, v1)
      .where(col("ts").between(999999, 1000000))
    assert(miss.count() == 0 && scannedFiles(miss) == 0)
  }

  test("per-partition compaction rewrites one partition, carries the rest") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(
      part(path, "1996-01", 1L to 8L: _*).repartition(8)
        .unionByName(part(path, "1996-02", 100L)), path, partCol = Some("month"))
    val m1 = VersionedStore.readMlist(path, 1)
    val before = VersionedStore
      .readPmanifestEntries(path, m1.parts.find(_.value == "1996-01").get.pmanifest).size
    assert(before > 1, s"compactable: $before files")
    val v2 = VersionedStore.compactPartition(spark, path, "1996-01", nFiles = 1)
    val m2 = VersionedStore.readMlist(path, v2)
    assert(VersionedStore.readPmanifestEntries(path,
      m2.parts.find(_.value == "1996-01").get.pmanifest).size == 1)
    // untouched partition carried by reference; rows identical; old
    // version still resolves the uncompacted files
    assert(m2.parts.find(_.value == "1996-02") ==
      m1.parts.find(_.value == "1996-02"))
    assert(prows(path, v2) == prows(path, 1), "compaction changes no rows")
    assert(prows(path, 1).size == 9)
  }

  test("readChanges: the (from, to] delta reads only the added files; " +
    "non-append ranges are refused") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(part(path, "1996-01", 1L, 2L),
      path, partCol = Some("month"))                                  // v1
    VersionedStore.append(part(path, "1996-02", 3L),
      path, partCol = Some("month"))                                  // v2
    VersionedStore.append(
      part(path, "1996-01", 4L).unionByName(part(path, "1996-03", 5L)),
      path, partCol = Some("month"))                                  // v3
    val delta = VersionedStore.readChanges(spark, path, 1, 3)
    assert(delta.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("month"))).toSet ==
      Set((3L, "1996-02"), (4L, "1996-01"), (5L, "1996-03")),
      "exactly the rows added after v1, partition values reattached")
    // O(new data): the delta scan lists only the added files
    assert(delta.inputFiles.toSet.intersect(
      VersionedStore.readAsOf(spark, path, 1).inputFiles.toSet).isEmpty,
      "no v1 file enters the delta scan")
    // an overwrite inside the range rewrites history — refused
    VersionedStore.overwritePartitions(part(path, "1996-01", 9L),
      path, "month")                                                   // v4
    intercept[IllegalArgumentException] {
      VersionedStore.readChanges(spark, path, 2, 4)
    }
    // flat tables: same API
    val f = freshDir()
    VersionedStore.append(Seq(1L).toDF("id"), f)
    VersionedStore.append(Seq(2L, 3L).toDF("id"), f)
    assert(VersionedStore.readChanges(spark, f, 1, 2)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("optimistic publish: racing writers cannot lose an update — one " +
    "wins the exclusive rename, the loser fails loudly, debris vacuums") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(part(path, "1996-01", 1L), path, partCol = Some("month"))
    // two writers enter append simultaneously; each reads the current
    // version at entry, writes attempt-unique data, then races the
    // create-exclusive mlist rename for version 2
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val results = (10 to 11).map { i =>
      val t = new java.util.concurrent.FutureTask(() => {
        gate.await()
        try Right(VersionedStore.append(
          part(path, "1996-01", i.toLong), path, partCol = Some("month")))
        catch {
          // CME from the exclusive rename, IAE from the cheap
          // fail-fast if the winner published before our data write
          case e: java.util.ConcurrentModificationException => Left(e)
          case e: IllegalArgumentException => Left(e)
        }
      })
      new Thread(t).start(); t
    }.map(_.get())
    val won = results.collect { case Right(v) => v }
    val lost = results.collect { case Left(_) => 1 }.size
    assert(won.nonEmpty, "at least one writer committed")
    assert(won.size + lost == 2)
    assert(won.toSet.size == won.size, s"no two commits share a version: $won")
    // THE invariant: every published version resolves, and every
    // winner's row is present in the final table — nothing silently
    // lost or clobbered regardless of who won the race
    val cur = VersionedStore.currentVersion(path)
    val finalRows = prows(path, cur)
    assert(finalRows.contains((1L, "1996-01")))
    for (v <- won)
      assert(VersionedStore.readAsOf(spark, path, v).count() >= 2,
        s"version $v resolves")
    if (lost == 1) {
      // the loser's attempt left only unreferenced debris — vacuum
      // removes it and every retained snapshot still reads
      VersionedStore.vacuum(path, keepVersions = cur)
      assert(prows(path, cur) == finalRows, "vacuum never touches live files")
    } else {
      // the race serialized cleanly (one writer finished before the
      // other read the version) — both rows landed
      assert(finalRows == Set((1L, "1996-01"), (10L, "1996-01"),
        (11L, "1996-01")))
    }
  }

  test("compaction clusters on the stats column so file pruning survives " +
    "maintenance") {
    import spark.implicits._
    val path = freshDir()
    val df = (0L until 4000L).map(i => (i, 1000L + i, "1996-01"))
      .toDF("id", "ts", "month")
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
    VersionedStore.append(df, path, partCol = Some("month"), statsCol = Some("ts"))
    val v2 = VersionedStore.compactPartition(spark, path, "1996-01", nFiles = 2)
    val entries = VersionedStore.readPmanifestEntries(path,
      VersionedStore.readMlist(path, v2).parts.head.pmanifest)
    assert(entries.size == 2 && entries.forall(_.stats.nonEmpty),
      "compacted files re-harvest stats")
    // the rewrite range-partitioned on ts, so the two files' (min,max)
    // windows stay disjoint and a narrow range still reads ONE file —
    // a round-robin rewrite would hand both files the full range and
    // quietly kill #149's pruning at the first compaction
    val pruned = VersionedStore.readIndexed(spark, path, v2)
      .where(col("ts").between(1100, 1200))
    assert(pruned.count() == 101 && scannedFiles(pruned) == 1,
      s"stats pruning survives compaction: ${entries.map(_.stats)}")
    assert(VersionedStore.readAsOf(spark, path, v2).count() == 4000)
    // history: the compaction commit is a full-partition rewrite
    val h = VersionedStore.history(path)
    assert(h.map(_.version) == Seq(1, 2))
    assert(h.head.rowsAdded.contains(4000L) && h.head.filesAdded == 4)
    assert(h(1).rowsAdded.contains(4000L) && h(1).filesAdded == 2 &&
      h(1).filesRemoved == 4 && h(1).partitionsTouched == Seq("1996-01"))
  }

  test("history + versionAsOf: derived commit audit and timestamp travel") {
    val path = freshDir()
    VersionedStore.append(part(path, "1996-01", 1L, 2L),
      path, partCol = Some("month"))                                  // v1
    Thread.sleep(50)
    val t1 = System.currentTimeMillis()
    Thread.sleep(50)
    VersionedStore.append(part(path, "1996-02", 3L),
      path, partCol = Some("month"))                                  // v2
    VersionedStore.overwritePartitions(part(path, "1996-01", 9L),
      path, "month")                                                   // v3
    val h = VersionedStore.history(path)
    assert(h.map(_.version) == Seq(1, 2, 3))
    assert(h.forall(_.form == "partitioned"))
    assert(h(1).partitionsTouched == Seq("1996-02") &&
      h(1).filesAdded >= 1 && h(1).filesRemoved == 0,
      s"append touches only its partition: ${h(1)}")
    assert(h(2).partitionsTouched == Seq("1996-01") &&
      h(2).filesRemoved >= 1, s"overwrite removes the old files: ${h(2)}")
    assert(h.map(_.timestampMs) == h.map(_.timestampMs).sorted)
    // timestamp travel resolves to the version live at that moment
    assert(VersionedStore.versionAsOf(path, t1) == 1)
    assert(VersionedStore.versionAsOf(path,
      System.currentTimeMillis() + 1000) == 3)
    intercept[IllegalArgumentException] {
      VersionedStore.versionAsOf(path, 0L)
    }
  }

  test("fileindex snapshot read: one scan node, parity with the union " +
    "reader, pinned against later commits") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(
      part(path, "1996-01", 1L, 2L, 3L)
        .unionByName(part(path, "1996-02", 10L, 11L)), path, partCol = Some("month"))
    val df = VersionedStore.readIndexed(spark, path, 1)
    assert(df.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("month"))).toSet == prows(path, 1),
      "row parity with the union reader")
    // the union reader plans one scan PER partition; this plans ONE
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1, s"single scan node, got ${scans.size}")
    // snapshot isolation at the plan level: the index pins version 1
    VersionedStore.append(part(path, "1996-01", 99L), path, partCol = Some("month"))
    assert(df.count() == 5, "pinned FileIndex unaffected by later commits")
    // flat tables read through the same API (empty partition schema)
    val fpath = freshDir()
    VersionedStore.append(Seq(1L, 2L).toDF("id"), fpath)
    assert(VersionedStore.readIndexed(spark, fpath, 1)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("fileindex pruning is driven by the query's own WHERE clause " +
    "inside the planner: partition AND file-stats levels") {
    import spark.implicits._
    val path = freshDir()
    // 1996-01: four disjoint-ts files with footer stats; 1996-02: one
    val jan = (0L until 4000L).map(i => (i, 1000L + i, "1996-01"))
      .toDF("id", "ts", "month")
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
    val feb = Seq((9000L, 99000L, "1996-02")).toDF("id", "ts", "month")
    VersionedStore.append(jan.unionByName(feb), path, partCol = Some("month"),
      statsCol = Some("ts"))
    val df = VersionedStore.readIndexed(spark, path, 1)
    assert(df.inputFiles.length == 5, "five live files before pruning")
    val q = df.where(col("month") === "1996-01" &&
      col("ts").between(1100L, 1200L))
    assert(q.collect().length == 101, "filter answer correct")
    // the executed scan read ONE file of five: the month predicate
    // dropped 1996-02 without opening its pmanifest, and the ts range
    // dropped 3 of Jan's 4 files from their manifest stats — no
    // readPartitionsAsOf-style API parameters anywhere in the query
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.get
    assert(scan.metrics("numFiles").value == 1,
      s"planner-pruned to 1 file, got ${scan.metrics("numFiles").value}")
    // a data filter the stats can't serve (different column) keeps all
    // of the selected partition's files — conservative, still correct
    val q2 = df.where(col("month") === "1996-01" && col("id") < 10L)
    assert(q2.collect().length == 10)
    val scan2 = q2.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.get
    assert(scan2.metrics("numFiles").value == 4,
      "partition pruning alone: all four Jan files scanned")
  }

  test("flat and partitioned commits do not mix on one table") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq(1L).toDF("id"), path)
    intercept[IllegalArgumentException] {
      VersionedStore.append(part(path, "1996-01", 2L), path, partCol = Some("month"))
    }
  }

  test("bloom file-skip index: point lookups prune files min/max stats " +
    "cannot, carried and compacted files keep fingerprints") {
    import spark.implicits._
    val path = freshDir()
    // four files split by tok % 4: every file's [min, max] tok window
    // spans nearly the whole range (min/max stats useless for a point
    // probe) but the value SETS are disjoint — the bloom shape
    val all = (0L until 4096L).map(i => (i, i % 997, "p"))
      .toDF("tok", "ts", "month")
    // one append per residue class → four one-file commits into the
    // same partition (declaration on the first, inherited after)
    val v1 = (0L until 4L).map(r => VersionedStore.append(
      all.filter(col("tok") % 4 === r).coalesce(1), path, partCol = Some("month"),
      statsCol = if (r == 0) Some("ts") else None,
      bloomCol = if (r == 0) Some("tok") else None)).last
    val ml = VersionedStore.readMlist(path, v1)
    assert(ml.bloomCol.contains("tok") && ml.statsCols == Seq("ts"),
      "bloom column declared alongside the stats column")
    val e1 = VersionedStore.readPmanifestEntries(path, ml.parts.head.pmanifest)
    assert(e1.size == 4 && e1.forall(_.bloom.isDefined),
      "every added file carries a fingerprint")
    def filesFor(pred: org.apache.spark.sql.Column): (Long, Long) = {
      val q = VersionedStore.read(spark, path).where(pred)
      val n = q.collect().length.toLong
      (q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.metrics("numFiles").value).getOrElse(0L), n)
    }
    // point lookup: ONE file of four (the residue class holding 5)
    assert(filesFor(col("month") === "p" && col("tok") === 5L) == ((1L, 1L)),
      "equality probe reads exactly the one file containing the value")
    // IN over two residue classes: two files
    assert(filesFor(col("month") === "p" &&
      col("tok").isin(5L, 6L)) == ((2L, 2L)),
      "IN probe reads the union of containing files")
    // absent value: every fingerprint disproves it — zero files planned
    assert(filesFor(col("month") === "p" && col("tok") === 999999L)._2 == 0L,
      "absent value answers empty")
    // a non-bloom, non-stats column filter prunes nothing: conservative
    assert(filesFor(col("month") === "p" &&
      (col("tok") % 7) === 0L)._1 == 4L,
      "unrecognized shapes keep all files")
    // second commit WITHOUT re-declaring: the bloom column is a table
    // property — new files fingerprint, carried lines ride verbatim
    val v2 = VersionedStore.append(
      Seq((9001L, 1L, "q")).toDF("tok", "ts", "month"), path, partCol = Some("month"))
    val ml2 = VersionedStore.readMlist(path, v2)
    assert(ml2.bloomCol.contains("tok"), "bloom column inherited")
    val qEntries = VersionedStore.readPmanifestEntries(path,
      ml2.parts.find(_.value == "q").get.pmanifest)
    assert(qEntries.forall(_.bloom.isDefined), "new partition fingerprints")
    assert(filesFor(col("month") === "p" && col("tok") === 5L) == ((1L, 1L)),
      "carried fingerprints still prune after the new commit")
    // compaction re-mints files: fingerprints recomputed from the
    // rewrite, point probes stay exact
    VersionedStore.compactPartition(spark, path, "p", nFiles = 2)
    val mlc = VersionedStore.readMlist(path,
      VersionedStore.currentVersion(path))
    val cEntries = VersionedStore.readPmanifestEntries(path,
      mlc.parts.find(_.value == "p").get.pmanifest)
    assert(cEntries.size == 2 && cEntries.forall(_.bloom.isDefined),
      "compacted files re-fingerprinted")
    assert(filesFor(col("month") === "p" && col("tok") === 5L)._2 == 1L,
      "post-compaction point probe still exact")
    // guards: mid-table change and partition-column blooms refused
    intercept[IllegalArgumentException] {
      VersionedStore.append(
        Seq((1L, 1L, "r")).toDF("tok", "ts", "month"), path, partCol = Some("month"),
        bloomCol = Some("ts"))
    }
    intercept[IllegalArgumentException] {
      val p2 = freshDir()
      VersionedStore.append(
        Seq((1L, 1L, "r")).toDF("tok", "ts", "month"), p2, partCol = Some("month"),
        bloomCol = Some("month"))
    }
  }

  test("multi-column file stats + z-order compaction: predicates on " +
    "EITHER column prune files after the rewrite") {
    import spark.implicits._
    val path = freshDir()
    // x banded by ingest order, y scattered (y = x*17 mod 64): raw
    // files have narrow x windows but near-full y windows
    val rows = (0L until 64L).map(i => (i, (i * 17) % 64, "p"))
      .toDF("x", "y", "month")
      .repartitionByRange(4, col("x")).sortWithinPartitions("x")
    val v1 = VersionedStore.append(rows, path, partCol = Some("month"),
      statsCol = Some("x,y"))
    val ml = VersionedStore.readMlist(path, v1)
    assert(ml.statsCols == Seq("x", "y"), "comma-declared column list")
    val e1 = VersionedStore.readPmanifestEntries(path, ml.parts.head.pmanifest)
    assert(e1.size == 4 && e1.forall(_.bounds.size == 2),
      s"every file carries (min, max) PER column: $e1")
    def filesFor(pred: org.apache.spark.sql.Column): Long = {
      val q = VersionedStore.read(spark, path).where(pred)
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get.metrics("numFiles").value
    }
    // pre-compaction: x prunes (banded), y cannot (scattered windows)
    assert(filesFor(col("month") === "p" && col("x") <= 15) == 1L,
      "x-banded ingest: narrow x range reads 1 of 4 files")
    assert(filesFor(col("month") === "p" && col("y") <= 15) == 4L,
      "scattered y: every file's y window intersects — no pruning")
    // z-order compaction: each output file bounded in BOTH dimensions
    VersionedStore.compactPartition(spark, path, "p", nFiles = 4)
    val e2 = VersionedStore.readPmanifestEntries(path,
      VersionedStore.readMlist(path, VersionedStore.currentVersion(path))
        .parts.head.pmanifest)
    assert(e2.size == 4 && e2.forall(_.bounds.size == 2),
      "stats re-harvested per column after the rewrite")
    val xFiles = filesFor(col("month") === "p" && col("x") <= 15)
    val yFiles = filesFor(col("month") === "p" && col("y") <= 15)
    assert(xFiles < 4L && yFiles < 4L,
      s"morton clustering bounds BOTH windows: x->$xFiles files, y->$yFiles")
    assert(VersionedStore.read(spark, path)
      .where(col("y") <= 15).count() == 16, "pruned read is still exact")
  }

  test("merge-on-read delete vectors: point deletes rewrite NOTHING, " +
    "layer, time-travel, survive appends, apply inside copy-on-write " +
    "rewrites, and fold away on compaction") {
    import spark.implicits._
    val path = freshDir()
    // v1+v2: 200 rows across several files
    VersionedStore.append((0L until 100L).map(i => (i, i % 10))
      .toDF("id", "grp").repartition(4), path)
    VersionedStore.append((100L until 200L).map(i => (i, i % 10))
      .toDF("id", "grp").repartition(4), path)
    val files2 = VersionedStore.filesAsOf(path, 2)
    // v3: vectored delete grp=3 — the manifest's DATA files are
    // byte-identical to v2's (no rewrite), only D: sidecar lines land
    val v3 = VersionedStore.deleteVectored(spark, path, col("grp") === 3)
    assert(v3 == 3)
    assert(VersionedStore.filesAsOf(path, 3) == files2,
      "merge-on-read: zero data files rewritten")
    assert(VersionedStore.deleteVectorsAsOf(path, 3).nonEmpty)
    assert(rows(path, 3) == (0L until 200L).filterNot(_ % 10 == 3).toSet)
    assert(rows(path, 2) == (0L until 200L).toSet,
      "the pre-delete snapshot still reads every row")
    // zero matches: no new version, no debris published
    assert(VersionedStore.deleteVectored(spark, path, col("id") === -1L) == 3)
    // v4: a second vector layers on the first
    assert(VersionedStore.deleteVectored(spark, path, col("id") === 0L) == 4)
    assert(rows(path, 4) ==
      (1L until 200L).filterNot(_ % 10 == 3).toSet)
    assert(VersionedStore.deleteVectorsAsOf(path, 4).size >
      VersionedStore.deleteVectorsAsOf(path, 3).size)
    // plan shape: a vector-free snapshot stays a bare scan (no join);
    // a vectored one subtracts via ONE broadcast anti-join (inspect
    // the FINAL adaptive plan, materialized by the action)
    def planOf(v: Int): String = {
      val df = VersionedStore.readAsOf(spark, path, v)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(!planOf(2).contains("Join"),
      "no delete vectors -> no join in the plan")
    val p4 = planOf(4)
    assert(p4.contains("BroadcastHashJoin") && p4.contains("LeftAnti"),
      s"vectored snapshot plans a broadcast anti-join:\n$p4")
    // v5: append carries the vectors — deleted rows stay dead
    VersionedStore.append(Seq((1000L, 3L)).toDF("id", "grp"), path)
    assert(rows(path, 5) ==
      ((1L until 200L).filterNot(_ % 10 == 3) :+ 1000L).toSet,
      "appended rows visible, vector-deleted rows still dead")
    // v6: a COPY-ON-WRITE delete over files holding vectored rows must
    // not resurrect them into the rewritten files
    VersionedStore.delete(spark, path, col("grp") === 7)
    assert(rows(path, 6) == ((1L until 200L)
      .filterNot(i => i % 10 == 3 || i % 10 == 7) :+ 1000L).toSet,
      "copy-on-write rewrite reads its inputs vector-applied")
    // v7: compaction folds the vectors into clean files
    VersionedStore.compact(spark, path, nFiles = 2)
    assert(VersionedStore.deleteVectorsAsOf(path, 7).isEmpty,
      "compaction reclaims the read-side anti-join")
    assert(rows(path, 7) == rows(path, 6))
    assert(!planOf(7).contains("Join"),
      "post-compaction reads are scan-only again")
    // an incremental reader cannot silently skip the retraction
    intercept[IllegalArgumentException] {
      VersionedStore.readChanges(spark, path, 2, 5)
    }
    // vacuum to the current (vector-free) version: the sidecars die
    // with their manifests
    val dataRoot = new java.io.File(path, "data")
    def dvOnDisk(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(dataRoot).count(f => f.getPath.contains("-dv/") &&
        f.getName.endsWith(".parquet"))
    }
    assert(dvOnDisk() > 0)
    val beforeVacuum = rows(path, 7)
    VersionedStore.vacuum(path, keepVersions = 1)
    assert(dvOnDisk() == 0, "unreferenced sidecars are vacuumed")
    assert(rows(path, 7) == beforeVacuum, "current version unharmed")
  }

  test("vectored vacuum retention: a retained vectored snapshot keeps " +
    "its sidecars alive") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append((0L until 50L).toDF("id")
      .withColumn("grp", col("id") % 5).repartition(2), path)
    VersionedStore.deleteVectored(spark, path, col("grp") === 1) // v2
    VersionedStore.append(Seq((500L, 9L)).toDF("id", "grp"), path) // v3
    VersionedStore.vacuum(path, keepVersions = 2) // keeps v2, v3
    assert(rows(path, 2) == (0L until 50L).filterNot(_ % 5 == 1).toSet,
      "the retained vectored snapshot still resolves after vacuum")
  }

  test("mergeVectored rewrites nothing and lands the exact state " +
    "copy-on-write merge lands") {
    import spark.implicits._
    def base = (0L until 120L).map(i => (i, s"n$i", i * 1.5))
      .toDF("id", "name", "score")
    def updates(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      (0L until 120L).filter(_ % 10 == 0).map(i => (i, "UPD", -1.0))
        .toDF("id", "name", "score")
        .unionByName(Seq((9001L, "NEW", 42.0), (9002L, "NEW", 43.0))
          .toDF("id", "name", "score"))
    }
    val mor = freshDir(); val cow = freshDir()
    VersionedStore.append(base.repartition(3), mor)
    VersionedStore.append(base.repartition(3), cow)
    val filesBefore = VersionedStore.filesAsOf(mor, 1)
    VersionedStore.mergeVectored(spark, mor, updates(spark), Seq("id"))
    VersionedStore.merge(spark, cow, updates(spark), Seq("id"))
    assert(VersionedStore.filesAsOf(mor, 2).toSet
      .intersect(filesBefore.toSet) == filesBefore.toSet,
      "merge-on-read merge carries every pre-existing data file")
    def state(p: String) = VersionedStore.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(state(mor) == state(cow),
      "vectored merge ≡ copy-on-write merge, row for row")
    // duplicate update keys refused, same contract
    intercept[IllegalArgumentException] {
      VersionedStore.mergeVectored(spark, mor,
        Seq((1L, "a", 0.0), (1L, "b", 0.0)).toDF("id", "name", "score"),
        Seq("id"))
    }
  }

  test("reorgVectored reclaims read amplification surgically: only " +
    "files past the dead-ratio threshold rewrite, vectors drop once " +
    "fully folded") {
    import spark.implicits._
    val path = freshDir()
    // two single-file commits with very different dead densities
    VersionedStore.append((0L until 100L).toDF("id").coalesce(1), path)
    VersionedStore.append((100L until 200L).toDF("id").coalesce(1), path)
    VersionedStore.deleteVectored(spark, path, col("id") < 50L)   // 50% of f1
    VersionedStore.deleteVectored(spark, path, col("id") === 150L) // 1% of f2
    val live = (50L until 200L).filterNot(_ == 150L).toSet
    assert(rows(path, 4) == live)
    val files4 = VersionedStore.filesAsOf(path, 4)
    // threshold 10%: only the half-dead file rewrites; the 1%-dead
    // file and the vector lines still guarding it are carried
    val v5 = VersionedStore.reorgVectored(spark, path, minDeadRatio = 0.10)
    assert(v5 == 5)
    val files5 = VersionedStore.filesAsOf(path, 5)
    assert(files4.toSet.intersect(files5.toSet).size == files4.size - 1,
      "exactly one file (the dense-dead one) was rewritten")
    assert(VersionedStore.deleteVectorsAsOf(path, 5).nonEmpty,
      "vectors stay while any live file still needs them")
    assert(rows(path, 5) == live, "reorg is row-preserving")
    // threshold 0: fold the rest — vectors drop, reads go scan-only
    val v6 = VersionedStore.reorgVectored(spark, path, minDeadRatio = 0.0)
    assert(v6 == 6)
    assert(VersionedStore.deleteVectorsAsOf(path, 6).isEmpty,
      "a full fold drops the D: lines")
    assert(rows(path, 6) == live)
    val df6 = VersionedStore.readAsOf(spark, path, 6)
    df6.collect()
    assert(!df6.queryExecution.executedPlan.toString.contains("Join"),
      "post-fold reads are a bare scan again")
    // nothing left to reclaim: no new version
    assert(VersionedStore.reorgVectored(spark, path, 0.0) == 6)
  }

  test("hierarchical merge-on-read delete: O(1) metadata (mlist carried " +
    "verbatim), pruned reads subtract, COW + compaction interplay, " +
    "relation reader refuses") {
    import spark.implicits._
    val path = freshDir()
    // two month partitions, several files each, ts as the stats column
    def month(m: String, ids: Range) =
      ids.map(i => (i.toLong, i.toLong % 97, m)).toDF("id", "ts", "month")
    VersionedStore.append(
      month("1996-01", 0 until 100).repartition(3)
        .unionByName(month("1996-02", 100 until 200).repartition(3)),
      path, partCol = Some("month"), statsCol = Some("ts"))
    val ml1 = VersionedStore.readMlist(path, 1)
    // v2: vectored delete across BOTH partitions — zero pmanifests
    // re-minted, the part entries are carried byte-identical
    val v2 = VersionedStore.deleteVectored(spark, path,
      col("id") % 10 === 4)
    assert(v2 == 2)
    val ml2 = VersionedStore.readMlist(path, 2)
    assert(ml2.parts == ml1.parts,
      "O(1) metadata: every partition entry carried verbatim")
    assert(ml2.dvs.nonEmpty && ml2.statsCols == Seq("ts"),
      "vector lines land next to the inherited header")
    val h2 = VersionedStore.history(path).find(_.version == 2).get
    assert(h2.dvFilesAdded > 0 && h2.filesAdded == 0 && h2.filesRemoved == 0,
      "the audit record distinguishes a vectored delete from a " +
        "metadata-only commit")
    val live = (0L until 200L).filterNot(_ % 10 == 4).toSet
    def ids(v: Int) = VersionedStore.readAsOf(spark, path, v)
      .collect().map(_.getLong(0)).toSet
    assert(ids(2) == live)
    assert(ids(1) == (0L until 200L).toSet, "time travel unaffected")
    // zero matches: no new version
    assert(VersionedStore.deleteVectored(spark, path,
      col("id") === -5L) == 2)
    // pruned read paths subtract too
    assert(VersionedStore.readIndexed(spark, path, 2)
      .where(col("month") === "1996-01")
      .collect().map(_.getLong(0)).toSet ==
      (0L until 100L).filterNot(_ % 10 == 4).toSet,
      "partition-pruned read applies the vectors")
    // the pure-relation reader cannot subtract: loud refusal
    intercept[IllegalArgumentException] {
      spark.read.format("graft-versioned").option("path", path).load()
        .collect()
    }
    // v3: COW partitioned delete must not resurrect vectored rows
    VersionedStore.delete(spark, path, col("id") % 10 === 7)
    assert(ids(3) == live.filterNot(_ % 10 == 7),
      "copy-on-write rewrite reads vector-applied")
    // v4: per-partition compaction folds that partition's dead rows
    // into clean files (vector rows for it become inert)
    VersionedStore.compactPartition(spark, path, "1996-01", nFiles = 1)
    assert(ids(4) == ids(3), "compaction is row-preserving")
    // append inherits the vectors; deleted rows stay dead
    VersionedStore.append(
      Seq((999L, 1L, "1996-03")).toDF("id", "ts", "month"), path, partCol = Some("month"))
    assert(ids(5) == ids(3) + 999L)
    // the incremental reader refuses the vectored range
    intercept[IllegalArgumentException] {
      VersionedStore.readChanges(spark, path, 1, 2)
    }
    // CDF reports the vectored step's deletes with partition values
    val feed = VersionedStore.readChangeFeed(spark, path, 1, 2, Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("month"),
        r.getAs[String]("_change_type"))).toSet
    assert(feed == (0L until 200L).filter(_ % 10 == 4)
      .map(i => (i, if (i < 100) "1996-01" else "1996-02", "delete")).toSet,
      "vector deletes surface in the change feed with partition values")
  }

  test("bloom skip index and delete vectors compose: pruning keeps " +
    "planning-time file drops, the vector subtracts inside kept files") {
    import spark.implicits._
    val path = freshDir()
    // four one-file commits with disjoint token sets (the bloom shape)
    val all = (0L until 4096L).map(i => (i, i % 997, "p"))
      .toDF("tok", "ts", "month")
    (0L until 4L).foreach(r => VersionedStore.append(
      all.filter(col("tok") % 4 === r).coalesce(1), path, partCol = Some("month"),
      statsCol = if (r == 0) Some("ts") else None,
      bloomCol = if (r == 0) Some("tok") else None))
    // vector-delete tok=5 (lives in residue file 1)
    VersionedStore.deleteVectored(spark, path, col("tok") === 5L)
    def probe(t: Long): (Long, Long) = {
      val q = VersionedStore.read(spark, path)
        .where(col("month") === "p" && col("tok") === t)
      val n = q.collect().length.toLong
      // traverse through AQE/stage wrappers (the vectored read plans a
      // join, which AQE adapts); pick the DATA scan, not the sidecar's
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case qs: QueryStageExec => scans(qs.plan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
      val dataScan = scans(q.queryExecution.executedPlan)
        .find(_.schema.fieldNames.contains("tok"))
      (dataScan.map(_.metrics("numFiles").value).getOrElse(-1L), n)
    }
    // the deleted value: bloom still prunes to ITS one file (the file
    // physically contains the bytes), the vector then yields zero rows
    assert(probe(5L) == ((1L, 0L)),
      "bloom prunes to the containing file; the vector empties it")
    // a live value in the same file: pruned to one file, one row
    assert(probe(9L) == ((1L, 1L)))
    // a live value in another file: untouched by the vector
    assert(probe(6L) == ((1L, 1L)))
    // fold the vector; the probe shape is unchanged, row resurrection
    // impossible by parity with the pre-fold answers
    VersionedStore.reorgVectored(spark, path, 0.0)
    assert(probe(5L)._2 == 0L && probe(9L)._2 == 1L,
      "post-fold answers identical")
  }

  test("partitioned CDC-upsert stream: exactly-once upserts with " +
    "partition moves, replay recommits identically") {
    import spark.implicits._
    val path = freshDir()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingIngest.sinkVersionedUpsert(
      ms.toDF().toDF("id", "name", "month"), path, Seq("id"),
      freshDir() + "/ckpt", partCol = Some("month"))
    // batch 0 bootstraps two partitions
    ms.addData((1L, "a", "1996-01"), (2L, "b", "1996-02"))
    q.processAllAvailable()
    // batch 1: in-place update, a PARTITION MOVE, an insert
    ms.addData((2L, "B2", "1996-01"), (3L, "c", "1996-03"))
    q.processAllAvailable()
    q.stop()
    def state() = VersionedStore.read(spark, path).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[String]("month"))).toSet
    assert(VersionedStore.currentVersion(path) == 2)
    assert(state() == Set((1L, "a", "1996-01"), (2L, "B2", "1996-01"),
      (3L, "c", "1996-03")),
      "update applied, key moved partitions, insert landed")
    val ml2 = VersionedStore.readMlist(path, 2)
    assert(ml2.dvs.nonEmpty, "the moved key's old row died by vector")
    // replay of the last batch (post-crash foreachBatch): identical
    VersionedStore.mergeBatchVectored(
      Seq((2L, "B2", "1996-01"), (3L, "c", "1996-03"))
        .toDF("id", "name", "month"), path, Seq("id"),
      batchId = 1L, partCol = Some("month"))
    assert(VersionedStore.currentVersion(path) == 2)
    assert(state() == Set((1L, "a", "1996-01"), (2L, "B2", "1996-01"),
      (3L, "c", "1996-03")), "replay is idempotent")
    // divergence guard
    intercept[IllegalArgumentException] {
      VersionedStore.mergeBatchVectored(
        Seq((9L, "x", "1996-01")).toDF("id", "name", "month"), path,
        Seq("id"), batchId = 7L, partCol = Some("month"))
    }
    // time travel: batch 0's snapshot is intact
    assert(VersionedStore.readAsOf(spark, path, 1).collect()
      .map(_.getAs[Long]("id")).toSet == Set(1L, 2L))
  }

  test("delete vectors across a schema evolution: old snapshots read " +
    "under their own schema minus their dead rows; evolved-column " +
    "predicates see null-filled pre-evolution files") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append((0L until 60L).map(i => (i, s"n$i"))
      .toDF("id", "name").repartition(2), path)                 // v1
    VersionedStore.deleteVectored(spark, path, col("id") % 5 === 0) // v2
    // v3: evolved append — new `score` column; the carried D: lines
    // must survive the evolution commit
    VersionedStore.append(
      (100L until 110L).map(i => (i, s"n$i", i * 0.5))
        .toDF("id", "name", "score"), path,
      allowSchemaEvolution = true)                              // v3
    // v4: vectored delete whose predicate reads the EVOLVED column —
    // pre-evolution files must evaluate it as NULL
    VersionedStore.deleteVectored(spark, path,
      col("score").isNull && col("id") % 7 === 1)               // v4
    val dead5 = (0L until 60L).filter(_ % 5 == 0).toSet
    val dead7 = (0L until 60L).filter(i => i % 5 != 0 && i % 7 == 1).toSet
    val got = VersionedStore.read(spark, path).collect()
      .map(r => (r.getAs[Long]("id"), r.isNullAt(2)))
    assert(got.map(_._1).toSet ==
      ((0L until 60L).toSet -- dead5 -- dead7) ++ (100L until 110L),
      "evolved-column predicate evaluated over null-filled old files")
    assert(got.filter(_._1 < 60L).forall(_._2),
      "pre-evolution rows null-fill the evolved column")
    // time travel to v2: the OLD schema (no score), minus v2's dead
    val snap2 = VersionedStore.readAsOf(spark, path, 2)
    assert(snap2.columns.toSeq == Seq("id", "name"),
      "the pre-evolution snapshot reads under its own recorded schema")
    assert(snap2.collect().map(_.getLong(0)).toSet ==
      (0L until 60L).toSet -- dead5)
    // COW merge across both boundaries: no resurrection of either
    // vector generation, update lands on the evolved schema
    VersionedStore.merge(spark, path,
      Seq((2L, "MERGED", 9.9)).toDF("id", "name", "score"), Seq("id"))
    val after = VersionedStore.read(spark, path).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name")))
    assert(after.count(_._1 == 2L) == 1 &&
      after.find(_._1 == 2L).get._2 == "MERGED")
    assert(after.map(_._1).toSet ==
      ((0L until 60L).toSet -- dead5 -- dead7) ++ (100L until 110L),
      "the cross-boundary rewrite resurrects neither vector generation")
  }

  test("hierarchical surgical reorg: only dead-heavy files rewrite " +
    "inside their partitions; #dv lines drop when fully folded") {
    import spark.implicits._
    val path = freshDir()
    def month(m: String, ids: Range) =
      ids.map(i => (i.toLong, m)).toDF("id", "month")
    // one file per partition (coalesced by the single input partition)
    VersionedStore.append(
      month("1996-01", 0 until 1000).coalesce(1)
        .unionByName(month("1996-02", 1000 until 2000).coalesce(1)),
      path, partCol = Some("month"))
    // dense dead in 1996-01 (50%), sparse in 1996-02 (0.1%)
    VersionedStore.deleteVectored(spark, path,
      (col("id") < 500L) || (col("id") === 1500L))
    val live = ((500L until 1000L) ++
      (1000L until 2000L).filterNot(_ == 1500L)).toSet
    def ids() = VersionedStore.read(spark, path)
      .collect().map(_.getLong(0)).toSet
    assert(ids() == live)
    val ml2 = VersionedStore.readMlist(path, 2)
    val v3 = VersionedStore.reorgVectored(spark, path,
      minDeadRatio = 0.10)
    assert(v3 == 3)
    val ml3 = VersionedStore.readMlist(path, 3)
    assert(ml3.parts.find(_.value == "1996-02") ==
      ml2.parts.find(_.value == "1996-02"),
      "the sparse-dead partition is untouched (carried by reference)")
    assert(ml3.parts.find(_.value == "1996-01") !=
      ml2.parts.find(_.value == "1996-01"),
      "the dense-dead partition's pmanifest re-minted")
    assert(ml3.dvs.nonEmpty, "the sparse file's vector still guards it")
    assert(ids() == live, "reorg is row-preserving")
    // full fold: vectors drop, reads go join-free
    val v4 = VersionedStore.reorgVectored(spark, path, 0.0)
    assert(v4 == 4)
    assert(VersionedStore.readMlist(path, 4).dvs.isEmpty,
      "a full fold drops the #dv lines")
    assert(ids() == live)
    assert(VersionedStore.reorgVectored(spark, path, 0.0) == 4,
      "nothing left to reclaim: no new version")
  }

  test("hierarchical vectored merge: partition-moving upserts with " +
    "untouched partitions carried by reference") {
    import spark.implicits._
    val path = freshDir()
    def month(m: String, ids: Range) =
      ids.map(i => (i.toLong, s"n$i", m)).toDF("id", "name", "month")
    VersionedStore.append(
      month("1996-01", 0 until 50)
        .unionByName(month("1996-02", 50 until 100))
        .unionByName(month("1996-03", 100 until 150)), path, partCol = Some("month"))
    val ml1 = VersionedStore.readMlist(path, 1)
    // updates: in-place update (id 10 stays in 1996-01), a PARTITION
    // MOVE (id 60: 1996-02 -> 1996-01), an insert into a NEW partition
    val updates = Seq(
      (10L, "UPD", "1996-01"),
      (60L, "MOVED", "1996-01"),
      (999L, "NEW", "1996-04")).toDF("id", "name", "month")
    val v2 = VersionedStore.mergeVectored(spark, path, updates,
      Seq("id"))
    assert(v2 == 2)
    val ml2 = VersionedStore.readMlist(path, 2)
    // 1996-03 was untouched by data: its pmanifest entry is carried
    // verbatim; 1996-02 TOO — the move deletes by vector, not rewrite
    assert(ml2.parts.find(_.value == "1996-03") ==
      ml1.parts.find(_.value == "1996-03"), "untouched partition carried")
    assert(ml2.parts.find(_.value == "1996-02") ==
      ml1.parts.find(_.value == "1996-02"),
      "the move's SOURCE partition is never rewritten (vector delete)")
    assert(ml2.dvs.nonEmpty, "matched rows die by vector")
    val got = VersionedStore.read(spark, path).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[String]("month"))).toSet
    val want = (0 until 150).filterNot(i => i == 10 || i == 60)
      .map(i => (i.toLong, s"n$i",
        if (i < 50) "1996-01" else if (i < 100) "1996-02" else "1996-03"))
      .toSet ++ Set((10L, "UPD", "1996-01"), (60L, "MOVED", "1996-01"),
        (999L, "NEW", "1996-04"))
    assert(got == want, "replace-matched / insert-unmatched / move exact")
    // snapshot isolation: v1 unchanged
    assert(VersionedStore.readAsOf(spark, path, 1).count() == 150)
    // partition-pruned read of the move SOURCE subtracts the moved row
    assert(VersionedStore.readIndexed(spark, path, 2)
      .where(col("month") === "1996-02")
      .collect().map(_.getLong(0)).toSet == (50L until 100L).toSet - 60L)
  }

  test("schema records are write-once: a squatted version slot with " +
    "different content refuses the commit (no silent clobber)") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq((1L, "a")).toDF("id", "name"), path) // v1
    // a foreign writer's schema already sits at v2's slot
    val squatted = new java.io.File(path, "manifests/v2.schema")
    java.nio.file.Files.writeString(squatted.toPath, "completely TEXT")
    intercept[java.util.ConcurrentModificationException] {
      VersionedStore.append(Seq((2L, "b")).toDF("id", "name"), path)
    }
    assert(new String(java.nio.file.Files.readAllBytes(squatted.toPath))
      == "completely TEXT", "the existing record was not clobbered")
    assert(VersionedStore.currentVersion(path) == 1,
      "the refused commit published nothing")
    // with the squatter gone, the same append commits — and an
    // EQUAL-content re-record (replay/retry) is a silent no-op
    assert(squatted.delete())
    assert(VersionedStore.append(Seq((2L, "b")).toDF("id", "name"), path)
      == 2)
  }

  test("merge (copy-on-write) on a hierarchical table is row-identical " +
    "to mergeVectored; untouched partitions carry by reference, no " +
    "vectors published") {
    import spark.implicits._
    def freshTable(): String = {
      val p = freshDir()
      VersionedStore.append((1L to 90L).map(i =>
          (i, s"n$i", if (i <= 30) "1996-01"
            else if (i <= 60) "1996-02" else "1996-03"))
        .toDF("id", "name", "month"), p, partCol = Some("month"))
      p
    }
    val cow = freshTable(); val mor = freshTable()
    // update in 1996-01, MOVE id=40 from 1996-02 to 1996-03, insert
    val ups = Seq((5L, "FIVE", "1996-01"), (40L, "MOVED", "1996-03"),
      (999L, "NEW", "1996-03")).toDF("id", "name", "month")
    val v1 = VersionedStore.merge(spark, cow, ups, Seq("id"))
    val v2 = VersionedStore.mergeVectored(spark, mor, ups,
      Seq("id"))
    assert(v1 == 2 && v2 == 2)
    def all(p: String) = VersionedStore.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all(cow) == all(mor), "COW == vectored row-for-row")
    assert(all(cow).contains((40L, "MOVED", "1996-03")) &&
      !all(cow).exists(r => r._1 == 40L && r._3 == "1996-02"),
      "partition-moving update")
    assert(VersionedStore.deleteVectorsAsOf(cow, 2).isEmpty,
      "the COW form keeps the table vector-free")
    // untouched partition 1996-03's ORIGINAL file is... touched (the
    // move's target) — but partition 1996-02's survivors rewrote and
    // 1996-01's matched file rewrote; a partition with NO matched key
    // and NO update row must carry: build one more merge touching
    // only 1996-01 and check 1996-02/03 files carry verbatim
    val before = VersionedStore.filesAsOf(cow, 2).toSet
    VersionedStore.merge(spark, cow,
      Seq((6L, "SIX", "1996-01")).toDF("id", "name", "month"), Seq("id"))
    val after = VersionedStore.filesAsOf(cow, 3).toSet
    val untouched = before.filterNot(_.contains("month=1996-01"))
    assert(untouched.subsetOf(after),
      "partitions without a matched key or update row carry by reference")
  }

  test("concurrent disjoint-partition appends auto-rebase (Iceberg's " +
    "optimistic retry); same-partition conflicts stay one-winner") {
    import spark.implicits._
    def batch(month: String, ids: Long*): org.apache.spark.sql.DataFrame =
      ids.map(i => (i, month)).toDF("id", "month")
    val path = freshDir()
    VersionedStore.append(batch("1996-01", 1L), path, partCol = Some("month")) // v1
    VersionedStore.append(batch("1996-02", 2L), path, partCol = Some("month")) // v2
    // LOSER with a stale base: targets v2 (already taken) carrying a
    // DISJOINT partition — the publish CAS fails, the retry re-bases
    // on v2 and commits v3; nothing serializes through a loud loser
    val v = VersionedStore.appendPartitionedStale(
      batch("1996-03", 3L), path, "month", targetV = 2)
    assert(v == 3, "the re-based append minted the next version")
    assert(VersionedStore.currentVersion(path) == 3)
    val got = VersionedStore.read(spark, path).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("month"))).toSet
    assert(got == Set((1L, "1996-01"), (2L, "1996-02"), (3L, "1996-03")),
      "both the winner's and the re-based loser's rows are present")
    // SAME-partition conflict: a stale append into 1996-03 (which the
    // re-based commit just touched) must stay a loud loser — merging
    // two appends' lines into one partition is reserved for a single
    // writer
    intercept[java.util.ConcurrentModificationException] {
      VersionedStore.appendPartitionedStale(
        batch("1996-03", 99L), path, "month", targetV = 3)
    }
    assert(VersionedStore.currentVersion(path) == 3 &&
      VersionedStore.read(spark, path).count() == 3,
      "the conflicting append committed nothing")
    // genuinely concurrent writers, disjoint partitions: both commit
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = VersionedStore.append(
          batch("1996-04", (10L to 500L): _*), path, partCol = Some("month"))
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = VersionedStore.append(
          batch("1996-05", 6L), path, partCol = Some("month"))
      })
      val (r1, r2) = (f1.get(), f2.get())
      assert(Set(r1, r2) == Set(4, 5),
        s"both writers committed, versions serialized: $r1, $r2")
      val all = VersionedStore.read(spark, path)
      assert(all.filter(col("month") === "1996-04").count() == 491)
      assert(all.filter(col("month") === "1996-05").count() == 1)
    } finally pool.shutdown()
  }

  test("vectored-delete commits auto-rebase past a concurrent winner " +
    "whose files survive; a winner that rewrote named files stays a " +
    "loud loser (the CDC upsert + ad-hoc GDPR delete race)") {
    import spark.implicits._
    val path = freshDir()
    val df = (1L to 40L).map(i => (i, s"n$i")).toDF("id", "name")
    VersionedStore.append(df, path) // v1
    // WINNER: a vectored upsert takes v2 (the streaming-CDC shape —
    // it replaces ids 1 and 2 and inserts id 50, killing the old rows
    // by vector and landing new data files; every v1 file survives)
    val ups = Seq((1L, "ONE"), (2L, "TWO"), (50L, "FIFTY"))
      .toDF("id", "name")
    assert(VersionedStore.mergeVectored(spark, path, ups, Seq("id")) == 2)
    // LOSER: an ad-hoc delete whose matched positions were computed
    // against v1 — it targets v2, loses the publish CAS, and must
    // REBASE onto v2 (its vector names only v1 files, all alive)
    val v = VersionedStore.deleteVectoredAt(spark, path,
      expr("id % 10 = 3"), base = 1)
    assert(v == 3, "the re-based delete minted the next version")
    val got = VersionedStore.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = ((1L to 40L).filterNot(i => i % 10 == 3).map {
      case 1L => (1L, "ONE"); case 2L => (2L, "TWO")
      case i => (i, s"n$i")
    } :+ (50L, "FIFTY")).toSet
    assert(got == want,
      "both commits landed: winner's upsert AND the re-based delete")
    // vectors stay file-consistent: every file a live vector names is
    // in the head manifest
    val headFiles = VersionedStore.read(spark, path) // force no error
    val named = VersionedStore.deleteVectorsAsOf(path, 3)
      .flatMap(p => spark.read.parquet(s"$path/$p")
        .select("file").distinct().collect().map(_.getString(0))).toSet
    assert(named.nonEmpty, "both the winner's and the loser's vectors live")
    headFiles.count() // materialize once more post-check
    // FILE-INCONSISTENT race: a winner that COMPACTED (rewrote every
    // data file) invalidates the stale vector's positions — loud loser
    val path2 = freshDir()
    VersionedStore.append(df, path2) // v1
    assert(VersionedStore.compact(spark, path2, 1) == 2) // rewrites all
    intercept[java.util.ConcurrentModificationException] {
      VersionedStore.deleteVectoredAt(spark, path2,
        expr("id = 7"), base = 1)
    }
    assert(VersionedStore.currentVersion(path2) == 2 &&
      VersionedStore.read(spark, path2).count() == 40,
      "the inconsistent delete committed nothing")
  }

  test("sinkVersionedUpsertLatest keep-latest dedups each batch before " +
    "the vectored merge (raw-CDC shape)") {
    import spark.implicits._
    val path = freshDir()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, String)] // (id, ver, name)
    val q = graft.streaming.StreamingIngest.sinkVersionedUpsertLatest(
      ms.toDF().toDF("id", "ver", "name"), path, Seq("id"), Seq("ver"),
      freshDir() + "/ckpt")
    // batch 0 carries TWO versions of id=1 — the raw merge would
    // refuse the duplicate key; keep-latest picks ver=2
    ms.addData((1L, 1L, "a1"), (1L, 2L, "a2"), (2L, 1L, "b"))
    q.processAllAvailable()
    // batch 1: id=2 again twice (ver 3 wins over 2), id=3 inserts
    ms.addData((2L, 3L, "B3"), (2L, 2L, "b2"), (3L, 1L, "c"))
    q.processAllAvailable()
    q.stop()
    val got = VersionedStore.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((1L, "a2"), (2L, "B3"), (3L, "c")),
      s"latest-by-ord wins within each batch, merges chain, got $got")
  }

  test("CDC-upsert stream: mergeBatchVectored lands exactly-once upserts " +
    "under replay, end-to-end through the foreachBatch sink") {
    import spark.implicits._
    val path = freshDir()
    // end-to-end: an upsert stream through the sink — batch 0 inserts,
    // batch 1 updates a key and inserts another
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingIngest.sinkVersionedUpsert(
      ms.toDF().toDF("id", "name"), path, Seq("id"), freshDir() + "/ckpt")
    ms.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
    ms.addData((2L, "B2"), (3L, "c")); q.processAllAvailable()
    q.stop()
    def state() = VersionedStore.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(VersionedStore.currentVersion(path) == 2)
    assert(state() == Set((1L, "a"), (2L, "B2"), (3L, "c")),
      "matched key replaced, unmatched inserted")
    assert(VersionedStore.filesAsOf(path, 2).toSet
      .intersect(VersionedStore.filesAsOf(path, 1).toSet)
      == VersionedStore.filesAsOf(path, 1).toSet,
      "the upsert rewrote nothing — batch 1's matches died by vector")
    // at-least-once replay of the LAST batch (post-crash foreachBatch):
    // identical version, identical state — not a second copy, and the
    // vector re-derives from v1, not from the replayed run's own output
    VersionedStore.mergeBatchVectored(
      Seq((2L, "B2"), (3L, "c")).toDF("id", "name"), path, Seq("id"),
      batchId = 1L)
    assert(VersionedStore.currentVersion(path) == 2)
    assert(state() == Set((1L, "a"), (2L, "B2"), (3L, "c")),
      "replay is idempotent")
    // divergence guard and per-batch key uniqueness, same contracts
    // as commitBatch / merge
    intercept[IllegalArgumentException] {
      VersionedStore.mergeBatchVectored(Seq((9L, "x")).toDF("id", "name"),
        path, Seq("id"), batchId = 7L)
    }
    intercept[IllegalArgumentException] {
      VersionedStore.mergeBatchVectored(
        Seq((9L, "x"), (9L, "y")).toDF("id", "name"), path, Seq("id"),
        batchId = 2L)
    }
    // time travel still serves the pre-upsert snapshot
    assert(VersionedStore.readAsOf(spark, path, 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("compactSmall bin-packs only sub-threshold files, carries the " +
    "compacted bulk, and folds the smalls' delete vectors") {
    import spark.implicits._
    val path = freshDir()
    // one BIG file (hash column defeats compression so its on-disk
    // size clears the threshold), then a tail of per-batch smalls
    // (the streaming sink's steady-state shape)
    VersionedStore.append(spark.range(0, 50000).select(col("id"))
      .withColumn("id", when(col("id") < 49000L,
        xxhash64(col("id"))).otherwise(col("id"))).coalesce(1), path)
    val big = VersionedStore.filesAsOf(path, 1).head
    (0 until 6).foreach(i => VersionedStore.append(
      Seq(100000L + i).toDF("id"), path))                      // v2..v7
    // a vectored delete hitting one small file and the big file
    VersionedStore.deleteVectored(spark, path,
      col("id") === 100001L || col("id") === 49007L)           // v8
    val before = VersionedStore.read(spark, path).collect()
      .map(_.getLong(0)).toSet
    val v9 = VersionedStore.compactSmall(spark, path,
      targetBytes = 256 * 1024)
    assert(v9 == 9)
    val files9 = VersionedStore.filesAsOf(path, 9)
    assert(files9.contains(big),
      "the already-right-sized file is carried by reference, not rewritten")
    assert(files9.size < VersionedStore.filesAsOf(path, 8).size,
      "the small tail folded into fewer files")
    assert(VersionedStore.read(spark, path).collect()
      .map(_.getLong(0)).toSet == before, "row-preserving")
    assert(!VersionedStore.read(spark, path)
      .filter(col("id") === 100001L).collect().nonEmpty,
      "the small file's vectored delete folded, not resurrected")
    assert(VersionedStore.deleteVectorsAsOf(path, 9).nonEmpty,
      "the big file's vector still guards it (carried, not rewritten)")
    assert(VersionedStore.read(spark, path)
      .filter(col("id") === 49007L).count() == 0,
      "the carried file's vector still applies")
    // nothing small left: no-op
    assert(VersionedStore.compactSmall(spark, path, 16) == 9)
  }

  test("change feed derives deletes and updates from delete vectors " +
    "exactly like copy-on-write steps") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
        .coalesce(1), path)                                         // v1
    VersionedStore.deleteVectored(spark, path, col("id") === 2L)    // v2
    VersionedStore.mergeVectored(spark, path,
      Seq((3L, "C3"), (4L, "d")).toDF("id", "name"), Seq("id"))     // v3
    def feed(from: Int, to: Int) =
      VersionedStore.readChangeFeed(spark, path, from, to, Seq("id"))
        .collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
          r.getAs[String]("_change_type"), r.getAs[Int]("_commit_version")))
        .toSet
    assert(feed(1, 2) == Set((2L, "b", "delete", 2)),
      "a vectored delete step reports exactly the dead rows")
    assert(feed(2, 3) == Set(
      (3L, "c", "update_preimage", 3), (3L, "C3", "update_postimage", 3),
      (4L, "d", "insert", 3)),
      "a vectored merge step pairs dead rows with inserts into updates")
  }

  test("change feed never resurrects vector-dead rows when a rewrite " +
    "replaces a previously-vectored file") {
    import spark.implicits._
    def feed(path: String, from: Int, to: Int) =
      VersionedStore.readChangeFeed(spark, path, from, to, Seq("id"))
        .collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
          r.getAs[String]("_change_type"), r.getAs[Int]("_commit_version")))
        .toSet
    // 1. compaction after a vectored delete: the rewrite folds the
    //    vector; the dead row must NOT be re-reported as a v3 delete
    val p1 = freshDir()
    VersionedStore.append(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "name").coalesce(1), p1)                          // v1
    VersionedStore.deleteVectored(spark, p1, col("id") === 2L)      // v2
    VersionedStore.compact(spark, p1, nFiles = 1)                   // v3
    assert(feed(p1, 1, 3) == Set((2L, "b", "delete", 2)),
      "the delete is reported once, at the vector's own version")
    assert(feed(p1, 2, 3) == Set.empty,
      "a compaction of the vectored file is CDF-silent")
    // 2. copy-on-write merge rewriting the vectored file, with the
    //    dead KEY re-inserted: the old side must exclude the dead row,
    //    so the re-insert is an insert — not a fabricated update pair
    //    against a retracted preimage
    val p2 = freshDir()
    VersionedStore.append(Seq((1L, "a"), (2L, "b"))
      .toDF("id", "name").coalesce(1), p2)                          // v1
    VersionedStore.deleteVectored(spark, p2, col("id") === 2L)      // v2
    VersionedStore.merge(spark, p2,
      Seq((1L, "A2"), (2L, "b2")).toDF("id", "name"), Seq("id"))    // v3
    assert(feed(p2, 2, 3) == Set(
      (1L, "a", "update_preimage", 3), (1L, "A2", "update_postimage", 3),
      (2L, "b2", "insert", 3)),
      "id=2's retracted preimage stays retracted; its return is an insert")
  }

  test("merge accepts multiple NULL-keyed update rows as inserts; " +
    "only repeated non-null keys are refused") {
    import spark.implicits._
    val path = freshDir()
    VersionedStore.append(Seq((Some(1L), "a"), (Some(2L), "b"))
      .toDF("id", "name"), path)                                    // v1
    // two NULL-keyed rows: per the contract NULL never matches and is
    // inserted as-is — they are two inserts, not a duplicate-key error
    val v2 = VersionedStore.merge(spark, path,
      Seq((None: Option[Long], "n1"), (None: Option[Long], "n2"),
        (Some(2L), "B2")).toDF("id", "name"), Seq("id"))
    val got = VersionedStore.readAsOf(spark, path, v2).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getString(1))).toSet
    assert(got == Set((Some(1L), "a"), (Some(2L), "B2"),
      (None, "n1"), (None, "n2")),
      s"NULL-keyed rows insert, non-null key updates, got $got")
    // repeated NON-null keys still refused
    intercept[IllegalArgumentException] {
      VersionedStore.merge(spark, path,
        Seq((Some(1L), "p"), (Some(1L), "q")).toDF("id", "name"),
        Seq("id"))
    }
  }

  test("TTL partition expiry: metadata-only drop, survivors carried " +
    "verbatim, vectors stay inert, time travel intact, guards") {
    import spark.implicits._
    val path = freshDir()
    def month(m: String, ids: Range) =
      ids.map(i => (i.toLong, m)).toDF("id", "month")
    VersionedStore.append(
      month("1996-01", 0 until 50)
        .unionByName(month("1996-02", 50 until 100))
        .unionByName(month("1996-03", 100 until 150)),
      path, partCol = Some("month"))                               // v1
    // a vectored delete first, so carried `#dv` lines cross the expiry
    val v2 = VersionedStore.deleteVectored(spark, path,
      col("id").isin(10L, 60L, 110L))                               // v2
    val ml2 = VersionedStore.readMlist(path, v2)
    // expire everything before 1996-03
    val v3 = VersionedStore.expirePartitions(spark, path, _ < "1996-03")
    assert(v3 == 3)
    val ml3 = VersionedStore.readMlist(path, v3)
    assert(ml3.parts.map(_.value) == Seq("1996-03"))
    // the surviving partition's manifest ENTRY is byte-identical (no
    // pmanifest re-mint, no data file read — metadata-only commit)
    assert(ml3.parts == ml2.parts.filter(_.value == "1996-03"))
    assert(ml3.dvs == ml2.dvs, "carried #dv lines stay; dropped-file " +
      "vector rows are inert by path-keying")
    // rows: only the live partition, still vector-applied
    val got = VersionedStore.readAsOf(spark, path, v3)
      .collect().map(_.getLong(0)).toSet
    assert(got == (100L until 150L).toSet - 110L)
    // time travel to v2 still reads the expired months
    assert(VersionedStore.readAsOf(spark, path, v2).count() == 147)
    // no expired partition: same version, no commit minted
    assert(VersionedStore.expirePartitions(spark, path, _ < "1995-01") == 3)
    // expiring everything refuses
    intercept[IllegalArgumentException] {
      VersionedStore.expirePartitions(spark, path, _ => true)
    }
    // flat tables refuse
    val flat = freshDir()
    VersionedStore.append(Seq((1L, "a")).toDF("id", "name"), flat)
    intercept[IllegalArgumentException] {
      VersionedStore.expirePartitions(spark, flat, _ => true)
    }
  }

  test("one entry point per row operation: a flat and a hierarchical " +
    "table take the same delete/update/merge, COW and vectored, then " +
    "reorg, and agree row for row") {
    import spark.implicits._
    type Rows = Set[(Long, String, String)]
    val base: Rows = (1L to 60L).map(i =>
      (i, s"n$i", s"1996-0${(i - 1) / 20 + 1}")).toSet
    def load() = base.toSeq.toDF("id", "name", "month").repartition(3)
    val flat = freshDir(); val hier = freshDir()
    VersionedStore.append(load(), flat)
    VersionedStore.append(load(), hier, partCol = Some("month"))
    def ups(rs: (Long, String, String)*) = rs.toDF("id", "name", "month")
    def upsert(rs: (Long, String, String)*)(t: Rows): Rows =
      t.filterNot(r => rs.exists(_._1 == r._1)) ++ rs
    def setName(p: Long => Boolean, f: String => String)(t: Rows): Rows =
      t.map { case r @ (i, n, m) => if (p(i)) (i, f(n), m) else r }
    val merged = Seq((10L, "TEN", "1996-01"), (45L, "MOVED", "1996-01"),
      (999L, "NEW", "1996-03"))
    val mergedVec = Seq((30L, "THIRTY", "1996-03"),
      (1000L, "NEWER", "1996-01"))
    val steps: Seq[(String, String => Int, Rows => Rows)] = Seq(
      ("delete", VersionedStore.delete(spark, _, col("id") % 7 === 0),
        _.filterNot(_._1 % 7 == 0)),
      ("update", VersionedStore.update(spark, _, col("id") % 5 === 1,
        Seq("name" -> concat(col("name"), lit("!")))),
        setName(_ % 5 == 1, _ + "!")),
      ("merge", VersionedStore.merge(spark, _, ups(merged: _*), Seq("id")),
        upsert(merged: _*)),
      ("deleteVectored",
        VersionedStore.deleteVectored(spark, _, col("id") % 11 === 0),
        _.filterNot(_._1 % 11 == 0)),
      ("updateVectored", VersionedStore.updateVectored(spark, _,
        col("id").between(20, 25), Seq("name" -> upper(col("name")))),
        setName(i => i >= 20 && i <= 25, _.toUpperCase)),
      ("mergeVectored",
        VersionedStore.mergeVectored(spark, _, ups(mergedVec: _*), Seq("id")),
        upsert(mergedVec: _*)),
      ("reorgVectored", VersionedStore.reorgVectored(spark, _, 0.0),
        identity))
    def snap(p: String): Rows = VersionedStore.read(spark, p)
      .select("id", "name", "month").as[(Long, String, String)].collect().toSet
    var expected = base
    steps.zipWithIndex.foreach { case ((name, op, model), i) =>
      val (vf, vh) = (op(flat), op(hier))
      assert(vf == i + 2 && vh == i + 2, s"[$name] both tables mint v${i + 2}")
      expected = model(expected)
      assert(snap(flat) == expected, s"[$name] flat == relational model")
      assert(snap(hier) == expected, s"[$name] hierarchical == model")
      assert(snap(flat) == snap(hier), s"[$name] layouts agree")
      assert(VersionedStore.history(flat).last.form == "flat" &&
        VersionedStore.history(hier).last.form == "partitioned",
        s"[$name] each table keeps its own layout")
    }
    assert(VersionedStore.deleteVectorsAsOf(flat, 8).isEmpty &&
      VersionedStore.deleteVectorsAsOf(hier, 8).isEmpty,
      "reorg at ratio 0 folds every vector on both layouts")
  }

  test("one entry point per append, batch commit, snapshot read and " +
    "file delta: a flat and a hierarchical table agree row for row") {
    import spark.implicits._
    def rows(ids: Seq[Long]) = ids.map(i =>
      (i, s"n$i", s"1996-0${i % 3 + 1}")).toDF("id", "name", "month")
    def set(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
      df.select("id", "name", "month").as[(Long, String, String)].collect().toSet
    val want1 = set(rows(1L to 12L)); val want2 = set(rows(13L to 20L))
    val want3 = set(rows(21L to 24L))
    val layouts = Seq("flat" -> None, "hierarchical" -> Some("month"))
    val seen = layouts.map { case (name, partCol) =>
      val t = freshDir()
      // the partition column is named only by the write that creates
      // the table; later writes take the layout from the head version
      assert(VersionedStore.append(rows(1L to 12L).repartition(3), t,
        partCol = partCol) == 1, s"[$name] append creates v1")
      assert(VersionedStore.append(rows(13L to 20L), t) == 2,
        s"[$name] append with the layout from head")
      assert(VersionedStore.commitBatch(rows(21L to 24L), t, 2) == 3 &&
        VersionedStore.commitBatch(rows(21L to 24L), t, 2) == 3,
        s"[$name] commitBatch and its replay both land v3")
      assert(VersionedStore.history(t).map(_.form).distinct ==
        Seq(if (partCol.isEmpty) "flat" else "partitioned"),
        s"[$name] every commit keeps the table's layout")
      val snaps = (1 to 3).map(v => set(VersionedStore.readAsOf(spark, t, v)))
      assert(snaps == Seq(want1, want1 ++ want2, want1 ++ want2 ++ want3),
        s"[$name] readAsOf: each snapshot holds exactly its versions' rows")
      val changes = set(VersionedStore.readChanges(spark, t, 1, 3))
      assert(changes == want2 ++ want3, s"[$name] readChanges (1, 3]")
      val sink = s"vstore_unified_${name}"
      val q = spark.readStream.format("graft-versioned").option("path", t)
        .option("startingVersion", "1").load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", freshDir() + "/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = set(spark.table(sink))
      assert(streamed == want2 ++ want3,
        s"[$name] the stream source's first delta batch is (1, 3]")
      // a copy-on-write delete of every row: the flat parent read this
      // version as an empty frame with the table's columns, and both
      // layouts now do
      assert(VersionedStore.delete(spark, t, lit(true)) == 4)
      val empty = VersionedStore.readAsOf(spark, t, 4)
      assert(empty.columns.toSet == Set("id", "name", "month") &&
        empty.isEmpty, s"[$name] the all-deleted version reads empty")
      (snaps, changes, streamed, empty.schema.fields.map(_.name).toSet)
    }
    assert(seen.head == seen.last, "the two layouts agree row for row")
    // a layout argument that disagrees with an existing table refuses
    val flat = freshDir()
    VersionedStore.append(rows(Seq(1L)), flat)
    intercept[IllegalArgumentException] {
      VersionedStore.commitBatch(rows(Seq(2L)), flat, 1,
        partCol = Some("month"))
    }
    intercept[IllegalArgumentException] {
      VersionedStore.append(rows(Seq(2L)), flat, statsCol = Some("id"))
    }
  }

  test("compact and overwrite keep a month-partitioned table's layout: " +
    "form, stats columns, later appends, TTL expiry and pruning hold") {
    import spark.implicits._
    val path = freshDir()
    def rows(m: String, ids: Range) =
      ids.map(i => (i.toLong, 1000L + i, m)).toDF("id", "ts", "month")
    VersionedStore.append(rows("1996-01", 0 until 40)
      .unionByName(rows("1996-02", 40 until 80)).repartition(4), path,
      partCol = Some("month"), statsCol = Some("ts"))
    def layoutHolds(v: Int, op: String): Unit = {
      assert(VersionedStore.history(path).last.form == "partitioned",
        s"[$op] the commit keeps the partitioned form")
      val ml = VersionedStore.readMlist(path, v)
      assert(ml.partCol.contains("month") && ml.statsCols == Seq("ts"),
        s"[$op] the list header keeps partition and stats columns: $ml")
      val entries = ml.parts.map(p =>
        p.value -> VersionedStore.readPmanifestEntries(path, p.pmanifest))
      assert(entries.forall(_._2.forall(_.stats.nonEmpty)),
        s"[$op] every file carries its stats")
      val (first, firstFiles) = entries.head
      val q = VersionedStore.readAsOf(spark, path, v)
        .where(col("month") === first)
      assert(scannedFiles(q) == firstFiles.size &&
        firstFiles.size < VersionedStore.filesAsOf(path, v).size,
        s"[$op] WHERE month = $first scans only that partition's files")
    }
    val v2 = VersionedStore.compact(spark, path, nFiles = 1)
    layoutHolds(v2, "compact")
    assert(prows(path, v2) == prows(path, 1), "compaction changes no rows")
    assert(VersionedStore.append(rows("1996-03", 80 until 90), path,
      partCol = Some("month")) == 3)
    assert(VersionedStore.expirePartitions(spark, path, _ < "1996-02") == 4)
    assert(prows(path, 4).map(_._2) == Set("1996-02", "1996-03"))
    val v5 = VersionedStore.overwrite(rows("1996-04", 0 until 20)
      .unionByName(rows("1996-05", 20 until 30)), path)
    layoutHolds(v5, "overwrite")
    assert(prows(path, v5).size == 30)
    assert(VersionedStore.append(rows("1996-06", 30 until 35), path,
      partCol = Some("month")) == 6)
    assert(VersionedStore.expirePartitions(spark, path, _ < "1996-05") == 7)
    assert(prows(path, 7).map(_._2) == Set("1996-05", "1996-06"))
    val e = intercept[IllegalArgumentException] {
      VersionedStore.overwrite(rows("1996-07", 0 until 5).drop("month"), path)
    }
    assert(e.getMessage.contains("month"), e.getMessage)
  }
}

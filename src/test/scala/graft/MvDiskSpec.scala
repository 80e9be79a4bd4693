package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.Views

/** The persisted-MV attach seam (VERDICT r16 next-round #4): with
  * SPARK_GRAFT_MV_DISK set, the first session to need an MV builds it
  * and writes it under a fingerprint of (name, input-dir listing, code
  * build); later sessions ATTACH (parquet read, no build). Staleness is
  * impossible by construction — any input-file or code change moves the
  * fingerprint. These tests drive the seam through the test override
  * (env vars can't be set in-JVM). */
class MvDiskSpec extends SparkSpec {

  private def withDisk[A](body: java.nio.file.Path => A): A = {
    val root = tempDir("graft-mvdisk")
    Views.diskRootOverride = Some(root)
    try body(root)
    finally {
      Views.diskRootOverride = None
      Views.rmTree(root)
    }
  }

  // Gate answers are session-only: with a disk root set, the near-dup
  // recall gate's rows are pinned for the session, never written under
  // the root, so a later run cannot attach an earlier run's answer.
  test("q_neardup_recall keeps its gate rows session-only: no disk " +
    "entry, one pinned frame per shape reused by a second run") {
    withDisk { root =>
      Views.reset(spark)
      val q = SparkEntry.queries("q_neardup_recall")
      val first = q(spark, sf).collect().map(_.toString)
      val pinned = Views.pinnedCount(spark)
      assert(pinned == 2, s"one pinned frame per shape, got $pinned")
      val second = q(spark, sf).collect().map(_.toString)
      assert(first.sameElements(second))
      assert(Views.pinnedCount(spark) == pinned,
        "the second run reuses the pinned gate frames")
      val gateEntries = root.toFile.list().filter(_.startsWith("neardup_gate_"))
      assert(gateEntries.isEmpty, gateEntries.mkString(", "))
      Views.reset(spark)
    }
  }

  test("second session attaches: builder runs once, rows identical") {
    withDisk { _ =>
      val dir = tempDir("graft-mvdisk-in")
      try {
        spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"))
          .write.mode("overwrite").parquet(dir.resolve("t.parquet").toString)
        val builds = new java.util.concurrent.atomic.AtomicInteger
        def build() = {
          builds.incrementAndGet()
          spark.read.parquet(dir.resolve("t.parquet").toString)
            .groupBy(col("k")).agg(sum(col("id")).as("s"))
        }
        val h0 = Views.diskHits.get(); val m0 = Views.diskMisses.get()
        val first = Views.cached(spark, dir.toString, "mvdisk_probe")(build())
          .collect().map(_.toString).sorted
        assert(builds.get() == 1)
        assert(Views.diskMisses.get() == m0 + 1 && Views.diskHits.get() == h0)
        // simulate a NEW session: drop the in-memory layer, keep disk
        Views.reset(spark)
        val second = Views.cached(spark, dir.toString, "mvdisk_probe")(build())
          .collect().map(_.toString).sorted
        assert(builds.get() == 1, "attach must not re-run the builder")
        assert(Views.diskHits.get() == h0 + 1)
        assert(first.sameElements(second))
        // an input-data change moves the fingerprint → rebuild
        spark.range(0, 1001).select(col("id"), (col("id") % 7).as("k"))
          .write.mode("overwrite").parquet(dir.resolve("t.parquet").toString)
        Views.reset(spark)
        val third = Views.cached(spark, dir.toString, "mvdisk_probe")(build())
        assert(builds.get() == 2, "changed inputs must rebuild, not attach")
        assert(third.count() == 7)
      } finally {
        Views.rmTree(dir)
      }
    }
  }

  // ADVICE r17 (medium) + ADVICE r18 (self-healing): a failed
  // tmp→final rename is only a "lost the build race" when the winner's
  // _SUCCESS is actually THERE. A collision with a PARTIAL leftover
  // (crashed build, no _SUCCESS) must evict the leftover and promote
  // the fresh build — never delete the fresh build and read the
  // partial dir. Anything else (disk full, no destination) surfaces.
  test("rename failure adjudication: winner attaches, leftover heals, others rethrow") {
    withDisk { root =>
      import java.nio.file.Files
      val path = root.resolve("mv-x")
      def fse() =
        new java.nio.file.FileAlreadyExistsException(path.toString)
      def mkTmp(marker: String): java.nio.file.Path = {
        val t = root.resolve(".mv-x-tmp")
        Files.createDirectories(t)
        Files.createFile(t.resolve(marker))
        Files.createFile(t.resolve("_SUCCESS"))
        t
      }
      // 1. complete winner at path → our tmp is dropped, winner kept
      Files.createDirectories(path)
      Files.createFile(path.resolve("_SUCCESS"))
      Files.createFile(path.resolve("winner"))
      val t1 = mkTmp("loser")
      Views.adjudicateRename(path, t1, fse())
      assert(!Files.exists(t1), "loser tmp must be dropped")
      assert(Files.exists(path.resolve("winner")), "winner must be kept")
      // 2. PARTIAL leftover (no _SUCCESS) at path → leftover evicted,
      //    fresh build promoted (the r18 self-heal)
      Views.rmTree(path)
      Files.createDirectories(path)
      Files.createFile(path.resolve("partial"))
      val t2 = mkTmp("fresh")
      Views.adjudicateRename(path, t2, fse())
      assert(Files.exists(path.resolve("_SUCCESS")) &&
        Files.exists(path.resolve("fresh")),
        "fresh build must replace the partial leftover")
      assert(!Files.exists(path.resolve("partial")))
      // 3. nothing at path (disk full / perms) → rethrow, tmp kept
      Views.rmTree(path)
      val t3 = mkTmp("kept")
      val thrown = intercept[java.nio.file.FileSystemException] {
        Views.adjudicateRename(path,
          t3, new java.nio.file.FileSystemException(path.toString, null, "boom"))
      }
      assert(thrown.getReason == "boom")
      assert(Files.exists(t3.resolve("kept")), "tmp must survive for inspection")
    }
  }

  // VERDICT r17 #3: the bench/scale mains default the layer ON at a
  // stable host cache dir; an explicit env value — including the
  // documented off/none/0 spellings — always wins
  test("explicit-off spellings and the default-on guard") {
    assert(Views.explicitlyOff(""))
    assert(Views.explicitlyOff("0"))
    assert(Views.explicitlyOff("off") && Views.explicitlyOff("OFF"))
    assert(Views.explicitlyOff("none") && Views.explicitlyOff("None"))
    assert(!Views.explicitlyOff("/tmp/somewhere"))
    // enableDefaultDiskRoot must not clobber an existing override (the
    // test seam doubles as "the env var was explicit")
    val prev = Views.diskRootOverride
    val sentinel = java.nio.file.Paths.get("/tmp/graft-mvdisk-sentinel")
    Views.diskRootOverride = Some(sentinel)
    try {
      Views.enableDefaultDiskRoot()
      assert(Views.diskRootOverride.contains(sentinel))
    } finally Views.diskRootOverride = prev
  }

  test("disk layer off (default): builder runs per session, no disk traffic") {
    val dir = tempDir("graft-mvdisk-off")
    try {
      spark.range(0, 10).toDF("id")
        .write.mode("overwrite").parquet(dir.resolve("t.parquet").toString)
      val builds = new java.util.concurrent.atomic.AtomicInteger
      def build() = {
        builds.incrementAndGet()
        spark.read.parquet(dir.resolve("t.parquet").toString)
      }
      val m0 = Views.diskMisses.get(); val h0 = Views.diskHits.get()
      Views.cached(spark, dir.toString, "mvdisk_off_probe")(build()).count()
      Views.reset(spark)
      Views.cached(spark, dir.toString, "mvdisk_off_probe")(build()).count()
      assert(builds.get() == 2)
      assert(Views.diskMisses.get() == m0 && Views.diskHits.get() == h0)
    } finally {
      Views.rmTree(dir)
    }
  }

  // The raw-log fixtures hold no storage memory: the reference decodes
  // logs as they arrive and stores only the decoded tables. With the
  // disk layer on the fixture is the parquet copy the layer wrote (no
  // persist); with it off, it is persisted DISK_ONLY. The decoded MV
  // built over it keeps the rows it had while the fixture was resident.
  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private def memBytes: Long = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
  private def materialize(mv: String) = {
    val df = SparkEntry.sessionViews(mv)(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    df
  }
  /** (rows, sum of row hashes) of decoded_of_trades at sf0.001. */
  private def decodedDigest(): (Long, java.math.BigDecimal) = {
    val df = materialize("decoded_of_trades")
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }
  // measured while the raw-log fixtures were still persisted
  // MEMORY_AND_DISK (the digest is the same in both disk modes)
  private val residentDigest = (6000L, new java.math.BigDecimal("426167445820705714051"))

  test("disk layer on: a raw-log fixture is the disk layer's parquet, not a cached frame") {
    withDisk { _ =>
      Views.reset(spark)
      try {
        materialize("trades")
        val mem0 = memBytes
        val logs = materialize("logs_order_filled")
        assert(classic.sharedState.cacheManager.lookupCachedData(
          logs.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
        assert(memBytes <= mem0, s"storage memory grew from $mem0 to $memBytes bytes")
        assert(decodedDigest() == residentDigest)
        val res = Views.residency(spark).map(r => r._1 -> (r._2, r._3)).toMap
        assert(res("logs_order_filled") == ((0.0, 0.0)))
        assert(res("decoded_of_trades")._1 > 0.0)
      } finally Views.reset(spark)
    }
  }

  test("disk layer off: a raw-log fixture is persisted DISK_ONLY") {
    Views.reset(spark)
    try {
      val logs = materialize("logs_order_filled")
      assert(logs.storageLevel == StorageLevel.DISK_ONLY)
      assert(decodedDigest() == residentDigest)
      val res = Views.residency(spark).map(r => r._1 -> (r._2, r._3)).toMap
      assert(res("logs_order_filled")._1 == 0.0 && res("logs_order_filled")._2 > 0.0)
      assert(res("decoded_of_trades")._1 > 0.0)
    } finally Views.reset(spark)
  }
}

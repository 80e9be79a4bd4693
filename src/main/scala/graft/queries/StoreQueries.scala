package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Tables, Views}
import graft.operators._
import graft.queries.OracleFragments._

/** Storage: the versioned-table fixtures and ingest-time metadata
  * (dedup, reorg rewrite, changelog, SCD2, watermarks). */
private[graft] object StoreQueries {
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_ingest", (s, d) => {
      val ev = Tables.events(s, d)
      val dup = ev.unionAll(ev.filter(col("event_id") % 10 === 0))
      Metadata.dedupIngest(dup, "event_id", "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH dup AS (
        |  SELECT * FROM events
        |  UNION ALL
        |  SELECT * FROM events WHERE event_id % 10 = 0),
        |dedup AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY event_id DESC) AS rn
        |    FROM dup) t WHERE rn = 1)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM dedup GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Versioned-store driver surface (§2 #145/#146/#149/#150 promoted
    // from test-only to a hash-green oracle): trades land in a
    // month-partitioned manifest-versioned table in two commits split
    // at 1997-01-01 (built once per session), and the query answers
    // three questions through the Catalyst-integrated snapshot scan:
    //   snapshot=1 — per-month profile AS OF version 1: the second
    //     commit's rows must be invisible (snapshot isolation is what
    //     the hash actually checks here);
    //   snapshot=2 — the same profile at version 2 (both commits);
    //   snapshot=3 — a month + date-range slice of version 2, the
    //     WHERE clause itself driving partition pruning and file-stats
    //     pruning inside the planner (no store API parameters).
    QueryDef("q_versioned_scan", (s, d) => {
      val path = versionedTrades(s, d)
      def profile(v: Int, tag: Int, f: DataFrame => DataFrame) =
        f(graft.sources.VersionedStore.readIndexed(s, path, v))
          .groupBy(col("month"))
          .agg(count(lit(1)).as("n"),
            sum(col("usd")).cast("double").as("volume"))
          .select(lit(tag).as("snapshot"), col("month"), col("n"),
            col("volume"))
      profile(1, 1, identity)
        .unionByName(profile(2, 2, identity))
        .unionByName(profile(2, 3, _.where(col("month") === "1996-03" &&
          col("ts").between(lit("1996-03-10").cast("date"),
            lit("1996-03-20").cast("date")))))
        .orderBy(col("snapshot"), col("month"))
    },
    // The oracle recomputes each snapshot's contents from the RAW
    // tables with the same 1997-01-01 commit split, so the hash match
    // verifies snapshot isolation itself (leg 1 must exclude commit
    // 2's rows), not just scan parity.
    Some(
      s"""WITH $TRADES,
        |m AS (SELECT strftime(ts, '%Y-%m') AS month, ts, usd FROM trades)
        |SELECT 1 AS snapshot, month, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(usd) AS DOUBLE) AS volume
        |FROM m WHERE ts < DATE '1997-01-01' GROUP BY month
        |UNION ALL
        |SELECT 2, month, CAST(COUNT(*) AS BIGINT), CAST(SUM(usd) AS DOUBLE)
        |FROM m GROUP BY month
        |UNION ALL
        |SELECT 3, month, CAST(COUNT(*) AS BIGINT), CAST(SUM(usd) AS DOUBLE)
        |FROM m WHERE month = '1996-03'
        |  AND ts BETWEEN DATE '1996-03-10' AND DATE '1996-03-20'
        |GROUP BY month
        |ORDER BY snapshot, month""".stripMargin)),

    // Row-level MERGE + DELETE on the versioned store (§2 #156),
    // driver-gated: the final table state after upsert-by-key and
    // predicate delete, hash-compared against the oracle's relational
    // recomputation (base minus updated keys, plus updates, plus
    // inserts, minus deleted). Old versions stay readable — snapshot
    // isolation itself is gated by q_versioned_scan; THIS hash pins
    // the row-level semantics: matched keys replaced not duplicated,
    // unmatched inserted, WHERE-true delete applied to both.
    QueryDef("q_versioned_upsert", (s, d) =>
      graft.sources.VersionedStore.read(s, versionedUpsertDim(s, d))
        .orderBy(col("c_custkey")),
    // the relational recomputation of MERGE-then-DELETE: base rows
    // whose key was not updated, plus the update/insert rows, minus
    // the WHERE-true delete — applied uniformly to inserts too
    Some(
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name AS name,
        |         CAST(c_acctbal AS DOUBLE) AS acctbal
        |  FROM customer),
        |merged AS (
        |  SELECT c_custkey, name, acctbal FROM base WHERE c_custkey % 10 <> 0
        |  UNION ALL
        |  SELECT c_custkey, 'UPDATED', -1.0 FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'INSERTED', 42.0 FROM base
        |  WHERE c_custkey % 100 = 1)
        |SELECT c_custkey, name, acctbal FROM merged
        |WHERE c_custkey % 7 <> 3
        |ORDER BY c_custkey""".stripMargin)),

    // Schema evolution on the versioned store (§2 #158), driver-gated:
    // final snapshot after append → evolved append → cross-boundary
    // MERGE → delete keyed on the evolved column. Pre-evolution rows
    // must surface with segment NULL (old files null-fill under the
    // recorded schema) and the delete must have seen those NULLs —
    // a reader that refused old files, mis-ordered columns, or
    // evaluated the predicate only over post-evolution files all
    // flip the hash.
    QueryDef("q_versioned_evolve", (s, d) =>
      graft.sources.VersionedStore.read(s, versionedEvolveDim(s, d))
        .orderBy(col("c_custkey")),
    // the relational recomputation of the evolution fixture: evens
    // carry NULL segment (pre-evolution files null-fill) except the
    // %50==0 keys the MERGE rewrote; odds carry their appended
    // segment; the delete removes only NULL-segment %11==5 rows
    Some(
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name AS name,
        |         c_mktsegment AS segment
        |  FROM customer),
        |v AS (
        |  SELECT c_custkey, name, CAST(NULL AS VARCHAR) AS segment
        |  FROM base WHERE c_custkey % 2 = 0 AND c_custkey % 50 <> 0
        |  UNION ALL
        |  SELECT c_custkey, name, segment FROM base WHERE c_custkey % 2 = 1
        |  UNION ALL
        |  SELECT c_custkey, 'EVOLVED', 'SEG-X' FROM base
        |  WHERE c_custkey % 50 = 0)
        |SELECT c_custkey, name, segment FROM v
        |WHERE NOT (segment IS NULL AND c_custkey % 11 = 5)
        |ORDER BY c_custkey""".stripMargin)),

    // Merge-on-read row-level ops (§2 #160), driver-gated: the final
    // snapshot after DV delete → vectored merge → DV delete targeting
    // the merge's own new files (fixture doc at versionedMorDim).
    // Unlike q_versioned_upsert (copy-on-write), NO data file here is
    // ever rewritten — the hash therefore pins the position-vector
    // subtraction itself: the broadcast anti-join on (_metadata
    // basename, row_index), vector layering across file generations,
    // and replace-matched/insert-unmatched landing as DV + append.
    QueryDef("q_versioned_mor", (s, d) =>
      graft.sources.VersionedStore.read(s, versionedMorDim(s, d))
        .orderBy(col("c_custkey")),
    // the relational recomputation of the merge-on-read fixture:
    // v2's vector kills %7==3 rows; the vectored merge replaces EVERY
    // %10==0 key (keys dead at v2 come back as pure inserts) and adds
    // the %100==1 echo; v4's vector kills the even-twenty UPDATED rows
    Some(
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name AS name,
        |         CAST(c_acctbal AS DOUBLE) AS acctbal
        |  FROM customer),
        |merged AS (
        |  SELECT c_custkey, name, acctbal FROM base
        |  WHERE c_custkey % 7 <> 3 AND c_custkey % 10 <> 0
        |  UNION ALL
        |  SELECT c_custkey, 'UPDATED', -1.0 FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'INSERTED', 42.0 FROM base
        |  WHERE c_custkey % 100 = 1)
        |SELECT c_custkey, name, acctbal FROM merged
        |WHERE NOT (name = 'UPDATED' AND c_custkey % 20 = 0)
        |ORDER BY c_custkey""".stripMargin)),

    // Partitioned merge-on-read, driver-gated (fixture doc at
    // versionedMorPartDim): vectors subtract ABOVE the FileIndex
    // scan, matched keys MOVE partitions without a rewrite, and the
    // final snapshot hash pins all of it against the oracle's
    // relational recomputation.
    QueryDef("q_versioned_mor_part", (s, d) =>
      graft.sources.VersionedStore.read(s, versionedMorPartDim(s, d))
        .orderBy(col("c_custkey")),
    // the partitioned fixture's recomputation — identical algebra,
    // with the partition column moving on update
    Some(
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name AS name,
        |         c_mktsegment AS segment
        |  FROM customer),
        |merged AS (
        |  SELECT c_custkey, name, segment FROM base
        |  WHERE c_custkey % 7 <> 3 AND c_custkey % 10 <> 0
        |  UNION ALL
        |  SELECT c_custkey, 'UPDATED', 'AUTOMOBILE' FROM base
        |  WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'INSERTED', 'BUILDING' FROM base
        |  WHERE c_custkey % 100 = 1)
        |SELECT c_custkey, name, segment FROM merged
        |WHERE NOT (name = 'UPDATED' AND c_custkey % 20 = 0)
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q_reorg_rewrite", (s, d) => {
      val ev = Tables.events(s, d)
      // hot tail = trailing 10% of the stream; its re-delivery restates
      // every 7th value (a reorg correction). The cutoff is a 1-row
      // aggregate broadcast inside the same job, not a driver count().
      val cutoff = ev.agg(expr("CAST(count(1) * 9 DIV 10 AS BIGINT)").as("c"))
      val corrected = ev.withColumn("value",
        when(col("event_id") % 7 === 0, col("value") * 2).otherwise(col("value")))
      Metadata.replaceHotRangeAt(ev, corrected, "event_id", cutoff)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH cutoff AS (SELECT CAST(9*COUNT(*)//10 AS BIGINT) AS c FROM events),
        |corrected AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
        |  FROM events WHERE event_id >= (SELECT c FROM cutoff)),
        |merged AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_id < (SELECT c FROM cutoff)
        |  UNION ALL
        |  SELECT event_type, value FROM corrected)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("q_changelog", (s, d) =>
      Metadata.changelog(Tables.orders(s, d).select(col("o_custkey"),
          col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey")), Some(
      """SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders) t
        |WHERE prev IS NULL OR prev <> o_orderpriority
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    QueryDef("q_scd2", (s, d) =>
      Metadata.scd2(Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_orderpriority")),
          "o_custkey", "o_orderdate", "o_orderkey")
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey")), Some(
      """SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |  lead(o_orderdate, 1, TIMESTAMP '2100-01-01 00:00:00')
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    QueryDef("q_watermark", (s, d) =>
      Metadata.watermark(Tables.events(s, d), "event_type", "event_id", "ts")
        .orderBy(col("processor_id")), Some(
      """SELECT event_type AS processor_id, MAX(event_id) AS last_seq,
        |  MAX(CAST(ts AS TIMESTAMP)) AS last_ts, COUNT(*) AS rows_ingested
        |FROM events GROUP BY processor_id ORDER BY processor_id""".stripMargin))
  )

  // The versioned-table fixtures are TABLES on disk, not cached plans,
  // so they are not Views MVs: each is built once per (session, sf
  // dir) under java.io.tmpdir, like the spec fixtures, and its tree is
  // removed when the JVM exits (deleteOnExit would skip a non-empty
  // directory).
  private val versionedDone =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), String]()
  private def versionedTable(s: SparkSession, d: String, prefix: String)
                            (build: String => Unit): String =
    versionedDone.computeIfAbsent((s.sparkContext.applicationId, d, prefix), _ => {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath
      sys.addShutdownHook(Views.rmTree(dir))
      build(dir.toString)
      dir.toString
    })

  // Month-partitioned manifest-versioned trades table, built in two
  // commits split at 1997-01-01 — the driver fixture behind
  // q_versioned_scan. `ts` is the declared stats column
  // so the snapshot scan can prune files from manifest (rows,min,max)
  // at planning.
  private def versionedTrades(s: SparkSession, d: String): String =
    versionedTable(s, d, "graft_vtrades") { path =>
      // cluster by month BEFORE the partitioned write (guide §6): the
      // cached trades frame has ~shuffle.partitions partitions, so an
      // unclustered partitionBy(month) writes |tasks|×|months| tiny
      // files — one hash(month) exchange collapses that to one file
      // per month, and the stats harvest then probes |months| footers
      // instead of thousands. Layout-only: the query reads the same
      // rows either way.
      val t = Views.trades(s, d)
        .withColumn("month", date_format(col("ts"), "yyyy-MM"))
        .repartition(col("month"))
      val cut = lit("1997-01-01").cast("date")
      graft.sources.VersionedStore.append(t.where(col("ts") < cut), path,
        partCol = Some("month"), statsCol = Some("ts"))
      graft.sources.VersionedStore.append(t.where(col("ts") >= cut), path)
    }

  // Unpartitioned versioned customer dim driven through the row-level
  // operations — the q_versioned_upsert fixture: v1 = the base dim,
  // v2 = MERGE (update every custkey%10==0 row, insert a %100==1
  // echo), v3 = DELETE custkey%7==3. Copy-on-write file rewrite on
  // disk; the driver's oracle recomputes the final state relationally,
  // so the hash verifies the upsert/delete SEMANTICS end-to-end.
  private def versionedUpsertDim(s: SparkSession, d: String): String =
    versionedTable(s, d, "graft_vupsert") { path =>
      val base = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_name").as("name"),
        col("c_acctbal").cast("double").as("acctbal"))
      graft.sources.VersionedStore.append(base.repartition(4), path)
      val updates = base.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("UPDATED").as("name"),
          lit(-1.0).as("acctbal"))
        .unionByName(base.filter(col("c_custkey") % 100 === 1)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("INSERTED").as("name"), lit(42.0).as("acctbal")))
      graft.sources.VersionedStore.merge(s, path, updates, Seq("c_custkey"))
      graft.sources.VersionedStore.delete(s, path,
        col("c_custkey") % 7 === 3)
    }

  // Unpartitioned versioned customer dim driven across a SCHEMA
  // EVOLUTION — the q_versioned_evolve fixture:
  //   v1 = even custkeys under (c_custkey, name);
  //   v2 = odd custkeys appended WITH a new `segment` column
  //        (allowSchemaEvolution — readers null-fill v1's files);
  //   v3 = MERGE updating %50==0 keys (all of which live in the
  //        PRE-evolution files) to ('EVOLVED', 'SEG-X');
  //   v4 = DELETE where segment IS NULL AND custkey%11==5 — the
  //        predicate references the EVOLVED column and must evaluate
  //        over pre-evolution files (null-filled) to match.
  // The driver's oracle recomputes the final state relationally, so
  // the hash verifies evolution semantics end-to-end: null-fill of
  // old files, stable column order, and row-level ops across the
  // evolution boundary.
  private def versionedEvolveDim(s: SparkSession, d: String): String =
    versionedTable(s, d, "graft_vevolve") { path =>
      val base = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_name").as("name"),
        col("c_mktsegment").as("segment"))
      graft.sources.VersionedStore.append(
        base.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), col("name")).repartition(3), path)
      graft.sources.VersionedStore.append(
        base.filter(col("c_custkey") % 2 === 1).repartition(2), path,
        allowSchemaEvolution = true)
      graft.sources.VersionedStore.merge(s, path,
        base.filter(col("c_custkey") % 50 === 0)
          .select(col("c_custkey"), lit("EVOLVED").as("name"),
            lit("SEG-X").as("segment")),
        Seq("c_custkey"))
      graft.sources.VersionedStore.delete(s, path,
        col("segment").isNull && col("c_custkey") % 11 === 5)
    }

  // Unpartitioned versioned customer dim driven through the
  // MERGE-ON-READ row-level ops — the q_versioned_mor fixture:
  //   v1 = the base dim (4 files);
  //   v2 = deleteVectored custkey%7==3 (a position-vector sidecar,
  //        ZERO files rewritten);
  //   v3 = mergeVectored (update every custkey%10==0 key to
  //        ('UPDATED', -1) — keys whose row died at v2 become pure
  //        inserts — plus a %100==1 echo insert at key+1000000);
  //   v4 = deleteVectored name='UPDATED' AND custkey%20==0 — this
  //        vector must target v3's OWN new data files, proving
  //        vectors layer across commits and file generations.
  // The driver's oracle recomputes the final state relationally, so
  // the hash verifies merge-on-read SEMANTICS end-to-end: broadcast
  // anti-join subtraction with no resurrection, replace-matched /
  // insert-unmatched, vector layering.
  private def versionedMorDim(s: SparkSession, d: String): String =
    versionedTable(s, d, "graft_vmor") { path =>
      val base = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_name").as("name"),
        col("c_acctbal").cast("double").as("acctbal"))
      graft.sources.VersionedStore.append(base.repartition(4), path)
      graft.sources.VersionedStore.deleteVectored(s, path,
        col("c_custkey") % 7 === 3)
      val updates = base.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("UPDATED").as("name"),
          lit(-1.0).as("acctbal"))
        .unionByName(base.filter(col("c_custkey") % 100 === 1)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("INSERTED").as("name"), lit(42.0).as("acctbal")))
      graft.sources.VersionedStore.mergeVectored(s, path, updates,
        Seq("c_custkey"))
      graft.sources.VersionedStore.deleteVectored(s, path,
        col("name") === "UPDATED" && col("c_custkey") % 20 === 0)
    }

  // PARTITIONED merge-on-read fixture — q_versioned_mor_part: the
  // customer dim partitioned by market segment, driven through the
  // vectored ops (the store reads the layout from the table's
  // manifest list):
  //   v1 = append partitioned by segment;
  //   v2 = deleteVectored custkey%7==3 (O(1) metadata:
  //        every pmanifest carried verbatim, one table-level #dv);
  //   v3 = mergeVectored moving every %10==0 key to the
  //        AUTOMOBILE partition (PARTITION-MOVING upsert: source
  //        partitions never rewritten) + a %100==1 echo insert into
  //        BUILDING;
  //   v4 = deleteVectored name='UPDATED' AND custkey%20==0
  //        (vectors over the merge's own new files).
  // The hash pins the partitioned vector subtraction end-to-end:
  // the anti-join above the Catalyst FileIndex scan, cross-partition
  // moves, vector layering.
  private def versionedMorPartDim(s: SparkSession, d: String): String =
    versionedTable(s, d, "graft_vmorp") { path =>
      val base = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_name").as("name"),
        col("c_mktsegment").as("segment"))
      graft.sources.VersionedStore.append(base, path,
        partCol = Some("segment"))
      graft.sources.VersionedStore.deleteVectored(s, path,
        col("c_custkey") % 7 === 3)
      val updates = base.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("UPDATED").as("name"),
          lit("AUTOMOBILE").as("segment"))
        .unionByName(base.filter(col("c_custkey") % 100 === 1)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("INSERTED").as("name"), lit("BUILDING").as("segment")))
      graft.sources.VersionedStore.mergeVectored(s, path,
        updates, Seq("c_custkey"))
      graft.sources.VersionedStore.deleteVectored(s, path,
        col("name") === "UPDATED" && col("c_custkey") % 20 === 0)
    }
}

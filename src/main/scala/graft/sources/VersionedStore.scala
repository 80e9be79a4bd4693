package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Manifest-versioned table store: snapshot isolation, time travel
  * and safe vacuum over plain parquet — the Iceberg/Delta commit
  * protocol in its minimal form, sized for this engine's warehouse
  * tables.
  *
  * Why it exists at 100 TB: [[PartitionedStore]]'s directory swap
  * gives crash-safe REPLACEMENT, but a reader that started before a
  * swap races the delete, and there is no way to reproduce last
  * week's table state for an audit or a backfill diff. The standard
  * fix is indirection through immutable metadata: data files are
  * append-only, every commit atomically publishes a manifest list
  * (resolving to the complete set of live files for that version), and
  * readers resolve a list once — so a query pinned to version v is
  * untouched by later appends, overwrites, compactions or vacuums of
  * other versions.
  *
  * Commit protocol (optimistic, one intended writer — the
  * reference's one indexer process): (1) write the new data files
  * under an ATTEMPT-UNIQUE data/commit-<v>-<attempt>/; (2) write the
  * touched per-partition manifests under attempt-unique names and the
  * version's schema record; (3) publish the manifest LIST v<v>.mlist
  * through an attempt-unique tmp — the one atomic publish,
  * CREATE-EXCLUSIVE outside the batch-replay seams. A crash anywhere
  * before (3) leaves version v−1 live and the orphaned files invisible
  * (vacuum removes them); a retry mints a fresh attempt and never
  * touches the debris. If a second writer races the same version,
  * attempt-unique paths mean neither can clobber files the other
  * might publish, and the exclusive publish makes exactly one the
  * winner — the loser fails loudly with only invisible debris behind
  * (Iceberg's optimistic commit, minimal form). Compaction is just a
  * commit whose rows are logically identical; old versions keep
  * reading the uncompacted files until vacuumed.
  *
  * Layout:  <path>/data/commit-<v>-<attempt>/[<partCol>=<value>/]part-*.parquet
  *          <path>/data/commit-<v>-<attempt>-dv/…   (delete vectors)
  *          <path>/manifests/v<v>.mlist    (manifest list: header,
  *            one `<value>\t<pmanifest>` entry per live partition,
  *            `#dv\t<sidecar>` lines for merge-on-read delete vectors)
  *          <path>/manifests/p-<value>-v<v>-<attempt>.pmanifest
  *            (immutable per-partition file list + file stats/blooms)
  *          <path>/manifests/v<v>.schema   (recorded logical schema)
  *
  * One form for every table (Iceberg's design: partitioned and
  * unpartitioned tables share the manifest-list structure). The list
  * header names the partition column and type — or none, for an
  * unpartitioned table, whose list holds one entry with no partition
  * directory under its commit dir. A commit touching k of N
  * partitions writes k new pmanifests and one new list (the other
  * N−k entries are carried BY REFERENCE — O(touched), not O(table)),
  * and a pruned read ([[readIndexed]]) never opens the unselected
  * partitions' manifests at all. Because the header carries the
  * layout, every commit — appends, overwrites, compactions, row
  * operations, TTL expiry — keeps it. */
object VersionedStore {

  private def manifestDir(path: String) = new File(path, "manifests")

  private val MlistRe = "v([0-9]+)\\.mlist".r
  private val SchemaRe = "v([0-9]+)\\.schema".r
  private def mlistFile(path: String, v: Int) =
    new File(manifestDir(path), s"v$v.mlist")
  private def schemaFile(path: String, v: Int) =
    new File(manifestDir(path), s"v$v.schema")

  // ---- schema tracking + evolution -----------------------------------

  /** The LOGICAL table schema recorded for version `v` (partition
    * column included); None when no commit recorded one for `v`. */
  def schemaAsOf(path: String, v: Int): Option[org.apache.spark.sql.types.StructType] = {
    val f = schemaFile(path, v)
    if (!f.exists()) None
    else Some(org.apache.spark.sql.types.StructType.fromDDL(
      new String(Files.readAllBytes(f.toPath), "UTF-8")))
  }

  /** Version `v`'s logical schema. Every commit records its schema
    * before it publishes, so a published version always has one. */
  private def effectiveSchema(path: String, v: Int)
      : org.apache.spark.sql.types.StructType =
    schemaAsOf(path, v).getOrElse(
      sys.error(s"version $v of $path has no recorded schema"))

  /** Enforce commit-time schema compatibility and produce the new
    * version's recorded schema (Delta's enforcement + mergeSchema):
    * every existing column must keep its name AND type (a type change
    * or a drop is refused — old data files would silently misread);
    * NEW columns are allowed only when the writer opts in
    * (`allowEvolution`), and append to the end of the recorded schema
    * — readers null-fill them in pre-evolution files. The recorded
    * order is old-fields-then-extras, so consumers see a stable
    * prefix across evolutions. */
  private def evolvedSchema(spark: SparkSession, path: String, prev: Int,
                            incoming: org.apache.spark.sql.types.StructType,
                            allowEvolution: Boolean)
      : org.apache.spark.sql.types.StructType = {
    if (prev == 0) incoming
    else {
      val old = effectiveSchema(path, prev)
      val byName = incoming.map(f => f.name -> f).toMap
      old.foreach { f =>
        require(byName.contains(f.name),
          s"schema drift: column ${f.name} missing from the incoming data " +
            "— dropping a column would leave old files unreadable; " +
            "project it (nullable) or overwrite() the table")
        val nf = byName(f.name)
        require(nf.dataType == f.dataType,
          s"schema drift: column ${f.name} changes type " +
            s"${f.dataType.simpleString} -> ${nf.dataType.simpleString}; " +
            "type changes are refused (old files would misread)")
      }
      val oldNames = old.map(_.name).toSet
      val extras = incoming.filterNot(f => oldNames.contains(f.name))
      require(extras.isEmpty || allowEvolution,
        s"schema drift: new column(s) ${extras.map(_.name).mkString(", ")} " +
          "— pass allowSchemaEvolution = true to evolve the table")
      org.apache.spark.sql.types.StructType(old.fields ++ extras)
    }
  }

  private def recordSchema(path: String, v: Int,
                           schema: org.apache.spark.sql.types.StructType): Unit = {
    // all-nullable: parquet-backed tables are nullable-on-read anyway,
    // and a non-nullable (required) field would make the vectorized
    // reader REFUSE pre-evolution files instead of null-filling them.
    // WRITE-ONCE per version: an equal-content re-record (a batch
    // replay, a publish retry over torn debris) is a no-op; different
    // content means a concurrent writer owns this version number —
    // without this, a racing loser's recordSchema (which runs before
    // the mlist CAS decides the race) could clobber the winner's
    // schema record when the winner evolved the schema.
    val body = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true))).toDDL
    val f = schemaFile(path, v)
    def sameAsExisting(): Boolean =
      f.exists() &&
        new String(Files.readAllBytes(f.toPath), "UTF-8") == body
    if (sameAsExisting()) return
    try writeAtomic(f, body, replace = false)
    catch {
      case _: java.util.ConcurrentModificationException =>
        if (!sameAsExisting())
          throw new java.util.ConcurrentModificationException(
            s"schema for version $v already recorded with DIFFERENT " +
              "content — a concurrent writer owns this version; " +
              "re-read the table and retry")
    }
  }

  /** Latest committed version; 0 = empty table. */
  def currentVersion(path: String): Int = {
    val files = Option(manifestDir(path).list()).getOrElse(Array.empty)
    files.collect { case MlistRe(v) => v.toInt }.foldLeft(0)(math.max)
  }

  /** The live data files (table-relative) of version `v`, resolved
    * through its manifest list. Delete-vector sidecars are NOT data
    * files and are excluded (see [[deleteVectorsAsOf]]). */
  def filesAsOf(path: String, v: Int): Seq[String] =
    readMlist(path, v).parts.flatMap(p => readPmanifest(path, p.pmanifest))

  // ---- merge-on-read delete vectors ----------------------------------
  //
  // A copy-on-write point delete in a 100 TB table rewrites every file
  // that holds one matching row — O(touched data). The merge-on-read
  // form writes only a DELETE VECTOR sidecar: (table-relative file,
  // row position) pairs, published as `#dv` lines of the manifest
  // list (Delta's deletion vectors / Iceberg v2 position deletes).
  // Commit cost is O(deleted rows);
  // readers subtract the vector with ONE broadcast anti-join keyed on
  // (_metadata-derived relative path, _metadata.row_index) — zero-DV snapshots
  // keep the plain scan plan with no join at all. Positions are the
  // file-physical row indexes Spark's parquet reader generates from
  // the row-group metadata, so they are stable across predicates and
  // readers. TABLE-RELATIVE paths (the manifest lines themselves) key
  // the vector — unique by construction, where a basename key would
  // collide across a partitioned commit's dirs (one same-named file
  // per task per partition value) — which makes a vector row whose
  // data file was later rewritten or compacted away INERT rather than
  // wrong: it names nothing in the new manifest, so invalidation is
  // automatic. Copy-on-write rewrites read
  // their inputs vector-applied (no resurrection), compaction and
  // overwrite carry nothing and therefore fold vectors away, and
  // vacuum retains sidecars exactly like data files while any
  // retained version references them.

  /** The delete-vector sidecar files (table-relative) of version `v`
    * — the `#dv` lines of its manifest list (vector rows key on
    * manifest-relative file paths, so one table-level vector set
    * serves every partition; a partition's rewrite leaves its vector
    * rows inert). */
  def deleteVectorsAsOf(path: String, v: Int): Seq[String] =
    if (mlistFile(path, v).exists()) readMlist(path, v).dvs else Nil

  /** Sidecar bytes above which the vector side stops being broadcast:
    * past this the anti-join plans as a shuffled join instead of
    * OOMing the driver/executors on a runaway vector set (a
    * mass-delete that should have been copy-on-write). */
  private val DvBroadcastMaxBytes = 64L << 20

  /** The union of `dvs` as a (relative path, position) frame,
    * column-named to match [[withMeta]]'s stamp. Broadcast-hinted
    * only while the sidecars' ON-DISK size (known to the driver for
    * free) stays under [[DvBroadcastMaxBytes]] — the normal
    * point-delete regime; a huge accumulated vector set degrades to
    * a shuffled anti-join rather than a driver OOM, and
    * [[reorgVectored]]/[[compact]] restore the broadcast regime. */
  private def dvFrame(spark: SparkSession, path: String,
                      dvs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val df = spark.read.schema("file STRING, pos BIGINT")
      .parquet(dvs.map(d => s"$path/$d"): _*)
      .toDF("__dv_file", "__dv_pos")
    val bytes = dvs.map(d => new File(path, d).length()).sum
    if (bytes <= DvBroadcastMaxBytes) broadcast(df) else df
  }

  /** Stamp each row with its TABLE-RELATIVE file path and physical
    * row index from the parquet scan's metadata column — the
    * delete-vector join key. The relative path (`data/commit-…`), not
    * the basename: a partitioned write lands files with the SAME
    * basename in different partition dirs (one per task per
    * partition value), so only the full manifest-line path is unique.
    * Must be applied directly over a file-source read. */
  private[sources] def withMeta(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    df.select(col("*"),
      regexp_extract(col("_metadata.file_path"), "(data/commit-.*)$", 1)
        .as("__dv_file"),
      col("_metadata.row_index").as("__dv_pos"))
  }

  /** Subtract version `v`'s delete vectors from a raw file read —
    * identity (no metadata projection, no join) when none exist.
    * Also sound over a STREAMING file scan (the vector side is
    * static and broadcast: a stream-static anti-join). */
  private[sources] def applyDvs(spark: SparkSession, path: String,
                                base: DataFrame,
                                dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) base
    else subtractStamped(spark, path, withMeta(base), dvs)

  /** The anti-join half of [[applyDvs]] for inputs ALREADY stamped
    * with [[withMeta]] — the union-of-scans readers stamp each scan
    * before the union (a metadata column cannot be resolved over a
    * Union node), then subtract once. */
  private[sources] def subtractStamped(spark: SparkSession, path: String,
                                       stamped: DataFrame,
                                       dvs: Seq[String]): DataFrame =
    stamped
      .join(dvFrame(spark, path, dvs), Seq("__dv_file", "__dv_pos"),
        "left_anti")
      .drop("__dv_file", "__dv_pos")

  /** Version `v`'s live rows with the (relative path, position) stamp
    * still attached — the find-matches input for the row-level ops:
    * probes read THIS so matched positions (for vectors) and matched
    * files (for rewrites) fall out of the same scan, vector-applied
    * so already-deleted rows can never re-match. Either layout scans
    * through the Catalyst FileIndex ([[snapshotRelation]]), so
    * partition, stats and bloom predicates prune before any data is
    * read. */
  private def probeSnapshot(spark: SparkSession, path: String,
                            v: Int): DataFrame = {
    val stamped = withMeta(
      spark.baseRelationToDataFrame(snapshotRelation(spark, path, v)))
    val dvs = deleteVectorsAsOf(path, v)
    if (dvs.isEmpty) stamped
    else stamped.join(dvFrame(spark, path, dvs),
      Seq("__dv_file", "__dv_pos"), "left_anti")
  }

  /** Version `v`'s data files `rel` with `v`'s delete vectors applied
    * — the copy-on-write rewrite input (a raw read would resurrect
    * vector-deleted rows), under the recorded schema so pre-evolution
    * files null-fill. A partitioned table's files come back with
    * their partition value reattached (the predicate may reference it;
    * data files do not store it), so the commit can lay the rows back
    * out by partition. */
  private def readTouched(spark: SparkSession, path: String, v: Int,
                          rel: Seq[String]): DataFrame = {
    val dvs = deleteVectorsAsOf(path, v)
    // stamp each scan, subtract once over the union
    val rows = readVersionFiles(spark, path, v, rel,
      Some(effectiveSchema(path, v)),
      perScan = if (dvs.isEmpty) identity else withMeta).get
    if (dvs.isEmpty) rows else subtractStamped(spark, path, rows, dvs)
  }

  /** Read the table as of version `v` — a stable snapshot: later
    * commits, compactions and vacuums of other versions never change
    * what this returns. Plans through [[readIndexed]], under
    * the version's RECORDED schema: files written before a schema
    * evolution null-fill the added columns, and every snapshot reads
    * as the schema it was committed with. */
  def readAsOf(spark: SparkSession, path: String, v: Int): DataFrame =
    readIndexed(spark, path, v)

  /** Read the latest version. */
  def read(spark: SparkSession, path: String): DataFrame =
    readAsOf(spark, path, currentVersion(path))

  /** Snapshot read through [[VersionedFileIndex]]: the manifest
    * metadata becomes a Catalyst [[org.apache.spark.sql.execution
    * .datasources.FileIndex]], so the snapshot plans as ONE parquet
    * scan (not a per-partition union) and the query's own WHERE
    * clause drives partition pruning AND file-stats pruning inside
    * the planner — no store-specific pruning parameters at the call
    * site, and whole-stage codegen spans one scan node. Schema is the
    * version's recorded one, with the partition column reattached
    * from the manifest list. */
  def readIndexed(spark: SparkSession, path: String, v: Int): DataFrame =
    // delete vectors subtract ABOVE the relation (the FileIndex prunes
    // partitions/files inside the planner as ever; the broadcast
    // anti-join rides on top, absent when the version has no vectors)
    applyDvs(spark, path,
      spark.baseRelationToDataFrame(snapshotRelation(spark, path, v)),
      deleteVectorsAsOf(path, v))

  /** The snapshot as a BaseRelation (the [[readIndexed]] body, also
    * what `spark.read.format("graft-versioned")` serves). */
  def snapshotRelation(spark: SparkSession, path: String, v: Int)
      : org.apache.spark.sql.sources.BaseRelation = {
    val idx = new VersionedFileIndex(spark, path, v)
    // recorded schema minus the partition column (reattached by the
    // index's partitionSchema). A version whose every row was deleted
    // lists no files and reads empty under its recorded schema.
    val partNames = idx.partitionSchema.fieldNames.toSet
    val dataSchema = org.apache.spark.sql.types.StructType(
      effectiveSchema(path, v).fields.filterNot(f => partNames.contains(f.name)))
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx, idx.partitionSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat(),
      Map.empty[String, String])(spark)
  }

  /** Append `df` as a new version; returns the committed version.
    * Schema-enforced: existing columns must keep name and type; NEW
    * columns need `allowSchemaEvolution = true` and are null-filled
    * by readers in pre-evolution files.
    *
    * The table's layout comes from its head version ([[layoutAt]]):
    * `partCol`, `statsCol` and `bloomCol` declare it only when this
    * append creates the table. Rows land in their partitions (an
    * unpartitioned table has one): only the partitions present in
    * `df` get a NEW per-partition manifest (carried files + added
    * files); every untouched partition is carried by reference — the
    * commit writes O(touched partitions) metadata, not O(table).
    *
    * `statsCol` declares a numeric/timestamp column whose per-file
    * min/max land in the pmanifest, harvested from the parquet FOOTERS
    * the writer already produced (metadata-only — no data re-read at
    * commit). Readers then skip whole files at PLANNING time — the
    * manifest-level analogue of ClickHouse's ORDER-BY granule index /
    * Iceberg's file stats: at 100 TB a time-range query touches the
    * partition's few overlapping files instead of listing and
    * footer-probing everything.
    *
    * `bloomCol` declares a HIGH-CARDINALITY data column whose per-file
    * bloom fingerprint lands in the pmanifest — the ClickHouse
    * bloom_filter skip index in manifest form, for the point-lookup
    * shape min/max stats can't serve (scattered ids make every file's
    * [min,max] window cover everything). A `WHERE token_id = X` /
    * `IN (…)` read then drops whole files whose fingerprint disproves
    * membership at PLANNING time. Unlike the footer stats this costs
    * one read-back of the COMMIT'S OWN new files (O(new data), never
    * the table); sketches are sized from the commit's file row counts
    * (~16 bits/key, capped) and saturate gracefully — an over-full
    * bloom keeps its file, never drops it. At object-store scale the
    * base64 text field becomes a binary sidecar (Iceberg's puffin
    * shape); the protocol is unchanged. */
  def append(df: DataFrame, path: String,
             allowSchemaEvolution: Boolean = false,
             partCol: Option[String] = None,
             statsCol: Option[String] = None,
             bloomCol: Option[String] = None): Int =
    appendAt(df, path, currentVersion(path) + 1, allowSchemaEvolution,
      partCol, statsCol, bloomCol)

  /** [[append]] committing version `v` over `v − 1`. Pure appends
    * auto-rebase when a concurrent writer committed DISJOINT
    * partitions first (Iceberg's optimistic retry) — the realistic
    * multi-writer topology (backfill + live stream) stops serializing
    * through a loud loser; same-partition conflicts and schema
    * evolution by the winner still lose loudly. */
  private def appendAt(df: DataFrame, path: String, v: Int,
                       allowSchemaEvolution: Boolean = false,
                       partCol: Option[String] = None,
                       statsCol: Option[String] = None,
                       bloomCol: Option[String] = None): Int =
    commitPartitionedAt(df, path, layoutAt(path, v - 1, partCol, statsCol,
      bloomCol), v, replaceTouched = false, statsCol,
      allowEvolution = allowSchemaEvolution, bloomCol = bloomCol,
      retryDisjoint = true)

  /** Test seam: a partitioned [[append]] with an EXPLICIT (stale)
    * target version — deterministic exercise of the optimistic-commit
    * re-base without relying on a thread race. */
  private[graft] def appendPartitionedStale(df: DataFrame, path: String,
                                            partCol: String,
                                            targetV: Int): Int =
    appendAt(df, path, targetV, partCol = Some(partCol))

  /** The partition column a write over version `head` lays its rows
    * out by — None for an unpartitioned table. Once the table exists
    * its manifest-list header rules: `partCol`, `statsCol` and
    * `bloomCol` declare the layout only when the write creates the
    * table (`head == 0`), and any one that disagrees with an existing
    * table refuses. Stats and bloom columns need a partitioned table. */
  private def layoutAt(path: String, head: Int, partCol: Option[String],
                       statsCol: Option[String] = None,
                       bloomCol: Option[String] = None): Option[String] = {
    val ml = if (head == 0) None else Some(readMlist(path, head))
    val laid = ml.fold(partCol)(_.partCol)
    val agrees = ml.forall(m => partCol.forall(m.partCol.contains) &&
      statsCol.forall(s => m.statsCols == s.split(",").toSeq) &&
      bloomCol.forall(b => m.bloomCol.contains(b)))
    require(agrees && (laid.nonEmpty || (statsCol.isEmpty && bloomCol.isEmpty)),
      s"layout partCol=${partCol.getOrElse("-")} statsCol=" +
        s"${statsCol.getOrElse("-")} bloomCol=${bloomCol.getOrElse("-")} " +
        s"disagrees with the table at $path, which is " + (ml match {
          case Some(m) => m.partCol.fold("unpartitioned")(pc =>
            s"partitioned by $pc (statsCol=${m.statsCols.mkString(",")}, " +
              s"bloomCol=${m.bloomCol.getOrElse("")})")
          case None => "new (stats and bloom columns need a partCol)"
        }))
    laid
  }

  /** Replace the table contents with `df` as a new version — old
    * versions stay readable until vacuumed. The table keeps its
    * layout: a partitioned table's frame must carry the partition
    * column. The new version records `df`'s schema as-is (nothing is
    * carried, so no compatibility constraint — Delta's overwriteSchema
    * shape); old versions keep reading under their own recorded
    * schemas. */
  def overwrite(df: DataFrame, path: String): Int =
    replaceAll(df, path, currentVersion(path), df.schema)

  /** Commit `rows` as the whole of version `cur + 1` in the table's
    * own layout, stats and bloom columns: nothing of `cur` is carried,
    * so its delete vectors fold away. */
  private def replaceAll(rows: DataFrame, path: String, cur: Int,
                         schema: org.apache.spark.sql.types.StructType): Int =
    commitPartitionedAt(rows, path, layoutAt(path, cur, None), cur + 1,
      replaceTouched = true, replaceAll = true, schemaOverride = Some(schema))

  /** foreachBatch seam: append `df` as version batchId+1. Replay-safe
    * under Spark's at-least-once micro-batch contract — a re-delivered
    * batch recommits the SAME version: its carried-file list derives
    * from version batchId (deterministic, independent of replay), the
    * data rewrite replaces the identical rows, and the manifest
    * republish is an identical atomic replace — so at-least-once
    * delivery lands exactly-once TABLE STATE, the same idempotency
    * recipe as [[MetadataSync.upsert]] and SnapshotWriter's batch-id
    * dedup. (Spark replays only the latest uncommitted batch, so a
    * recommit never races versions committed after it.)
    *
    * Guarded (ADVICE r12): the version derives from batchId, so a
    * batch id that is neither the next version nor a replay of the
    * CURRENT one means the checkpoint and the table have diverged —
    * a fresh/reset checkpoint pointed at a non-empty table, or a
    * batch append()/overwrite() interleaved with the stream. Silently
    * proceeding would REWRITE published history (clobber an old
    * version's manifest and delete part files later manifests still
    * carry), so this fails fast instead.
    *
    * The layout comes from the head version; `partCol` declares it
    * only when the first batch creates the table ([[layoutAt]]). A
    * batch touching k partitions writes k per-partition manifests +
    * one list; a replayed batch mints fresh attempt-unique pmanifests
    * and REPUBLISHES the version's mlist (the earlier attempt's
    * pmanifests and data become unreferenced debris for vacuum). */
  def commitBatch(df: DataFrame, path: String, batchId: Long,
                  partCol: Option[String] = None): Int = {
    val v = batchVersion(path, batchId)
    // stream schema drift fails loudly — no silent evolution from a
    // micro-batch writer
    commitPartitionedAt(df, path, layoutAt(path, currentVersion(path), partCol),
      v, replaceTouched = false, replayable = true)
  }

  /** The version a foreachBatch seam commits for `batchId` (batchId+1),
    * refusing a batch id that is neither the next version nor a replay
    * of the current one — the checkpoint and the table have diverged. */
  private def batchVersion(path: String, batchId: Long): Int = {
    require(batchId >= 0 && batchId < Int.MaxValue,
      s"batchId $batchId outside the supported version range")
    val v = batchId.toInt + 1
    val cur = currentVersion(path)
    require(v == cur + 1 || v == cur,
      s"batch $batchId would commit version $v but the table at $path is at " +
        s"version $cur — a reset checkpoint or a concurrent batch writer; " +
        "refusing to rewrite published history")
    v
  }

  /** Rewrite the current version's rows into `nFiles` write tasks as
    * a new version (logically identical rows) — the background-merge
    * analogue; readers of older versions keep the small files until
    * vacuum. The table keeps its partitioning, stats and bloom
    * columns, and the rewrite clusters on the stats columns
    * ([[clustered]]), so file pruning survives it. */
  def compact(spark: SparkSession, path: String, nFiles: Int): Int = {
    val cur = headVersion(path, "compact")
    replaceAll(clustered(readAsOf(spark, path, cur),
      readMlist(path, cur).statsCols, nFiles), path, cur,
      effectiveSchema(path, cur))
  }

  /** Size-targeted small-file compaction (Delta's OPTIMIZE bin-pack,
    * as opposed to [[compact]]'s full rewrite): only files smaller
    * than `targetBytes` are rewritten — bin-packed into
    * ⌈small bytes / targetBytes⌉ outputs — while every
    * already-right-sized file is carried by reference, so the
    * maintenance cost is O(small files), not O(table). This is the
    * steady-state companion of the streaming sinks: a micro-batch
    * commit lands one small file per batch, and a periodic
    * `compactSmall` folds the accumulated tail without touching the
    * compacted bulk. Inputs read vector-applied (their delete-vector
    * rows fold away; vectors guarding carried files ride along), and
    * land back in their own partitions on a partitioned table.
    * No-op (current version returned) when fewer than `minFiles`
    * small files exist — below that the rewrite buys nothing. */
  def compactSmall(spark: SparkSession, path: String, targetBytes: Long,
                   minFiles: Int = 2): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val cur = headVersion(path, "compactSmall")
    val small = filesAsOf(path, cur)
      .filter(f => new File(path, f).length() < targetBytes)
    if (small.isEmpty || small.size < minFiles) cur
    else {
      val totalBytes = small.map(f => new File(path, f).length()).sum
      val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      val rewritten = readTouched(spark, path, cur, small)
        .repartition(nOut.toInt)
      commitRewrite(rewritten, path, cur, small)
    }
  }

  // ---- row-level operations ------------------------------------------
  //
  // One entry point per verb, partitioned or not: each operation
  // publishes a manifest list whose touched partitions re-mint their
  // pmanifests while untouched ones are carried by reference (`#dv`
  // lines for vectors). The find-matches
  // probe ([[probeSnapshot]]), the rewrite input ([[readTouched]]) and
  // the vector sidecar ([[vectorOf]]) are shared; the caller never
  // says how the table is laid out (ClickHouse's `ALTER TABLE …
  // DELETE/UPDATE` on a month-partitioned table).

  /** Delete the rows matching `predicate` as a new version, rewriting
    * ONLY the data files that contain at least one match — every other
    * file is carried into the new manifest by reference (Delta's
    * DELETE in its copy-on-write form). Old versions still read the
    * pre-delete rows until vacuumed.
    *
    * Two scans, both file-bounded: (1) a find-matches scan whose
    * predicate is pushed to the parquet reader (row-group stats skip
    * non-matching files wholesale; the scan runs through the
    * Catalyst FileIndex, so a partition or stats
    * predicate prunes whole partitions and files first), collecting
    * the DISTINCT file names that contain matches — driver state is
    * O(#files), never O(rows); (2) a rewrite scan over only those
    * files, each inside its own partition. At 100 TB a delete whose
    * predicate touches one time band rewrites that band's few files
    * and carries the rest — O(matching data), not O(table). A
    * partition whose every row is deleted disappears from the new
    * manifest list.
    *
    * Delete semantics are WHERE-true: rows where the predicate is
    * false OR NULL are kept. A predicate matching nothing is a no-op
    * that mints no version (returns the current one). */
  def delete(spark: SparkSession, path: String,
             predicate: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    rewriteMatched(spark, path, headVersion(path, "delete"),
      _.filter(predicate), _.filter(not(coalesce(predicate, lit(false)))))
  }

  /** Project `sets` onto rows matching `predicate` — each SET
    * expression evaluates against the OLD row (ANSI UPDATE: all
    * assignments are simultaneous) and is cast back to its column's
    * declared type; non-matching rows and unset columns pass through
    * verbatim. Unknown or duplicate SET columns refuse loudly. */
  private def applySets(rows: DataFrame,
                        predicate: org.apache.spark.sql.Column,
                        sets: Seq[(String, org.apache.spark.sql.Column)])
      : DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val byName = sets.map { case (n, e) =>
      n.toLowerCase(java.util.Locale.ROOT) -> e }.toMap
    require(byName.size == sets.size, "duplicate column in SET")
    val fields = rows.schema.fields.toSeq
      .filterNot(_.name.startsWith("__dv_"))
    byName.keys.foreach(n =>
      require(fields.exists(_.name.equalsIgnoreCase(n)),
        s"SET column $n is not a table column"))
    val p = coalesce(predicate, lit(false))
    rows.select(fields.map { f =>
      byName.get(f.name.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(e) =>
          when(p, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }: _*)
  }

  /** ANSI `UPDATE … SET … WHERE …` (copy-on-write): the [[delete]]
    * machinery with a projection instead of a drop — only the data
    * files holding a matched row are rewritten (matched rows projected
    * through `sets`, their file-mates carried into the rewrite
    * verbatim), every other file carried by reference. ClickHouse's
    * `ALTER TABLE … UPDATE` / Delta's UPDATE. Returns the new version,
    * or the current one when nothing matched. SET on a partitioned
    * table's partition column refuses loudly: a partition-moving
    * update is [[updateVectored]] territory (copy-on-write would have
    * to rewrite both partitions). */
  def update(spark: SparkSession, path: String,
             predicate: org.apache.spark.sql.Column,
             sets: Seq[(String, org.apache.spark.sql.Column)]): Int = {
    val cur = headVersion(path, "update")
    for (partCol <- readMlist(path, cur).partCol)
      require(!sets.exists(_._1.equalsIgnoreCase(partCol)),
        s"UPDATE SET on partition column $partCol is not supported " +
          "copy-on-write — use the vectored mode for partition moves")
    rewriteMatched(spark, path, cur, _.filter(predicate),
      applySets(_, predicate, sets))
  }

  /** Upsert `updates` by `keys` as a new version: rows whose key
    * matches an update are REPLACED by the update row, unmatched
    * update rows are inserted, and only the data files containing a
    * matched key are rewritten — the rest carried by reference
    * (Delta's MERGE, specialized to whenMatched-update-all /
    * whenNotMatched-insert-all: the ReplacingMergeTree keep-latest
    * upsert as a table operation instead of a read-time dedup). On a
    * partitioned table the update rows land in THEIR OWN partitions,
    * so a partition-moving update rewrites both sides; the table stays
    * vector-free (e.g. to stay servable through the relation-based
    * reader).
    *
    * The find-matches pass is a semi-join of the snapshot against the
    * update keys — Spark broadcasts the key set when it is small (the
    * common dim-table refresh), so the probe is one map-side pass
    * whose matched-file set bounds the rewrite. Rows with a NULL key
    * never match (SQL join semantics) and are therefore inserted, not
    * replaced. `updates` must carry exactly the table's columns. */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keys: Seq[String]): Int = {
    val cur = headVersion(path, "merge")
    val (cols, keyRows) = mergeInput(spark, path, cur, updates, keys)
    // no file holds a matched key -> a pure insert: the update rows
    // land, every existing file is carried
    rewriteMatched(spark, path, cur, _.join(keyRows, keys, "left_semi"),
      _.join(keyRows, keys, "left_anti"),
      inserts = Some(updates.select(cols.map(
        org.apache.spark.sql.functions.col): _*)))
  }

  /** The copy-on-write core of [[delete]] / [[update]] / [[merge]]:
    * find the files of version `cur` holding a `probe` match on the
    * vector-applied snapshot, re-read only those ([[readTouched]]),
    * put them through `rewrite`, and commit the result together with
    * `inserts` while every other file is carried by reference. Nothing
    * touched and nothing to insert mints no version. */
  private def rewriteMatched(spark: SparkSession, path: String, cur: Int,
                             probe: DataFrame => DataFrame,
                             rewrite: DataFrame => DataFrame,
                             inserts: Option[DataFrame] = None): Int = {
    val touched = touchedFiles(spark, path, cur, probe)
    if (touched.isEmpty && inserts.isEmpty) cur
    else {
      val kept =
        if (touched.isEmpty) None
        else Some(rewrite(readTouched(spark, path, cur, touched)))
      commitRewrite((kept ++ inserts).reduce(_.unionByName(_)),
        path, cur, touched)
    }
  }

  /** [[delete]] in merge-on-read form: publish a DELETE VECTOR of the
    * matched rows' (file, position) pairs instead of rewriting any
    * data file — commit cost O(matched rows), not O(touched files),
    * the right shape for a point/narrow delete in a huge table (a
    * GDPR erasure, a reorg retraction). The commit carries every
    * entry of the previous manifest list by reference plus the new
    * `#dv` lines — no pmanifest re-mints; vector rows key on
    * manifest-relative paths, so one table-level set serves every
    * partition. Readers subtract the vector with one broadcast
    * anti-join; [[reorgVectored]], [[compact]] and [[compactPartition]]
    * fold accumulated vectors back into clean files (the
    * read-amplification reclaim, Delta's OPTIMIZE after DV deletes).
    * Returns the new version, or the current one unchanged when
    * nothing matched. NULL-predicate rows never match, the [[delete]]
    * contract. */
  def deleteVectored(spark: SparkSession, path: String,
                     predicate: org.apache.spark.sql.Column): Int =
    deleteVectoredAt(spark, path, predicate, headVersion(path, "delete"))

  /** [[deleteVectored]] against an EXPLICIT base version — the test
    * seam for the auto-rebase race (a stale base makes the publish
    * lose deterministically); production callers go through
    * [[deleteVectored]], which bases on the current head. */
  private[graft] def deleteVectoredAt(spark: SparkSession, path: String,
                                      predicate: org.apache.spark.sql.Column,
                                      base: Int): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // matched positions off the vector-applied snapshot: re-deleting
    // an already-dead row can never re-list its position
    val dv = vectorOf(probeSnapshot(spark, path, base)
      .filter(coalesce(predicate, lit(false))), path, base + 1)
    if (dv.isEmpty) base else publishDvCommit(spark, path, base, dv)
  }

  /** Publish a metadata-only delete-vector commit with bounded
    * AUTO-REBASE (VERDICT r15 #9 — the CDC topology: a streaming
    * upsert owns the version counter while an ad-hoc GDPR delete
    * races it). A DV sidecar derives NOTHING from its base except the
    * carried lines — the (file, position) pairs are base-independent
    * as long as every data file they name still lives in the head —
    * so a loser re-publishes against the new head instead of failing,
    * PROVIDED the winner left all named files in place (a winner that
    * rewrote/compacted/removed a named file invalidates positions:
    * loud loser, re-read and retry). Overlap with the winner's own
    * vectors is harmless (a doubly-dead position stays dead), and
    * rows the winner appended are untouched — the outcome equals the
    * serial schedule in which this delete ran FIRST, so the history
    * stays serializable. */
  private def publishDvCommit(spark: SparkSession, path: String,
                              baseV: Int, dvParts: Seq[String]): Int = {
    var base = baseV
    var target = baseV + 1
    var tries = 0
    // data files our vector rows name — read once, only when a retry
    // actually needs the check
    lazy val named: Set[String] =
      dvParts.flatMap(p => spark.read.parquet(s"$path/$p")
        .select("file").distinct().collect().map(_.getString(0))).toSet
    val ml = readMlist(path, baseV)
    var done = -1
    while (done < 0) {
      try done = publishList(spark, path, ml.partCol, ml.partType, base, target,
        effectiveSchema(path, base), extraDvs = dvParts)
      catch {
        case e: java.util.ConcurrentModificationException =>
          tries += 1
          if (tries > MaxCommitRetries) throw e
          val head = currentVersion(path)
          if (head < target) throw e
          if (!named.subsetOf(filesAsOf(path, head).toSet))
            throw new java.util.ConcurrentModificationException(
              "concurrent commit removed or rewrote file(s) this delete " +
                "vector names — positions are file-bound and cannot " +
                "rebase; re-read the table and retry")
          base = head
          target = head + 1
      }
    }
    done
  }

  /** [[merge]] in merge-on-read form: matched rows die by delete
    * vector, every update row lands in new data files — NOTHING is
    * rewritten, so commit cost is O(updates + matched rows) even when
    * the matches scatter across thousands of files (the dimension-
    * refresh-into-giant-fact shape copy-on-write merge handles worst).
    * The update rows land through the ordinary commit into THEIR
    * partitions (untouched partitions
    * carried by reference), and because the old row dies by position
    * this natively supports PARTITION-MOVING upserts. Same contract as
    * [[merge]] otherwise: whenMatched-replace-all /
    * whenNotMatched-insert-all, duplicate update keys refused. */
  def mergeVectored(spark: SparkSession, path: String, updates: DataFrame,
                    keys: Seq[String]): Int =
    mergeVectoredAt(spark, path, updates, keys,
      headVersion(path, "merge") + 1, replayable = false)

  /** [[update]] in merge-on-read form: matched rows die by DELETE
    * VECTOR, their `sets`-projected copies land in new data files —
    * nothing rewritten, commit cost O(matched rows), the scattered-
    * point-update shape at 100 TB. Because the old row dies by
    * position while the new row lands wherever its (possibly updated)
    * partition value says, SET on a partitioned table's partition
    * column works natively here. Returns the current version unchanged
    * when nothing matched. */
  def updateVectored(spark: SparkSession, path: String,
                     predicate: org.apache.spark.sql.Column,
                     sets: Seq[(String, org.apache.spark.sql.Column)])
      : Int = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val cur = headVersion(path, "update")
    val matched = probeSnapshot(spark, path, cur)
      .filter(coalesce(predicate, lit(false)))
    val dv = vectorOf(matched, path, cur + 1)
    if (dv.isEmpty) cur
    // the replacements: matched rows, every SET applied (predicate
    // already filtered, so the projection is unconditional)
    else commitVectored(path, cur + 1,
      applySets(matched, lit(true), sets), dv, replayable = false)
  }

  /** Targeted read-amplification reclaim (Delta's `REORG … APPLY
    * (PURGE)`): rewrite ONLY the data files whose delete-vector
    * dead-row ratio reaches `minDeadRatio`, folding their vectors
    * into clean files — the surgical middle ground between paying
    * the anti-join forever and [[compact]]'s full-table rewrite. The
    * decision input is O(vector rows + one footer probe per dead
    * file): a small aggregation over the sidecars gives per-file dead
    * counts, footers give totals. Untouched files (and the vector
    * lines still guarding them) are carried by reference — a
    * dead-heavy file rewrites inside its own partition and untouched
    * partitions are carried; when the rewrite
    * covers every file the vectors name, the vector lines are dropped
    * entirely and reads return to a bare scan. At `minDeadRatio = 0`
    * this IS the full vector fold, still rewriting only the files that
    * have dead rows at all. */
  def reorgVectored(spark: SparkSession, path: String,
                    minDeadRatio: Double): Int = {
    require(minDeadRatio >= 0.0 && minDeadRatio <= 1.0,
      s"minDeadRatio must be in [0, 1]: $minDeadRatio")
    val cur = headVersion(path, "reorg")
    val dvs = deleteVectorsAsOf(path, cur)
    if (dvs.isEmpty) cur
    else {
      val deadByFile = dvFrame(spark, path, dvs)
        .groupBy("__dv_file").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val live = filesAsOf(path, cur).toSet
      val touched = deadByFile.toSeq.flatMap { case (rel, dead) =>
        // a vector row whose file is gone (earlier rewrite) is inert:
        // it names nothing in this version's manifest — skip it
        Some(rel).filter(live.contains).filter { r =>
          footerRowCount(spark, new File(path, r))
            .exists(total => total > 0 &&
              dead.toDouble / total >= minDeadRatio)
        }
      }.sorted
      if (touched.isEmpty) cur
      else {
        val liveDead = deadByFile.keySet.filter(live.contains)
        commitRewrite(readTouched(spark, path, cur, touched), path,
          cur, touched, dropDvs = liveDead.subsetOf(touched.toSet))
      }
    }
  }

  /** [[mergeVectored]] keyed by micro-batch id — the CDC-upsert
    * STREAMING seam ([[commitBatch]]'s idempotency recipe on the
    * merge-on-read machinery): version = batchId+1, and EVERY input
    * to the commit derives from version v−1 — the carried manifest
    * lines, the matched positions (probed against v−1's snapshot, not
    * the live table), and the vector subtraction — so an at-least-once
    * foreachBatch replay recommits the IDENTICAL version and table
    * state lands exactly-once. Each batch must be key-unique
    * (pre-dedup a CDC batch keep-latest first — the engine's
    * ReplacingMergeTree dedup is exactly that operator); duplicate
    * keys are refused because which row wins would be
    * nondeterministic across replays. Matched rows die by vector,
    * batch rows land as new files: O(batch + matched rows) per
    * micro-batch, never a rewrite — the upsert-stream-into-100 TB-
    * table shape.
    *
    * `partCol` declares the layout when the first batch creates the
    * table: `Some(c)` partitions it by `c` (a month-partitioned
    * warehouse: O(touched partitions) metadata per batch, partition
    * moves included). Afterwards the table's own form rules, and a
    * `partCol` that disagrees with it refuses loudly ([[layoutAt]]). */
  def mergeBatchVectored(df: DataFrame, path: String, keys: Seq[String],
                         batchId: Long,
                         partCol: Option[String] = None): Int = {
    val v = batchVersion(path, batchId)
    if (v == 1) {
      // bootstrap batch: nothing to match — a plain batch commit that
      // declares the layout, under the same per-batch key contract
      requireMergeKeys(df, keys)
      commitBatch(df, path, batchId, partCol)
    } else {
      layoutAt(path, currentVersion(path), partCol)
      // stream schema drift fails loudly — no silent evolution from a
      // micro-batch writer
      evolvedSchema(df.sparkSession, path, v - 1, df.schema,
        allowEvolution = false)
      mergeVectoredAt(df.sparkSession, path, df, keys, v,
        replayable = true)
    }
  }

  /** The vectored merge committing version `v` over `v − 1`: every
    * input — the snapshot probe, the vector subtraction, the carried
    * manifest — derives from v−1, which is what makes the batch-replay
    * seam idempotent. */
  private def mergeVectoredAt(spark: SparkSession, path: String,
                              updates: DataFrame, keys: Seq[String],
                              v: Int, replayable: Boolean): Int = {
    val (cols, keyRows) = mergeInput(spark, path, v - 1, updates, keys)
    val dv = vectorOf(probeSnapshot(spark, path, v - 1)
      .join(keyRows, keys, "left_semi"), path, v)
    commitVectored(path, v,
      updates.select(cols.map(org.apache.spark.sql.functions.col): _*), dv,
      replayable)
  }

  /** The merge-input checks against version `v`: `updates` carries
    * exactly the table's columns and passes [[requireMergeKeys]].
    * Returns the table's column order (the write alignment) and the
    * distinct key rows (the probe side). */
  private def mergeInput(spark: SparkSession, path: String, v: Int,
                         updates: DataFrame, keys: Seq[String])
      : (Seq[String], DataFrame) = {
    val cols = effectiveSchema(path, v).fieldNames.toSeq
    require(updates.columns.toSet == cols.toSet,
      s"merge schema mismatch: table has ${cols.sorted.mkString(",")}" +
        s" but updates carry ${updates.columns.sorted.mkString(",")}")
    requireMergeKeys(updates, keys)
    (cols, updates.select(keys.map(org.apache.spark.sql.functions.col): _*)
      .distinct())
  }

  /** `keys` must name update columns, and NON-NULL key tuples must not
    * repeat — which row wins would be nondeterministic. NULL-keyed
    * rows are exempt: the merge contract says a NULL key never matches
    * and is inserted as-is, so two NULL-keyed rows are two inserts,
    * not a conflict (a `distinct().count()` comparison would wrongly
    * collapse them). One Spark job, not two. */
  private def requireMergeKeys(updates: DataFrame, keys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(keys.nonEmpty && keys.forall(updates.columns.contains),
      s"merge keys $keys must be update columns")
    val dups = updates
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count()
    require(dups == 0L,
      "updates carry duplicate keys — which row wins would be " +
        "nondeterministic; pre-dedup a micro-batch (keep-latest) before " +
        "the upsert sink")
  }

  /** Write the (file, position) stamps of `matched` — rows of a
    * [[probeSnapshot]] — as version `v`'s delete-vector sidecar under
    * an attempt-unique dir (same invisibility-until-publish contract as
    * data commits), clustered by file (AQE re-coalesces the small
    * shuffle). Returns the sidecar parts, or Nil when nothing matched
    * — the empty attempt dir is invisible debris. */
  private def vectorOf(matched: DataFrame, path: String,
                       v: Int): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val rel = s"data/commit-$v-${attemptId()}-dv"
    matched.select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
      .repartition(col("file"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/$rel")
    val parts = listParquet(path, rel)
    if (sidecarRowCount(matched.sparkSession, path, parts) == 0L) Nil else parts
  }

  /** The merge-on-read commit of version `v` over `v − 1`: `rows` land
    * in new data files (in THEIR partitions),
    * `dv` kills the matched positions, nothing is rewritten and every
    * existing file is carried by reference. Row-level operations never
    * change the schema — the new version re-records v−1's. */
  private def commitVectored(path: String, v: Int, rows: DataFrame,
                             dv: Seq[String], replayable: Boolean): Int =
    commitPartitionedAt(rows, path, readMlist(path, v - 1).partCol, v,
      replaceTouched = false, replayable = replayable,
      schemaOverride = Some(effectiveSchema(path, v - 1)), extraDvs = dv)

  private def listParquet(path: String, rel: String): Seq[String] =
    Option(new File(path, rel).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => s"$rel/${f.getName}").toSeq.sorted

  /** ClickHouse MergeTree TTL at partition granularity (`TTL ts +
    * INTERVAL … DELETE` where the TTL key drives PARTITION BY;
    * Delta's metadata-only `DELETE WHERE partition < cutoff`): drop
    * every partition whose VALUE satisfies `expired` in one
    * METADATA-ONLY commit — surviving partitions' manifest lines are
    * carried VERBATIM, no data file is read or written, cost
    * O(#partitions). Provability is the point: a predicate on the
    * partition value cannot be wrong about any row inside the
    * partition, so no file probe runs at all — contrast
    * [[delete]], which probes files because a row
    * predicate needs row evidence (a TTL expressed as a row
    * predicate there would READ every expired partition just to
    * learn everything matched). Carried `#dv` lines stay: vector
    * rows naming dropped files are inert by path-keying, exactly as
    * with compaction. Old versions still reference the dropped
    * partitions (time travel intact) until vacuum reclaims them.
    * Expiring EVERY partition refuses — an all-partitions drop is an
    * `overwrite()` decision, not a maintenance pass. */
  def expirePartitions(spark: SparkSession, path: String,
                       expired: String => Boolean): Int = {
    val cur = headVersion(path, "expire")
    val ml = readMlist(path, cur)
    require(ml.partCol.nonEmpty,
      s"the table at $path is unpartitioned — TTL expiry drops PARTITIONS")
    val (dead, live) = ml.parts.partition(p => expired(p.value))
    if (dead.isEmpty) cur
    else {
      require(live.nonEmpty,
        "TTL would expire every partition — refusing (use overwrite())")
      publishList(spark, path, ml.partCol, ml.partType, cur, cur + 1,
        effectiveSchema(path, cur), droppedParts = dead.map(_.value).toSet)
    }
  }

  /** Row-level change feed over (fromV, toV], DERIVED — never stored —
    * from the copy-on-write commits' file deltas (Delta's Change Data
    * Feed, derivation form: no per-commit _change_data files, because
    * every commit already bounds its changes to the files it removed
    * and added). Per version step v−1→v, the rows of v's ADDED files
    * full-outer-join the rows of v−1's REMOVED files on `keys`:
    *
    *   new side only                  → `insert`
    *   old side only                  → `delete`
    *   both, any non-key col differs  → `update_preimage` +
    *                                    `update_postimage`
    *   both, identical                → NOTHING — a copy-on-write
    *     rewrite carries untouched survivor rows into new files, and
    *     a naive file diff would misreport every one as a change;
    *     compaction (same rows, new files) is CDF-silent for the same
    *     reason.
    *
    * Cost is O(touched files of each step) — carried files are never
    * read. Output: the table's columns + `_change_type` +
    * `_commit_version`. Key columns must be non-null (join
    * semantics), the same contract as [[merge]]. */
  def readChangeFeed(spark: SparkSession, path: String, fromV: Int,
                     toV: Int, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, not}
    require(fromV >= 0 && toV > fromV, s"bad version range ($fromV, $toV]")
    val h = history(path).filter(c => c.version > fromV && c.version <= toV)
    require(h.map(_.version).toSet == (fromV + 1 to toV).toSet,
      s"versions in ($fromV, $toV] are not all retained")
    val steps = (fromV + 1 to toV).flatMap { v =>
      val prevFiles =
        if (v == 1) Set.empty[String] else filesAsOf(path, v - 1).toSet
      val curFiles = filesAsOf(path, v).toSet
      val removed = (prevFiles -- curFiles).toSeq.sorted
      val added = (curFiles -- prevFiles).toSeq.sorted
      // both sides read under the STEP'S schema (v's): an earlier
      // evolution's files null-fill, so the full-outer payload
      // comparison is width-aligned across the step
      val stepSchema = schemaAsOf(path, v)
      // the old side is the rows this step RETRACTED: removed files'
      // rows (copy-on-write) plus rows killed by delete vectors
      // PUBLISHED at this step (merge-on-read) — read position-exact
      // from only the data files the new vectors name, so the cost
      // stays O(touched) either way. The downstream full-outer pairing
      // is shape-blind: a vectored merge step pairs its dead rows with
      // its inserted files into the same update_pre/postimage rows a
      // copy-on-write merge yields.
      val dvPrev = if (v == 1) Set.empty[String]
                   else deleteVectorsAsOf(path, v - 1).toSet
      // removed files read MINUS v−1's pre-existing vectors: a rewrite
      // step (compact / copy-on-write delete / reorg) over a
      // previously-vectored table must not resurrect vector-dead rows
      // on the old side — they were already retracted when their
      // vector was published, and re-emitting them here would
      // double-report the delete (or fabricate update pairs when the
      // key was re-inserted later). Same protection readTouched
      // gives the rewrites themselves.
      val removedRows =
        if (removed.isEmpty) None
        else if (dvPrev.isEmpty)
          readVersionFiles(spark, path, v - 1, removed, stepSchema)
        else
          readVersionFiles(spark, path, v - 1, removed, stepSchema,
              perScan = withMeta)
            .map(subtractStamped(spark, path, _, dvPrev.toSeq.sorted))
      val dvNew = deleteVectorsAsOf(path, v).filterNot(dvPrev).sorted
      val deadRows = if (dvNew.isEmpty) None else {
        val dv = dvFrame(spark, path, dvNew)
        val named = dv.select("__dv_file").distinct()
          .collect().map(_.getString(0)).toSet
        val live = filesAsOf(path, v - 1).toSet
        val files = named.toSeq.sorted.map { f =>
          if (!live.contains(f))
            sys.error(s"delete vector names $f outside version ${v - 1}")
          f
        }
        readVersionFiles(spark, path, v - 1, files, stepSchema,
            perScan = withMeta).map(df =>
          df.join(dv, Seq("__dv_file", "__dv_pos"), "left_semi")
            .drop("__dv_file", "__dv_pos"))
      }
      val oldOpt = (removedRows, deadRows) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (a, b) => a.orElse(b)
      }
      val newOpt = readVersionFiles(spark, path, v, added, stepSchema)
      val cols = newOpt.orElse(oldOpt).map(_.columns.toSeq)
      val valCols = cols.map(_.filterNot(keys.contains)).getOrElse(Nil)
      for (c <- cols)
        require(keys.forall(c.contains), s"keys $keys must be table columns")
      // payload struct for null-safe whole-row comparison; constant
      // when the table is key-only (then only insert/delete can occur)
      def payload(df: DataFrame) =
        df.select(keys.map(col) :+
          (if (valCols.isEmpty) struct(lit(0)) else
            struct(valCols.map(col): _*)): _*)
          .toDF(keys :+ "__img": _*)
      def unpack(side: String, kind: String, df: DataFrame) =
        df.select(keys.map(col) ++
          valCols.map(c => col(s"$side.$c").as(c)) ++
          Seq(lit(kind).as("_change_type"),
            lit(v).as("_commit_version")): _*)
      def tagAll(df: DataFrame, kind: String) =
        df.select(cols.get.map(col) ++ Seq(
          lit(kind).as("_change_type"),
          lit(v).as("_commit_version")): _*)
      (oldOpt, newOpt) match {
        case (None, None) => None // metadata-only step: nothing changed
        case (None, Some(nw)) => Some(tagAll(nw, "insert")) // pure append
        case (Some(old), None) => Some(tagAll(old, "delete")) // pure delete
        case (Some(old), Some(nw)) =>
          val j = payload(old).withColumnRenamed("__img", "__pre")
            .join(payload(nw).withColumnRenamed("__img", "__post"),
              keys, "full_outer")
          val inserts = unpack("__post", "insert",
            j.filter(col("__pre").isNull && col("__post").isNotNull))
          val deletes = unpack("__pre", "delete",
            j.filter(col("__post").isNull && col("__pre").isNotNull))
          val changed = j.filter(col("__pre").isNotNull &&
            col("__post").isNotNull && not(col("__pre") <=> col("__post")))
          Some(inserts.unionByName(deletes)
            .unionByName(unpack("__pre", "update_preimage", changed))
            .unionByName(unpack("__post", "update_postimage", changed)))
      }
    }
    require(steps.nonEmpty,
      s"every version in ($fromV, $toV] was a metadata-only commit")
    steps.reduce(_.unionByName(_))
  }

  /** Read a subset `rel` of version `v`'s files — the one file-delta
    * reader behind the rewrites, both change feeds and the versioned
    * stream source. The files are grouped by partition through v's
    * manifest list, one scan per group, and each group's value is
    * reattached as a literal column (data files do not store it;
    * an unpartitioned table has one group and no column to
    * reattach); every file of `rel` must resolve. `logicalSchema`
    * includes the partition column, which is stripped for the scan. `scan` reads
    * one group of absolute file paths under a data schema — a batch
    * parquet read by default, a streaming-tagged one for the source.
    * `perScan` runs directly over each scan BEFORE any union or
    * partition-column projection — the seam that stamps (relative
    * path, row_index) where a post-union stamp would not resolve.
    * None when `rel` is empty. */
  private[sources] def readVersionFiles(spark: SparkSession, path: String,
                                        v: Int, rel: Seq[String],
                                        logicalSchema: Option[
                                          org.apache.spark.sql.types.StructType]
                                          = None,
                                        perScan: DataFrame => DataFrame = identity,
                                        scan: (SparkSession, Seq[String], Option[
                                          org.apache.spark.sql.types.StructType])
                                          => DataFrame = parquetScan)
      : Option[DataFrame] = {
    def read(fs: Seq[String],
             schema: Option[org.apache.spark.sql.types.StructType]) =
      perScan(scan(spark, fs.map(f => s"$path/$f"), schema))
    if (rel.isEmpty) None
    else {
      val ml = readMlist(path, v)
      val partSchema = ml.partitionSchema
      val dataSchema = logicalSchema.map(s =>
        org.apache.spark.sql.types.StructType(
          s.fields.filterNot(f => partSchema.fieldNames.contains(f.name))))
      val want = rel.toSet
      val byPart = ml.parts.flatMap { p =>
        val fs = readPmanifest(path, p.pmanifest).filter(want.contains)
        if (fs.isEmpty) None else Some((p.value, fs))
      }
      require(byPart.map(_._2.size).sum == want.size,
        s"version $v's mlist does not resolve every requested file")
      Some(byPart.map { case (value, fs) =>
        partSchema.fields.foldLeft(read(fs, dataSchema))((df, f) =>
          df.withColumn(f.name,
            org.apache.spark.sql.functions.lit(value).cast(f.dataType)))
      }.reduce(_.unionByName(_)))
    }
  }

  /** The head version a row-level operation bases on — refusing an
    * empty table, which has nothing to mutate. */
  private def headVersion(path: String, op: String): Int = {
    val cur = currentVersion(path)
    require(cur > 0, s"cannot $op: no committed version at $path")
    cur
  }

  /** The table-relative names of version `v`'s data files that survive
    * `probe` (a filter or semi-join marking matched rows): scan with
    * the scan's _metadata-derived relative path, distinct — relative
    * paths ARE the manifest lines, so the mapping is identity. */
  private def touchedFiles(spark: SparkSession, path: String, v: Int,
                           probe: DataFrame => DataFrame): Seq[String] = {
    val live = filesAsOf(path, v).toSet
    // the file path is stamped BEFORE the probe runs (from the scan's
    // _metadata, so it stays well-defined when the probe — or the
    // delete-vector subtraction — joins in another source, where
    // input_file_name() would be ambiguous); the stamp IS the
    // manifest-relative path, no basename mapping
    val hit = probe(probeSnapshot(spark, path, v))
      .select("__dv_file").distinct()
      .collect().map(_.getString(0))
    hit.map { f =>
      if (!live.contains(f))
        sys.error(s"scanned file $f not in version $v's manifest")
      f
    }.toSeq.sorted
  }

  /** A batch parquet read of absolute `files`, under `schema` when
    * given (pre-evolution files null-fill the added columns). */
  private val parquetScan: (SparkSession, Seq[String],
      Option[org.apache.spark.sql.types.StructType]) => DataFrame =
    (spark, files, schema) =>
      schema.fold(spark.read)(spark.read.schema).parquet(files: _*)

  /** Publish the copy-on-write commit of version cur+1: new files
    * from `rewritten`, laid out by partition, every untouched file
    * carried by reference — `touched` is struck from its partitions'
    * pmanifests (re-minting only those; an emptied partition leaves
    * the list). Delete-vector lines ride along verbatim — vector rows
    * whose data file was just rewritten are inert (path-keyed, and the
    * file left the manifest), the rest still guard untouched files —
    * unless `dropDvs` (the rewrite folded every file they name).
    * Row-level operations never change the schema — the new version
    * re-records the current one. */
  private def commitRewrite(rewritten: DataFrame, path: String, cur: Int,
                            touched: Seq[String],
                            dropDvs: Boolean = false): Int =
    commitPartitionedAt(rewritten, path, readMlist(path, cur).partCol,
      cur + 1, replaceTouched = false, removedFiles = touched.toSet,
      schemaOverride = Some(effectiveSchema(path, cur)), dropDvs = dropDvs)

  // ---- manifests (manifest list + per-partition) ---------------------

  /** One manifest-list entry: a partition value and the name of the
    * immutable per-partition manifest holding its live files. */
  final case class PartEntry(value: String, pmanifest: String)
  /** A parsed manifest list: the partition column (name + Spark DDL
    * type, so readers reattach the column losslessly; None for an
    * unpartitioned table, whose one entry has an empty value), the
    * optional per-file STATS columns (one or more, comma-joined in the
    * header — Iceberg-style per-column file stats), and one entry per
    * live partition. `statsCol` keeps the first declared column as the
    * single-column view (the clustering key). */
  final case class Mlist(partCol: Option[String], partType: String,
                         parts: Seq[PartEntry],
                         statsCols: Seq[String] = Nil,
                         bloomCol: Option[String] = None,
                         dvs: Seq[String] = Nil) {
    def statsCol: Option[String] = statsCols.headOption
    /** The partition column as a schema — empty when unpartitioned. */
    def partitionSchema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(partCol.toSeq.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DataType.fromDDL(partType))))
  }
  /** One pmanifest line: a data file, its optional footer stats —
    * rowCount plus (min, max) PER declared stats column, in
    * declaration order — and its optional bloom fingerprint of the
    * declared bloom column (a [[graft.functions.BloomAgg]]
    * self-describing sketch). `stats` keeps the legacy first-column
    * view. */
  final case class FileEntry(file: String, rows: Option[Long],
                             bounds: Seq[(Double, Double)],
                             bloom: Option[Array[Byte]] = None) {
    def stats: Option[(Long, Double, Double)] =
      for (r <- rows; (mn, mx) <- bounds.headOption) yield (r, mn, mx)
  }

  /** Parse version `v`'s manifest list. Header:
    * `#part[\t<partCol>\t<type>[\t<statsCols>[\t<bloomCol>]]]`. */
  def readMlist(path: String, v: Int): Mlist = {
    val mf = mlistFile(path, v)
    require(mf.exists(),
      s"version $v does not exist (vacuumed or never committed)")
    val lines = Files.readAllLines(mf.toPath).asScala.toSeq.filter(_.nonEmpty)
    val header = lines.head.split("\t", -1)
    require((header.length == 1 || (header.length >= 3 && header.length <= 5))
      && header(0) == "#part", s"malformed manifest list header: ${lines.head}")
    // `#dv` lines carry table-level delete-vector sidecars; the rest
    // are partition entries
    val (dvLines, partLines) = lines.tail.partition(_.startsWith("#dv\t"))
    Mlist(header.lift(1), header.lift(2).getOrElse(""), partLines.map { l =>
      val f = l.split("\t", -1); PartEntry(f(0), f(1))
    },
      if (header.length >= 4 && header(3).nonEmpty)
        header(3).split(",").toSeq else Nil,
      if (header.length == 5 && header(4).nonEmpty)
        Some(header(4)) else None,
      dvLines.map(_.split("\t", 2)(1)))
  }

  private def readPmanifestLines(path: String, name: String): Seq[String] =
    Files.readAllLines(new File(manifestDir(path), name).toPath)
      .asScala.toSeq.filter(_.nonEmpty)

  /** Parse one pmanifest:
    * `file[\trows\tmin1\tmax1[\tmin2\tmax2…]][\tB:<base64 sketch>]`
    * per line — the stats fields are present when the commit declared
    * stats column(s) and the parquet footer carried numeric min/max
    * for every one of them (all-or-nothing per line, so bounds align
    * with the header's declaration order); the trailing `B:` field is
    * the file's bloom fingerprint when the commit declared a bloom
    * column. */
  def readPmanifestEntries(path: String, name: String): Seq[FileEntry] =
    readPmanifestLines(path, name).map { l =>
      val raw = l.split("\t", -1)
      val (f, bloom) =
        if (raw.length > 1 && raw.last.startsWith("B:"))
          (raw.dropRight(1),
            Some(java.util.Base64.getDecoder.decode(raw.last.drop(2))))
        else (raw, None)
      if (f.length >= 4 && f.length % 2 == 0)
        FileEntry(f(0), Some(f(1).toLong),
          f.drop(2).grouped(2).map(p => (p(0).toDouble, p(1).toDouble)).toSeq,
          bloom)
      else FileEntry(f(0), None, Nil, bloom)
    }

  private def readPmanifest(path: String, name: String): Seq[String] =
    readPmanifestEntries(path, name).map(_.file)

  /** Dynamic-partition overwrite: the partitions present in `df` are
    * REPLACED in the new version, untouched partitions carried by
    * reference — the hot-range rewrite shape (reorg finality) on the
    * versioned store: old versions still resolve the pre-rewrite
    * files until vacuumed. */
  def overwritePartitions(df: DataFrame, path: String, partCol: String,
                          statsCol: Option[String] = None,
                          allowSchemaEvolution: Boolean = false,
                          bloomCol: Option[String] = None): Int =
    // a PARTIAL overwrite still carries other partitions' files, so
    // schema compatibility is enforced like an append (unlike
    // overwrite(), which carries nothing)
    commitPartitionedAt(df, path,
      layoutAt(path, currentVersion(path), Some(partCol), statsCol, bloomCol),
      currentVersion(path) + 1, replaceTouched = true, statsCol,
      allowEvolution = allowSchemaEvolution, bloomCol = bloomCol)

  /** Compact ONE partition's files into `nFiles` as a new version
    * (logically identical rows; all other partitions carried by
    * reference) — the background-merge analogue on a partitioned
    * table: at 100 TB compaction is per-partition maintenance that
    * rewrites O(one partition) data and metadata, never the table.
    * Old versions keep resolving the uncompacted files until vacuum.
    * The rewrite clusters on the table's stats columns
    * ([[clustered]]), so a time-range read stays O(overlapping files)
    * across the table's whole maintenance lifetime; stats are
    * re-harvested from the new footers either way. */
  def compactPartition(spark: SparkSession, path: String, value: String,
                       nFiles: Int): Int = {
    val cur = headVersion(path, "compactPartition")
    val ml = readMlist(path, cur)
    require(ml.partCol.nonEmpty && ml.parts.exists(_.value == value),
      s"partition $value does not exist in version $cur")
    val rows = readTouched(spark, path, cur,
      readPmanifest(path, ml.parts.find(_.value == value).get.pmanifest))
    commitPartitionedAt(clustered(rows, ml.statsCols, nFiles), path,
      ml.partCol, cur + 1, replaceTouched = true,
      schemaOverride = Some(effectiveSchema(path, cur)))
  }

  /** `rows` laid out over `nFiles` write tasks for a compaction. With
    * one stats column the rewrite CLUSTERS on it (range-partition +
    * local sort) instead of round-robin repartitioning: ingest order
    * usually gives time-banded files whose (min,max) windows are
    * disjoint, and a round-robin rewrite would hand every output file
    * the full value range — file-stats pruning would silently die at
    * the first compaction. With two or more, it clusters on the
    * MORTON interleave of the first two, so each output file covers a
    * bounded window in BOTH dimensions and the per-column manifest
    * stats prune on either predicate — a single-key sort would keep
    * only its own column's windows narrow (Delta's OPTIMIZE ZORDER BY,
    * manifest-stats form). */
  private def clustered(rows: DataFrame, statsCols: Seq[String],
                        nFiles: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    statsCols match {
      case Seq(c) =>
        rows.repartitionByRange(nFiles, col(c)).sortWithinPartitions(c)
      case a +: b +: _ =>
        val z = graft.functions.ZOrder.z_order(
          col(a).cast("long"), col(b).cast("long"))
        rows.withColumn("__z", z)
          .repartitionByRange(nFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      case _ => rows.repartition(nFiles)
    }
  }

  /** One commit's audit record, derived entirely from the metadata a
    * commit already publishes (no extra write-path state): the
    * version, the manifest's own mtime as the commit time, the form,
    * which partitions the commit touched (pmanifest names embed their
    * minting version), and the file-list delta vs the previous
    * version. `rowsAdded` comes from the added files' harvested stats
    * lines when the table declares a stats column. */
  final case class CommitInfo(version: Int, timestampMs: Long, form: String,
                              partitionsTouched: Seq[String],
                              filesAdded: Int, filesRemoved: Int,
                              rowsAdded: Option[Long],
                              dvFilesAdded: Int = 0)

  /** The table's commit history, oldest first — `DESCRIBE HISTORY`
    * for this store, derived (never stored): audit/debug surface for
    * "what changed when", and the substrate for [[versionAsOf]]
    * timestamp travel. Vacuumed versions disappear from history the
    * same way their snapshots do. */
  def history(path: String): Seq[CommitInfo] =
    (1 to currentVersion(path)).filter(v => mlistFile(path, v).exists()).map { v =>
      val m = readMlist(path, v)
      val files = filesAsOf(path, v).toSet
      val prev = if (mlistFile(path, v - 1).exists()) filesAsOf(path, v - 1).toSet
                 else Set.empty[String]
      val added = files -- prev
      val mintedHere = s"-v$v-[0-9a-f]+\\.pmanifest$$".r
      val touched = m.parts.filter(p =>
        mintedHere.findFirstIn(p.pmanifest).nonEmpty)
      val rows = if (m.statsCols.isEmpty) None else Some(
        touched.flatMap(p => readPmanifestEntries(path, p.pmanifest))
          .filter(e => added.contains(e.file))
          .flatMap(_.rows).sum)
      // delete-vector sidecars added at this version: distinguishes
      // a merge-on-read commit (rows retracted!) from a genuinely
      // metadata-only one in the audit surface
      val dvPrev = deleteVectorsAsOf(path, v - 1).toSet
      val dvAdded = deleteVectorsAsOf(path, v).count(!dvPrev.contains(_))
      CommitInfo(v, mlistFile(path, v).lastModified(),
        if (m.partCol.isEmpty) "flat" else "partitioned",
        if (m.partCol.isEmpty) Nil else touched.map(_.value),
        added.size, (prev -- files).size, rows, dvAdded)
    }

  /** The rows ADDED in versions (fromV, toV] — the incremental read
    * an append-only consumer wants ("give me what landed since my
    * last checkpoint") without replaying the whole table: the scan
    * covers exactly the file-list delta, so its cost is O(new data)
    * regardless of table size. Only sound over append-only ranges —
    * an overwrite/compaction inside the range rewrote history rather
    * than appending to it, so the delta would mix rewritten copies
    * with retractions this API cannot express; such ranges are
    * REFUSED (the caller re-reads a snapshot instead, the same
    * contract as Delta's startingVersion streaming read). */
  def readChanges(spark: SparkSession, path: String,
                  fromV: Int, toV: Int): DataFrame = {
    require(fromV >= 0 && toV > fromV, s"bad version range ($fromV, $toV]")
    val h = history(path).filter(c => c.version > fromV && c.version <= toV)
    require(h.map(_.version).toSet == (fromV + 1 to toV).toSet,
      s"versions in ($fromV, $toV] are not all retained")
    val rewrote = h.filter(_.filesRemoved > 0).map(_.version)
    require(rewrote.isEmpty,
      s"versions $rewrote overwrote or compacted files — the range is not " +
        "append-only; read a snapshot instead of a delta")
    // a merge-on-read delete changes no data files but retracts rows —
    // equally non-append-only, detected by its delete-vector delta
    val vectored = (fromV + 1 to toV).filter { v =>
      val prev = if (v == 1) Set.empty[String]
                 else deleteVectorsAsOf(path, v - 1).toSet
      deleteVectorsAsOf(path, v).toSet != prev
    }
    require(vectored.isEmpty,
      s"versions $vectored published delete vectors — the range is not " +
        "append-only; read a snapshot instead of a delta")
    val before = if (fromV == 0) Set.empty[String]
                 else filesAsOf(path, fromV).toSet
    val added = filesAsOf(path, toV).filterNot(before)
    require(added.nonEmpty, s"no files were added in ($fromV, $toV]")
    readVersionFiles(spark, path, toV, added).get
  }

  /** The latest version committed at or before `tsMs` — timestamp
    * time travel: `readAsOf(spark, path, versionAsOf(path, t))` is
    * the table as the indexer had published it at time t. */
  def versionAsOf(path: String, tsMs: Long): Int = {
    val vs = history(path).filter(_.timestampMs <= tsMs)
    require(vs.nonEmpty,
      s"no committed version at or before $tsMs (earliest retained: " +
        s"${history(path).headOption.map(_.timestampMs)})")
    vs.map(_.version).max
  }

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")

  /** Commit `df` at an EXPLICIT version `v` over `v − 1`: its rows
    * land in their partitions of `partCol` (None: the one entry of an
    * unpartitioned table), and [[publishList]] publishes the list.
    * Carried state derives from v−1 (deterministic,
    * replay-independent), which is what makes the streaming recommit
    * path idempotent. */
  private def commitPartitionedAt(df: DataFrame, path: String,
                                  partCol: Option[String],
                                  v: Int, replaceTouched: Boolean,
                                  statsCol: Option[String] = None,
                                  replayable: Boolean = false,
                                  removedFiles: Set[String] = Set.empty,
                                  allowEvolution: Boolean = false,
                                  schemaOverride: Option[
                                    org.apache.spark.sql.types.StructType]
                                    = None,
                                  bloomCol: Option[String] = None,
                                  extraDvs: Seq[String] = Nil,
                                  dropDvs: Boolean = false,
                                  replaceAll: Boolean = false,
                                  retryDisjoint: Boolean = false): Int = {
    val prev = v - 1
    require(!retryDisjoint || (removedFiles.isEmpty && extraDvs.isEmpty &&
      !dropDvs && !replaceAll && !replayable && schemaOverride.isEmpty),
      "auto-rebase retry is sound only for pure appends")
    for (c <- partCol)
      require(df.columns.contains(c), s"the frame has no partition column " +
        s"$c — the table at $path is partitioned by $c")
    // logical schema (partition column included) enforced/evolved
    // against v−1; the rewrite paths pass the current schema through
    val schema = schemaOverride.getOrElse(
      evolvedSchema(df.sparkSession, path, prev, df.schema, allowEvolution))
    if (!replayable && !retryDisjoint)
      require(!mlistFile(path, v).exists(),
        s"version $v already published — concurrent writer? (the exclusive " +
          "mlist publish is the authoritative check; this is the cheap " +
          "fail-fast before the data write; retryDisjoint commits skip " +
          "it — their publish loop re-bases instead)")
    val partType = partCol.fold("")(c => df.schema(c).dataType.catalogString)
    // attempt-unique dir: a torn earlier attempt at this version (or a
    // concurrent one) left ITS OWN dir — never clobbered, never
    // clobbering; unpublished attempts are invisible vacuum debris.
    // partitionBy lays the files out as <commit>/<partCol>=<value>/…
    val commitRel = s"data/commit-$v-${attemptId()}"
    val writer = df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
    partCol.fold(writer)(writer.partitionBy(_)).parquet(s"$path/$commitRel")
    val dirs = partCol match {
      case None => Seq("" -> commitRel)
      case Some(c) =>
        Option(new File(path, commitRel).listFiles()).getOrElse(Array.empty)
          .toSeq.filter(f => f.isDirectory && f.getName.startsWith(c + "="))
          .map(d => d.getName.stripPrefix(c + "=") -> s"$commitRel/${d.getName}")
    }
    val touched = dirs.map { case (value, rel) => value -> listParquet(path, rel) }
      .filter(_._2.nonEmpty).toMap
    def publish(prevV: Int, targetV: Int): Int = {
      val pubSchema =
        if (prevV == prev) schema
        else schemaOverride.getOrElse(evolvedSchema(df.sparkSession, path,
          prevV, df.schema, allowEvolution))
      publishList(df.sparkSession, path, partCol, partType, prevV, targetV,
        pubSchema, touched, replaceTouched, replaceAll, removedFiles,
        statsCol = statsCol, bloomCol = bloomCol, extraDvs = extraDvs,
        dropDvs = dropDvs, replayable = replayable)
    }

    if (!retryDisjoint) publish(prev, v)
    else {
      // optimistic-commit auto-retry (Iceberg's re-base): a loser
      // whose partitions are DISJOINT from every winner's re-bases
      // its manifest list on the new head and publishes the next
      // version — data files are already on disk and base-independent,
      // so the retry is metadata-only (plus the bloom read-back, re-run
      // per attempt; retries are rare). A winner that touched one of
      // OUR partitions stays a loud loser: merging two appends into one
      // partition would need line-level union this protocol reserves
      // for single writers.
      var basePrev = prev
      var target = v
      var tries = 0
      var done = -1
      while (done < 0) {
        try done = publish(basePrev, target)
        catch {
          case e: java.util.ConcurrentModificationException =>
            tries += 1
            if (tries > MaxCommitRetries) throw e
            val cur = currentVersion(path)
            if (cur < target) throw e
            val newParts = readMlist(path, cur).parts
              .map(p => p.value -> p.pmanifest).toMap
            val oldParts =
              if (basePrev == 0) Map.empty[String, String]
              else readMlist(path, basePrev).parts
                .map(p => p.value -> p.pmanifest).toMap
            val conflicted = touched.keySet
              .filter(vl => oldParts.get(vl) != newParts.get(vl))
            if (conflicted.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                "concurrent commit touched partition(s) " +
                  s"${conflicted.toSeq.sorted.mkString(", ")} of this " +
                  "append — same-partition conflicts cannot auto-rebase; " +
                  "re-read the table and retry")
            basePrev = cur
            target = cur + 1
        }
      }
      done
    }
  }

  /** Publish version `targetV` over `prevV` — the one publish of
    * every commit, data-writing or metadata-only. `added` maps
    * partition values to their new data files; each partition it
    * touches gets a NEW per-partition manifest (v's carried lines,
    * unless `replaceTouched`, plus the added files with
    * footer-harvested stats and bloom fingerprints when the table
    * declares them), while every untouched partition is carried by
    * reference. `removedFiles` are struck from the carried lines
    * (re-minting only their partitions; an emptied partition leaves
    * the list), `droppedParts` leave the list whole, and `replaceAll`
    * carries no partition at all. Delete-vector lines ride along
    * unless `dropDvs` or `replaceAll`; `extraDvs` adds new ones. The
    * schema is recorded before the list, whose write is
    * create-exclusive unless `replayable` (a batch replay republishes
    * its version). */
  private def publishList(spark: SparkSession, path: String,
                          partCol: Option[String],
                          partType: String, prevV: Int, targetV: Int,
                          schema: org.apache.spark.sql.types.StructType,
                          added: Map[String, Seq[String]] = Map.empty,
                          replaceTouched: Boolean = false,
                          replaceAll: Boolean = false,
                          removedFiles: Set[String] = Set.empty,
                          droppedParts: Set[String] = Set.empty,
                          statsCol: Option[String] = None,
                          bloomCol: Option[String] = None,
                          extraDvs: Seq[String] = Nil,
                          dropDvs: Boolean = false,
                          replayable: Boolean = false): Int = {
    if (!replayable && mlistFile(path, targetV).exists())
      throw new java.util.ConcurrentModificationException(
        s"version $targetV already published — a concurrent writer won " +
          "this version; this attempt's files are unreferenced debris")
    val prevMl = if (prevV == 0) None else Some(readMlist(path, prevV))
    for (pm <- prevMl)
      require(pm.partCol == partCol,
        s"table is partitioned by ${pm.partCol.getOrElse("nothing")}, " +
          s"not ${partCol.getOrElse("nothing")}")
    // the stats columns (comma-joined for more than one — per-column
    // file stats, Iceberg shape) and the bloom column are TABLE
    // properties: declared by the write that creates the table,
    // inherited afterwards ([[layoutAt]] refuses a disagreeing one),
    // so carried lines' stats stay meaningful
    val effStats = prevMl.fold(statsCol.map(_.split(",").toSeq).getOrElse(Nil))(
      _.statsCols)
    val effBloom = prevMl.fold(bloomCol)(_.bloomCol)
    require(effBloom.isEmpty || effBloom != partCol,
      "the bloom column must be a data column (the partition column " +
        "already prunes at the manifest-list level)")
    // per-file bloom fingerprints of the commit's OWN new files: one
    // read-back job over O(new data), grouped by file — each sketch
    // sized from the commit's largest file (~16 bits/key, capped) so
    // a point probe's false-positive rate stays low without per-file
    // sizing machinery. Any failure degrades to "no fingerprint"
    // (files without one are always kept), never a failed commit.
    val addedRels = added.values.flatten.toSeq.sorted
    val blooms: Map[String, Array[Byte]] =
      if (effBloom.isEmpty || addedRels.isEmpty) Map.empty
      else try {
        val bcol = effBloom.get
        val maxRows = addedRels
          .flatMap(r => footerRowCount(spark, new File(path, r)))
          .foldLeft(0L)(math.max)
        val numBits = math.min(1L << 20,
          math.max(1024L, ((16 * maxRows + 63) / 64) * 64)).toInt
        import org.apache.spark.sql.functions.{col, input_file_name, xxhash64}
        val perFile = spark.read
          .parquet(addedRels.map(r => s"$path/$r"): _*)
          .select(input_file_name().as("__f"), col(bcol))
          .groupBy(col("__f"))
          .agg(graft.functions.BloomExprs.bloom_agg(
            xxhash64(col(bcol)), numBits, 7).as("__b"))
          .collect()
        perFile.flatMap { row =>
          val abs = row.getString(0)
          // absolute URI → the commit-relative path (file names can
          // repeat across partition dirs, so match the full suffix)
          addedRels.find(rel => abs.endsWith(rel))
            .map(_ -> row.getAs[Array[Byte]](1))
        }.toMap
      } catch { case _: Throwable => Map.empty }
    // pmanifests land BEFORE the list publish: a crash in between
    // leaves them orphaned and invisible, same as data files.
    // Attempt-unique names: racing writers (or a retry over torn
    // debris) mint disjoint pmanifests, so nothing a published mlist
    // references can ever be overwritten.
    def mint(value: String, lines: Seq[String]): PartEntry = {
      val name = s"p-${enc(value)}-v$targetV-${attemptId()}.pmanifest"
      writeAtomic(new File(manifestDir(path), name), lines.sorted.mkString("\n"))
      PartEntry(value, name)
    }
    // a carried pmanifest LINE's leading field is its file; a
    // row-level delete strikes removed files from carried lines while
    // the stats fields of the surviving lines ride along verbatim
    def struck(l: String): Boolean = removedFiles.contains(l.split("\t", 2)(0))
    val prevParts: Map[String, PartEntry] =
      if (replaceAll) Map.empty
      else prevMl.fold(Map.empty[String, PartEntry])(
        _.parts.map(p => p.value -> p).toMap) -- droppedParts
    val entries = (prevParts.keySet ++ added.keySet).toSeq.sorted.flatMap { value =>
      added.get(value) match {
        case None if removedFiles.isEmpty => prevParts.get(value) // by reference
        case None =>
          val p = prevParts(value)
          val lines = readPmanifestLines(path, p.pmanifest)
          val kept = lines.filterNot(struck)
          if (kept.size == lines.size) Some(p)
          else if (kept.isEmpty) None // every file deleted: partition gone
          else Some(mint(value, kept))
        case Some(files) =>
          val addedLines = files.map { rel =>
            // all-or-nothing per line: bounds must cover EVERY
            // declared column or the line stays bare (conservative)
            val per = effStats.map(c => footerStats(spark, new File(path, rel), c))
            val base = if (per.nonEmpty && per.forall(_.isDefined)) {
              val rows = per.head.get._1
              val bounds = per.flatten.map { case (_, mn, mx) => s"$mn\t$mx" }
              s"$rel\t$rows\t${bounds.mkString("\t")}"
            } else rel
            blooms.get(rel).fold(base)(b =>
              s"$base\tB:${java.util.Base64.getEncoder.encodeToString(b)}")
          }
          val kept = if (replaceTouched) Nil else prevParts.get(value).toSeq
            .flatMap(p => readPmanifestLines(path, p.pmanifest)).filterNot(struck)
          Some(mint(value, kept ++ addedLines))
      }
    }
    val header = (("#part" +: partCol.toSeq.flatMap(Seq(_, partType))) ++
      (if (effStats.isEmpty && effBloom.isEmpty) Nil
       else effStats.mkString(",") +: effBloom.toSeq)).mkString("\t")
    // delete-vector lines are a table property carried verbatim: a
    // partition rewrite leaves its vector rows inert (path-keyed),
    // other partitions' vectors must keep guarding their files
    val dvLines =
      ((if (dropDvs || replaceAll) Nil else prevMl.fold(Seq.empty[String])(_.dvs)) ++
        extraDvs).map(d => s"#dv\t$d")
    val body = (header +:
      (entries.map(e => s"${e.value}\t${e.pmanifest}") ++ dvLines))
      .mkString("\n")
    // schema lands BEFORE the version pointer: a crash in between
    // leaves an orphaned .schema file for an unpublished version —
    // invisible (readers resolve versions through the pointer) and
    // reclaimed by vacuum like any other debris
    recordSchema(path, targetV, schema)
    // the one contended write: create-exclusive unless a batch replay
    writeAtomic(mlistFile(path, targetV), body, replace = replayable)
    targetV
  }

  /** Bounded re-base attempts for [[commitPartitionedAt]]'s
    * disjoint-append retry — past this, contention is pathological
    * and the loud loser is the right answer. */
  private val MaxCommitRetries = 5

  /** Open `file`'s parquet footer with the session's Hadoop
    * configuration: the settings Spark wrote the file with, parsed
    * once per session rather than once per probed data file. */
  private def openFooter(spark: SparkSession, file: File)
      : org.apache.parquet.hadoop.ParquetFileReader = {
    val conf = spark.sparkContext.hadoopConfiguration
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toURI), conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
  }

  /** Total row count from the parquet footer — sketch-sizing input
    * for the bloom fingerprints and the dead-row denominator for
    * [[reorgVectored]]; None on any surprise. */
  private def footerRowCount(spark: SparkSession, file: File): Option[Long] =
    try {
      val r = openFooter(spark, file)
      try Some(r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
      finally r.close()
    } catch { case _: Throwable => None }

  /** Row count summed over a commit's OWN freshly-written sidecar
    * parts. Unlike the advisory [[footerRowCount]] uses (sketch
    * sizing, fold ratios), this one decides whether a delete/merge
    * matched anything — so a footer read failure fails LOUDLY: the
    * graceful `None → 0` degradation would silently turn a real
    * delete into a no-op commit. */
  private def sidecarRowCount(spark: SparkSession, path: String,
                              parts: Seq[String]): Long =
    parts.map { p =>
      footerRowCount(spark, new File(path, p)).getOrElse(sys.error(
        s"cannot read footer of freshly-written sidecar $p — refusing " +
          "to treat the mutation as a no-op"))
    }.sum

  /** Per-file (rowCount, min, max) of `column`, harvested from the
    * parquet FOOTER the writer already produced — metadata-only, no
    * data read. None (= "no stats recorded, always keep the file")
    * when the column is absent, non-numeric, all-null, or anything
    * about the footer surprises us: stats can only ever PRUNE, so the
    * safe failure mode is silence, not a failed commit. */
  private def footerStats(spark: SparkSession, file: File,
                          column: String): Option[(Long, Double, Double)] =
    try {
      val r = openFooter(spark, file)
      try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == column)
        def num(v: Any): Option[Double] = v match {
          case n: java.lang.Number => Some(n.doubleValue)
          case _ => None
        }
        val bounds = chunks.map { c =>
          val s = c.getStatistics
          if (s == null || !s.hasNonNullValue) None
          else for (mn <- num(s.genericGetMin); mx <- num(s.genericGetMax))
            yield (mn, mx)
        }
        if (bounds.isEmpty || bounds.exists(_.isEmpty)) None
        else {
          val bs = bounds.flatten
          Some((rows, bs.map(_._1).min, bs.map(_._2).max))
        }
      } finally r.close()
    } catch { case _: Throwable => None }

  /** Atomic metadata write. `replace = false` is the optimistic-commit
    * CAS: the rename is create-exclusive, so of two writers racing to
    * publish the same version exactly one wins and the loser fails
    * LOUDLY here (its attempt-unique data files and pmanifests are
    * already invisible debris for vacuum) instead of silently
    * rewriting published history. The tmp name is attempt-unique too,
    * so racers never truncate each other's staging file. */
  private def writeAtomic(target: File, body: String,
                          replace: Boolean = true): Unit = {
    target.getParentFile.mkdirs()
    val tmp = new File(target.getParentFile,
      target.getName + "." + attemptId() + ".tmp")
    Files.write(tmp.toPath, body.getBytes("UTF-8"))
    try {
      if (replace)
        Files.move(tmp.toPath, target.toPath,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      else
        // POSIX rename(2) — what ATOMIC_MOVE maps to — silently
        // replaces, so the exclusive publish uses link(2) instead:
        // hard-linking the fully-written tmp to the target fails
        // atomically with EEXIST when someone else already published
        try { Files.createLink(target.toPath, tmp.toPath); () }
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.util.ConcurrentModificationException(
            s"${target.getName} already published — a concurrent writer won " +
              "this version; this attempt's files are unreferenced debris " +
              "(vacuum removes them); re-read the table and retry")
        }
    } finally { Files.deleteIfExists(tmp.toPath); () }
  }

  /** Unique per commit attempt — data dirs, pmanifests and staging
    * files embed it so concurrent attempts (or a retry after a torn
    * crash) never collide on a path; only the version POINTER
    * (manifest/mlist) is contended, and [[writeAtomic]]'s exclusive
    * rename decides that race atomically. */
  private def attemptId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** Delete manifests older than the last `keepVersions` and every
    * data file no retained manifest references. Never touches files a
    * retained snapshot can still resolve. Returns deleted paths
    * (table-relative). */
  /** [[vacuum]] with a TIME-based retention bound (Iceberg's
    * `expireSnapshots(olderThan)` / Delta's retention window):
    * retain every version committed AT OR AFTER `cutoffMillis` — and
    * always the current one — then vacuum the rest. Commit times are
    * [[history]]'s manifest mtimes, the same clock `timestampAsOf`
    * time travel resolves against, so "what vacuum keeps" and "what
    * time travel can still reach" agree by construction. */
  def vacuumOlderThan(path: String, cutoffMillis: Long): Seq[String] = {
    val cur = currentVersion(path)
    require(cur > 0, s"nothing to vacuum at $path")
    val firstKept = history(path)
      .filter(_.timestampMs >= cutoffMillis)
      .map(_.version).minOption
      .getOrElse(cur)
    vacuum(path, keepVersions = cur - firstKept + 1)
  }

  def vacuum(path: String, keepVersions: Int): Seq[String] = {
    require(keepVersions >= 1, "must retain at least the current version")
    val cur = currentVersion(path)
    val cutoff = cur - keepVersions + 1
    val retainedVs = (cutoff to cur).filter(v => mlistFile(path, v).exists())
    val retained = retainedVs.flatMap(v =>
      filesAsOf(path, v) ++ deleteVectorsAsOf(path, v)).toSet
    // pmanifests any retained manifest list still references must
    // survive — a list carries old versions' pmanifests by reference
    val retainedPms = retainedVs
      .flatMap(v => readMlist(path, v).parts.map(_.pmanifest)).toSet
    val dataRoot = new File(path, "data")
    // walk commit dirs recursively: unpartitioned commits keep files one level
    // deep, partitioned commits nest them under <partCol>=<value>/
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    def rel(f: File): String =
      dataRoot.toPath.getParent.relativize(f.toPath).toString
    val live = Option(dataRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).flatMap(walk)
      .filter(_.getName.endsWith(".parquet"))
    val doomed = live.filterNot(f => retained.contains(rel(f)))
    doomed.foreach(f => f.delete(): Unit)
    // drop now-empty commit dirs (and partition subdirs) bottom-up
    def prune(d: File): Unit = {
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).foreach(prune)
      val left = Option(d.listFiles()).getOrElse(Array.empty)
      if (left.forall(!_.getName.endsWith(".parquet"))) {
        left.filterNot(_.isDirectory).foreach(_.delete())
        if (Option(d.listFiles()).getOrElse(Array.empty).isEmpty)
          d.delete(): Unit
      }
    }
    Option(dataRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).foreach(prune)
    // expired manifest lists and any pmanifest no
    // retained manifest list still references
    Option(manifestDir(path).list()).getOrElse(Array.empty)
      .collect {
        case n @ MlistRe(v) if v.toInt < cutoff => n
        // expired schema files (a torn-commit orphan at cur+1 is NOT
        // reclaimed here — commits write the schema BEFORE the version
        // pointer, so an in-flight commit's schema must survive a
        // concurrent vacuum; the orphan expires once versions pass it)
        case n @ SchemaRe(v) if v.toInt < cutoff => n
        case n if n.endsWith(".pmanifest") && !retainedPms.contains(n) => n
      }
      .foreach(n => new File(manifestDir(path), n).delete(): Unit)
    doomed.map(rel).toSeq
  }
}

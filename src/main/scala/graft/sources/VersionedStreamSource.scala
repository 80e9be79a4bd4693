package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graft.StreamShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** The versioned store as a STRUCTURED STREAMING SOURCE — Delta's
  * `startingVersion` streaming read, on this store's manifests:
  *
  * {{{
  *   spark.readStream.format("graft-versioned")
  *     .option("path", table)
  *     .option("startingVersion", "latest" | "snapshot" | "<n>")
  *     .load()
  * }}}
  *
  * Offsets ARE table versions (checkpointed as LongOffset), and a
  * micro-batch (fromV, toV] plans exactly the per-version file-list
  * deltas — O(new data) regardless of table size, the incremental-
  * consumer seam ([[VersionedStore.readChanges]]) lifted into the
  * engine's own replay/checkpoint machinery: downstream dedup/index/
  * backfill jobs tail the warehouse table with exactly-once batch
  * delivery instead of managing their own "what landed since my
  * checkpoint" bookkeeping.
  *
  * startingVersion:
  *  - `latest` (default) — only commits AFTER stream start.
  *  - `snapshot` — first batch is the full table as of stream start
  *    (the bootstrap read riding the same checkpoint), then deltas.
  *  - `<n>` — deltas since version n (exclusive); requires versions
  *    (n, …] retained and append-only.
  *
  * Rewrite versions (compaction / overwrite / dynamic-partition
  * overwrite: `filesRemoved > 0`) are NOT append-only — their delta
  * would mix rewritten copies of old rows with retractions a stream
  * cannot express — so a batch covering one FAILS loudly (Delta's
  * contract). `skipRewrites=true` opts into skipping those versions
  * whole: sound for compaction (logically identical rows), and for
  * overwrites it means the stream intentionally carries only the
  * append-shaped history (documented under-delivery, the caller's
  * explicit choice).
  *
  * V1 Source (the FileStreamSource API): `getBatch` returns the
  * batch as a DataFrame built from manifest-listed parquet files, so
  * the whole read path — schema, pruning, codegen — is the ordinary
  * parquet scan; the source itself is metadata-only. Each batch reads
  * through [[VersionedStore.readVersionFiles]] with a streaming scan,
  * so partition values of partitioned tables are reattached exactly
  * as [[VersionedStore.readChanges]] reattaches them. */
class VersionedStreamSource(spark: SparkSession, path: String,
                            override val schema: StructType,
                            startVersion: Int, snapshotFirst: Boolean,
                            skipRewrites: Boolean) extends Source {

  // the table's snapshot schema at stream start: every batch scans
  // its files under it (pre-evolution files null-fill)
  private val tableSchema: StructType =
    VersionedStreamSource.fullSchemaOf(spark, path)

  override def getOffset: Option[Offset] = {
    val v = VersionedStore.currentVersion(path)
    // nothing to emit yet: before the first commit past the start
    // point (except snapshot mode, whose first batch is the snapshot)
    if (v > startVersion || (snapshotFirst && v > 0)) Some(LongOffset(v))
    else None
  }

  private def toV(o: Offset): Int = (o match {
    case LongOffset(l) => l
    case SerializedOffset(json) => json.trim.toLong
    case other => other.json().trim.toLong
  }).toInt

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = toV(end)
    val fromV = start.map(toV).getOrElse(startVersion)
    if (start.isEmpty && snapshotFirst) {
      // bootstrap: the full table as of the first offset, riding the
      // same checkpoint as the deltas that follow — delete vectors
      // subtracted (stream-static anti-join, static broadcast side;
      // each scan stamped BEFORE any union, subtracted once after)
      val dvs = VersionedStore.deleteVectorsAsOf(path, endV)
      scanFiles(endV, VersionedStore.filesAsOf(path, endV),
          stamp = dvs.nonEmpty)
        .map(df => if (dvs.isEmpty) df
                   else VersionedStore.subtractStamped(spark, path, df, dvs))
        .getOrElse(StreamShim.emptyStreaming(spark, schema))
    } else if (endV <= fromV) {
      StreamShim.emptyStreaming(spark, schema)
    } else {
      // per-version walk (not one end-minus-start diff): rewrite
      // versions must be detected — and skippable — individually.
      // A version that removed files OR published delete vectors
      // retracted rows an append-only stream cannot express.
      val perV = (fromV + 1 to endV).map { v =>
        val prev = if (v == 1) Set.empty[String]
                   else VersionedStore.filesAsOf(path, v - 1).toSet
        val cur = VersionedStore.filesAsOf(path, v).toSet
        val dvPrev = if (v == 1) Set.empty[String]
                     else VersionedStore.deleteVectorsAsOf(path, v - 1).toSet
        val dvChanged =
          VersionedStore.deleteVectorsAsOf(path, v).toSet != dvPrev
        (v, (cur -- prev).toSeq.sorted, (prev -- cur).nonEmpty || dvChanged)
      }
      val rewrote = perV.collect { case (v, _, true) => v }
      if (rewrote.nonEmpty && !skipRewrites)
        throw new IllegalStateException(
          s"versions ${rewrote.mkString(",")} of $path rewrote files " +
            "(compaction/overwrite) or published delete vectors — not an " +
            "append-only range; set skipRewrites=true to stream past them " +
            "or restart from a snapshot")
      // each version's files resolve through ITS OWN mlist: with
      // skipRewrites a file added at v1 and removed by a skipped
      // rewrite later in the same batch range is absent from endV's
      // manifests, but must still be delivered from its original
      // file — the rewrite only re-homed rows this stream already
      // carries from the append version
      perV.collect { case (v, add, false) => scanFiles(v, add) }.flatten
        .reduceOption(_.unionByName(_))
        .getOrElse(StreamShim.emptyStreaming(spark, schema))
    }
  }

  /** Version `v`'s `files` as one streaming plan (None when there are
    * none), read through the store's file-delta reader; `stamp`
    * attaches the delete-vector key to each scan. */
  private def scanFiles(v: Int, files: Seq[String],
                        stamp: Boolean = false): Option[DataFrame] = {
    // a file removed by a SKIPPED rewrite and then vacuumed is gone
    // for good — its rows were re-homed into files this stream
    // deliberately skips. Fail with the actionable remedy instead of
    // a deep FileNotFoundException from the parquet reader.
    val vacuumed = files.filterNot(f => new java.io.File(path, f).exists())
    if (vacuumed.nonEmpty)
      throw new IllegalStateException(
        s"batch file(s) of $path no longer exist (vacuumed after a " +
          s"skipped rewrite): ${vacuumed.take(3).mkString(", ")}" +
          (if (vacuumed.size > 3) s" (+${vacuumed.size - 3} more)" else "") +
          " — restart the stream from startingVersion=snapshot")
    VersionedStore.readVersionFiles(spark, path, v, files, Some(tableSchema),
      perScan = if (stamp) VersionedStore.withMeta else identity,
      // the source always scans under its table schema
      scan = (s, fs, sch) => StreamShim.streamingParquet(s, fs, sch.get))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object VersionedStreamSource {
  /** The current snapshot's schema — the recorded one, with a
    * partitioned table's partition column last, as every batch
    * carries it. */
  private[sources] def fullSchemaOf(spark: SparkSession,
                                    path: String): StructType = {
    val v = VersionedStore.currentVersion(path)
    require(v > 0, s"cannot stream from an empty versioned table: $path")
    VersionedStore.snapshotRelation(spark, path, v).schema
  }
}

/** `format("graft-versioned")` registration (DataSourceRegister via
  * META-INF/services, like every Spark file format).
  *
  * Batch read — time travel through the STANDARD reader API (Delta's
  * surface): `spark.read.format("graft-versioned").option("path", t)`
  * reads the current snapshot; `.option("versionAsOf", n)` pins a
  * version; `.option("timestampAsOf", millis | ISO-8601 instant)`
  * resolves the version live at that wall-clock instant. All three
  * serve [[VersionedStore.snapshotRelation]] — the Catalyst-
  * integrated FileIndex scan, so WHERE-driven partition and
  * file-stats pruning apply regardless of entry point.
  *
  * Stream read — [[VersionedStreamSource]] (same format name, the
  * engine picks the side from readStream vs read). */
class VersionedSourceProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.RelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-versioned requires .option(\"path\", <table>) or .load(<table>)"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val v = (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "versionAsOf and timestampAsOf are mutually exclusive")
      case (Some(n), None) => n.toInt
      case (None, Some(ts)) =>
        val millis = ts.toLongOption.getOrElse(
          java.time.Instant.parse(ts).toEpochMilli)
        VersionedStore.versionAsOf(path, millis)
      case (None, None) => VersionedStore.currentVersion(path)
    }
    // a BaseRelation cannot carry the delete-vector anti-join, so a
    // vectored snapshot through this pure-relation surface would
    // silently resurrect deleted rows — refuse loudly instead; the
    // DataFrame API (VersionedStore.readAsOf / read) subtracts them,
    // and reorgVectored/compact fold them away for relation readers
    require(VersionedStore.deleteVectorsAsOf(path, v).isEmpty,
      s"version $v of $path carries delete vectors, which the " +
        "relation-based reader cannot subtract — read through " +
        "VersionedStore.readAsOf, or fold the vectors with " +
        "reorgVectored/compact first")
    VersionedStore.snapshotRelation(spark, path, v)
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), schema.getOrElse(VersionedStreamSource
      .fullSchemaOf(sqlContext.sparkSession, pathOf(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val starting = parameters.getOrElse("startingVersion", "latest")
    val cur = VersionedStore.currentVersion(path)
    val (startV, snap) = starting match {
      case "latest" => (cur, false)
      case "snapshot" => (0, true)
      case n => (n.toInt, false)
    }
    require(startV <= cur,
      s"startingVersion $startV is ahead of the table (version $cur)")
    new VersionedStreamSource(spark, path,
      schema.getOrElse(VersionedStreamSource.fullSchemaOf(spark, path)),
      startV, snap,
      parameters.getOrElse("skipRewrites", "false").toBoolean)
  }
}

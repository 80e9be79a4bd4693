package graft.sources

import java.io.File

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or, Predicate, XxHash64}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Catalyst-integrated snapshot scan for [[VersionedStore]]: instead
  * of a reader-side UNION of per-partition scans with pruning done by
  * hand through API parameters, the manifest metadata is
  * handed to Spark as a [[FileIndex]], so a snapshot read plans as
  * ONE `FileScan` whose partition pruning and file-level stats
  * pruning are driven by the QUERY'S OWN `WHERE` clause inside the
  * planner — `read.where($"month" === m && $"ts" >= t0)` touches one
  * partition's overlapping files with no store-specific API at the
  * call site. This is the Delta/Iceberg integration shape
  * (DeltaLog's TahoeFileIndex): the table format owns the metadata,
  * Spark owns the scan.
  *
  * What Catalyst hands us and what we do with it:
  *  - `partitionFilters` — predicates that reference only the
  *    partition column. Evaluated here against each manifest-list
  *    entry's partition VALUE; a rejected partition's per-partition
  *    manifest is never opened, preserving the hierarchical store's
  *    O(selected) metadata property.
  *  - `dataFilters` — predicates over data columns. Comparisons
  *    against the table's declared stats column tighten a [lo, hi]
  *    window; a file whose manifest (rows, min, max) cannot intersect
  *    it never enters the scan. Conservative by construction:
  *    unrecognized predicate shapes tighten nothing, stats-less lines
  *    are always kept. (Spark additionally applies the same filters
  *    as parquet row-group pushdown inside the scan — this level just
  *    keeps the FILES out of the plan, which is what matters when a
  *    month partition holds thousands of them.)
  *
  * Versions are immutable, so the index never refreshes: a pinned
  * index keeps resolving its snapshot regardless of later commits —
  * snapshot isolation at the plan level. An unpartitioned table's
  * list header names no partition column, so its one entry plans as
  * one listing under an empty partition schema.
  *
  * 100 TB note: file sizes come from one local `stat` per listed file
  * here; on an object store the pmanifest line should carry the
  * length (a writer-side field, same harvest as the stats) so
  * planning stays metadata-only. */
final class VersionedFileIndex(spark: SparkSession, table: String,
                               version: Int) extends FileIndex {

  private val ml: VersionedStore.Mlist =
    VersionedStore.readMlist(table, version)

  /** Every live data file of the version (table-relative). */
  private lazy val liveFiles: Seq[String] =
    VersionedStore.filesAsOf(table, version)

  override val partitionSchema: StructType = ml.partitionSchema

  /** Partition value string → an InternalRow of the partition schema
    * (the same lossless reattachment the file-delta reader does with
    * lit().cast, done once per partition at planning; empty when the
    * table is unpartitioned). */
  private def partValueRow(value: String): InternalRow = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    InternalRow.fromSeq(partitionSchema.map(f =>
      Cast(Literal(value), f.dataType, Some(tz)).eval(InternalRow.empty)))
  }

  private def status(rel: String): FileStatus = {
    val f = new File(table, rel)
    new FileStatus(f.length(), false, 1, 128L << 20, f.lastModified(),
      new HPath(f.toURI))
  }

  override def rootPaths: Seq[HPath] =
    Seq(new HPath(new File(table).toURI))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val selected = prunePartitions(ml.parts, partitionFilters)
    // one [lo, hi] window PER declared stats column; a file is
    // skipped when ANY column's recorded (min, max) cannot
    // intersect its window. Lines whose bounds don't cover the full
    // declaration (legacy / statless) are always kept.
    val windows = ml.statsCols.map(c => statsBounds(dataFilters, c))
    // each conjunct that is WHOLLY an equality/IN shape on the
    // declared bloom column yields a probe-hash set the file MUST
    // intersect; a fingerprinted file disproving every value of any
    // one set cannot hold a matching row
    val probes = ml.bloomCol.toSeq.flatMap(c =>
      dataFilters.flatMap(f => probeHashes(f, c)))
    selected.map { p =>
      val entries = VersionedStore.readPmanifestEntries(table, p.pmanifest)
      val kept = entries.filter { e =>
        val statsOk = windows.isEmpty ||
          e.bounds.size != windows.size ||
          e.bounds.zip(windows).forall {
            case ((mn, mx), (lo, hi)) => mx >= lo && mn <= hi }
        val bloomOk = e.bloom.isEmpty || probes.forall(set =>
          set.exists(h =>
            graft.functions.BloomExprs.contains(e.bloom.get, h)))
        statsOk && bloomOk
      }
      PartitionDirectory(partValueRow(p.value),
        kept.map(e => status(e.file)).toArray)
    }.filter(_.files.nonEmpty)
  }

  /** The probe-hash set a conjunct implies for the bloom column, when
    * the WHOLE conjunct is an equality / IN / OR-of-those on it —
    * `col = X` ⇒ {h(X)}, `col IN (…)` ⇒ their hashes, `a OR b` ⇒ the
    * union (the row satisfies one of them). None on any other shape:
    * no pruning — conservative, like the stats window. Hashes use the
    * same `xxhash64(value)` the commit-side fingerprint fed, with the
    * literal's post-analysis type (Catalyst has already coerced it to
    * the column type, so typed hashes agree). */
  private def probeHashes(e: Expression, col: String): Option[Seq[Long]] = {
    def h(l: Literal): Long =
      XxHash64(Seq(l), 42L).eval(InternalRow.empty).asInstanceOf[Long]
    e match {
      case EqualTo(a: AttributeReference, l: Literal) if a.name == col =>
        Some(Seq(h(l)))
      case EqualTo(l: Literal, a: AttributeReference) if a.name == col =>
        Some(Seq(h(l)))
      case In(a: AttributeReference, vs) if a.name == col &&
          vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.map(v => h(v.asInstanceOf[Literal])))
      case InSet(a: AttributeReference, vs) if a.name == col =>
        Some(vs.toSeq.map(v => h(Literal(v, a.dataType))))
      case Or(l, r) =>
        for (a <- probeHashes(l, col); b <- probeHashes(r, col))
          yield a ++ b
      case _ => None
    }
  }

  /** Evaluate the partition predicates against each entry's value —
    * the single partition column binds at ordinal 0 (Catalyst only
    * routes predicates referencing partition columns here). */
  private def prunePartitions(parts: Seq[VersionedStore.PartEntry],
                              filters: Seq[Expression])
      : Seq[VersionedStore.PartEntry] =
    if (filters.isEmpty) parts
    else {
      val bound = filters.reduce(And).transform {
        case _: AttributeReference =>
          BoundReference(0, partitionSchema.head.dataType, nullable = true)
      }
      val pred = Predicate.createInterpreted(bound)
      pred.initialize(0)
      parts.filter(p => pred.eval(partValueRow(p.value)))
    }

  /** The [lo, hi] window the data filters imply for the stats column.
    * Only plain comparisons against literals tighten it (both operand
    * orders); strict bounds are treated as inclusive, which can only
    * keep an extra file, never drop one. Numeric/timestamp literals
    * surface as java.lang.Number internally (timestamps as micros —
    * the same unit the parquet footers recorded). */
  private def statsBounds(filters: Seq[Expression],
                          col: String): (Double, Double) = {
    var lo = Double.NegativeInfinity
    var hi = Double.PositiveInfinity
    def num(l: Literal): Option[Double] = l.value match {
      case n: java.lang.Number => Some(n.doubleValue)
      case _ => None
    }
    def ge(l: Literal): Unit = num(l).foreach(v => lo = math.max(lo, v))
    def le(l: Literal): Unit = num(l).foreach(v => hi = math.min(hi, v))
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case GreaterThan(a: AttributeReference, l: Literal) if a.name == col => ge(l)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) if a.name == col => ge(l)
      case LessThan(a: AttributeReference, l: Literal) if a.name == col => le(l)
      case LessThanOrEqual(a: AttributeReference, l: Literal) if a.name == col => le(l)
      case EqualTo(a: AttributeReference, l: Literal) if a.name == col => ge(l); le(l)
      case GreaterThan(l: Literal, a: AttributeReference) if a.name == col => le(l)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) if a.name == col => le(l)
      case LessThan(l: Literal, a: AttributeReference) if a.name == col => ge(l)
      case LessThanOrEqual(l: Literal, a: AttributeReference) if a.name == col => ge(l)
      case EqualTo(l: Literal, a: AttributeReference) if a.name == col => ge(l); le(l)
      case _ => // unrecognized shape: no tightening — conservative
    }
    filters.foreach(visit)
    (lo, hi)
  }

  override def inputFiles: Array[String] =
    liveFiles.map(rel => new File(table, rel).toURI.toString).toArray

  override lazy val sizeInBytes: Long =
    liveFiles.map(rel => new File(table, rel).length()).sum

  /** Snapshots are immutable — nothing to refresh. */
  override def refresh(): Unit = ()
}

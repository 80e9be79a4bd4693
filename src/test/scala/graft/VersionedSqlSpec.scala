package graft

import graft.sources.{GraftDeleteCommand, GraftMergeCommand, GraftSqlParser, VersionedSqlTables, VersionedStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SQL DML surface for the versioned store (§2 follow-up to #156/#160):
  * `DELETE FROM` / `MERGE INTO` parse to graft commands on registered
  * names (everything else delegates), and the SQL path commits
  * row-for-row exactly what the Scala API commits — on a partitioned
  * table, in both copy-on-write and vectored modes. */
class VersionedSqlSpec extends SparkSpec {

  private def freshDir(): String = tempDir("vsql").toString

  private lazy val parser =
    new GraftSqlParser(spark, spark.sessionState.sqlParser)

  private def partTable(): String = {
    import spark.implicits._
    val path = freshDir()
    val df = (1L to 100L).map(i =>
      (i, s"n$i", if (i <= 50) "1996-01" else "1996-02"))
      .toDF("id", "name", "month")
    VersionedStore.append(df, path, partCol = Some("month"))
    path
  }

  private def rowsOf(path: String): Set[(Long, String, String)] =
    VersionedStore.read(spark, path).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[String]("month"))).toSet

  test("the parser intercepts DML on REGISTERED names only; the rest " +
    "of the SQL surface delegates verbatim") {
    val path = partTable()
    VersionedSqlTables.register(spark, "vsql_t1", path)
    assert(parser.parsePlan("DELETE FROM vsql_t1 WHERE id = 3")
      == GraftDeleteCommand("vsql_t1", Some("id = 3")))
    assert(parser.parsePlan("DELETE FROM vsql_t1")
      == GraftDeleteCommand("vsql_t1", None))
    assert(parser.parsePlan(
      """MERGE INTO vsql_t1 USING ups ON vsql_t1.id = ups.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      == GraftMergeCommand("vsql_t1", "ups", Seq("id")))
    // unregistered target: falls through to Spark's parser (whose own
    // plan shapes are not graft commands)
    val notOurs = parser.parsePlan("DELETE FROM unregistered_t WHERE id = 3")
    assert(!notOurs.isInstanceOf[GraftDeleteCommand])
    // ordinary queries untouched
    assert(parser.parsePlan("SELECT 1").resolved ||
      !parser.parsePlan("SELECT 1").isInstanceOf[GraftDeleteCommand])
    // non-equi ON refuses loudly instead of guessing keys
    intercept[RuntimeException] {
      parser.parsePlan(
        """MERGE INTO vsql_t1 USING ups ON vsql_t1.id > ups.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
  }

  test("SQL DELETE commits row-for-row what the API commits, COW and " +
    "vectored, on a partitioned table") {
    for (mode <- Seq("cow", "vectored")) {
      spark.conf.set("spark.graft.mutation.mode", mode)
      try {
        val sqlPath = partTable()
        val apiPath = partTable()
        VersionedSqlTables.register(spark, "vsql_del", sqlPath)
        val got = parser.parsePlan(
          "DELETE FROM vsql_del WHERE id % 7 = 0 AND month = '1996-01'")
          .asInstanceOf[GraftDeleteCommand].run(spark)
        val vApi =
          if (mode == "vectored")
            VersionedStore.deleteVectored(spark, apiPath,
              expr("id % 7 = 0 AND month = '1996-01'"))
          else VersionedStore.delete(spark, apiPath,
            expr("id % 7 = 0 AND month = '1996-01'"))
        assert(got.head.getInt(0) == 2 && vApi == 2,
          s"[$mode] both paths mint version 2")
        assert(rowsOf(sqlPath) == rowsOf(apiPath),
          s"[$mode] SQL path == API path row-for-row")
        assert(rowsOf(sqlPath).forall { case (id, _, m) =>
          !(id % 7 == 0 && m == "1996-01") },
          s"[$mode] the matched rows are gone")
        if (mode == "vectored")
          assert(VersionedStore.deleteVectorsAsOf(sqlPath, 2).nonEmpty,
            "vectored mode published a delete vector, not a rewrite")
      } finally spark.conf.unset("spark.graft.mutation.mode")
    }
  }

  test("SQL MERGE commits row-for-row what the API commits on a " +
    "partitioned table, COW and vectored, partition moves included") {
    import spark.implicits._
    for (mode <- Seq("cow", "vectored")) {
      spark.conf.set("spark.graft.mutation.mode", mode)
      try {
        val sqlPath = partTable()
        val apiPath = partTable()
        VersionedSqlTables.register(spark, "vsql_mrg", sqlPath)
        // update id=10 in place, MOVE id=60 to another month, insert 999
        val ups = Seq((10L, "TEN", "1996-01"), (60L, "MOVED", "1996-03"),
          (999L, "NEW", "1996-03")).toDF("id", "name", "month")
        ups.createOrReplaceTempView("vsql_ups")
        val got = parser.parsePlan(
          """MERGE INTO vsql_mrg USING vsql_ups ON vsql_mrg.id = vsql_ups.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          .asInstanceOf[GraftMergeCommand].run(spark)
        val vApi =
          if (mode == "vectored")
            VersionedStore.mergeVectored(spark, apiPath,
              ups, Seq("id"))
          else VersionedStore.merge(spark, apiPath, ups,
            Seq("id"))
        assert(got.head.getInt(0) == 2 && vApi == 2, s"[$mode]")
        assert(rowsOf(sqlPath) == rowsOf(apiPath),
          s"[$mode] SQL path == API path row-for-row")
        val byId = rowsOf(sqlPath).map(r => r._1 -> r).toMap
        assert(byId(10L) == ((10L, "TEN", "1996-01")), s"[$mode]")
        assert(byId(60L) == ((60L, "MOVED", "1996-03")),
          s"[$mode] partition move")
        assert(byId(999L) == ((999L, "NEW", "1996-03")), s"[$mode] insert")
        if (mode == "cow")
          assert(VersionedStore.deleteVectorsAsOf(sqlPath, 2).isEmpty,
            "COW merge publishes no delete vectors")
      } finally spark.conf.unset("spark.graft.mutation.mode")
    }
  }

  test("DESCRIBE HISTORY returns the commit audit rows, newest first") {
    import graft.sources.GraftHistoryCommand
    val path = partTable()                                     // v1
    VersionedStore.delete(spark, path,
      expr("id = 3"))                                          // v2
    VersionedSqlTables.register(spark, "vsql_hist", path)
    val plan = parser.parsePlan("DESCRIBE HISTORY vsql_hist")
    assert(plan == GraftHistoryCommand("vsql_hist"))
    val rows = plan.asInstanceOf[GraftHistoryCommand].run(spark)
    assert(rows.map(_.getInt(0)) == Seq(2, 1), "newest first")
    assert(rows.forall(_.getLong(1) > 0), "timestamps present")
    // unregistered name falls through to Spark's parser untouched
    assert(!parser.parsePlan("DESCRIBE HISTORY not_registered")
      .isInstanceOf[GraftHistoryCommand])
  }

  test("SQL DELETE and MERGE on a FLAT table honor the mode and match " +
    "the flat API") {
    import spark.implicits._
    for (mode <- Seq("cow", "vectored")) {
      spark.conf.set("spark.graft.mutation.mode", mode)
      try {
        val sqlPath = freshDir(); val apiPath = freshDir()
        val df = (1L to 40L).map(i => (i, s"n$i")).toDF("id", "name")
        VersionedStore.append(df, sqlPath)
        VersionedStore.append(df, apiPath)
        VersionedSqlTables.register(spark, "vsql_flat", sqlPath)
        parser.parsePlan("DELETE FROM vsql_flat WHERE id > 35")
          .asInstanceOf[GraftDeleteCommand].run(spark)
        if (mode == "vectored")
          VersionedStore.deleteVectored(spark, apiPath, expr("id > 35"))
        else VersionedStore.delete(spark, apiPath, expr("id > 35"))
        val ups = Seq((1L, "ONE"), (50L, "FIFTY")).toDF("id", "name")
        ups.createOrReplaceTempView("vsql_flat_ups")
        parser.parsePlan(
          """MERGE INTO vsql_flat USING vsql_flat_ups
            |ON vsql_flat.id = vsql_flat_ups.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          .asInstanceOf[GraftMergeCommand].run(spark)
        if (mode == "vectored")
          VersionedStore.mergeVectored(spark, apiPath, ups, Seq("id"))
        else VersionedStore.merge(spark, apiPath, ups, Seq("id"))
        def all(p: String) = VersionedStore.read(spark, p).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(all(sqlPath) == all(apiPath), s"[$mode] SQL == API")
        val want = Set((1L, "ONE"), (50L, "FIFTY")) ++
          (2L to 35L).map(i => (i, s"n$i"))
        assert(all(sqlPath) == want, s"[$mode] delete then merge exact")
      } finally spark.conf.unset("spark.graft.mutation.mode")
    }
  }

  test("ALTER TABLE DROP PARTITION: CH's partition drop parses to the " +
    "metadata-only expiry; unknown value no-ops; unregistered delegates") {
    import graft.sources.GraftDropPartitionCommand
    val path = partTable()
    VersionedSqlTables.register(spark, "vsql_drop", path)
    val ml1 = VersionedStore.readMlist(path, 1)
    val got = parser.parsePlan(
      "ALTER TABLE vsql_drop DROP PARTITION '1996-01'")
      .asInstanceOf[GraftDropPartitionCommand].run(spark)
    assert(got.head.getInt(0) == 2)
    val ml2 = VersionedStore.readMlist(path, 2)
    assert(ml2.parts == ml1.parts.filter(_.value == "1996-02"),
      "surviving entry carried verbatim — metadata-only commit")
    assert(rowsOf(path).forall(_._3 == "1996-02"))
    // unknown partition value: no commit minted
    assert(parser.parsePlan("ALTER TABLE vsql_drop DROP PARTITION '2099-12'")
      .asInstanceOf[GraftDropPartitionCommand].run(spark).head.getInt(0) == 2)
    // unregistered table falls through to Spark's parser
    assert(!parser.parsePlan("ALTER TABLE some_other DROP PARTITION (p=1)")
      .isInstanceOf[GraftDropPartitionCommand])
  }

  test("UPDATE parses in ANSI and ClickHouse spellings; unregistered " +
    "names delegate; top-level comma/WHERE splitting is paren-aware") {
    import graft.sources.GraftUpdateCommand
    val path = partTable()
    VersionedSqlTables.register(spark, "vsql_upp", path)
    assert(parser.parsePlan(
      "UPDATE vsql_upp SET name = 'x' WHERE id = 3")
      == GraftUpdateCommand("vsql_upp", Seq("name" -> "'x'"),
        Some("id = 3")))
    // commas inside a function call stay inside ONE assignment; the
    // WHERE inside a string literal is not the clause boundary
    assert(parser.parsePlan(
      "UPDATE vsql_upp SET name = concat(name, ',', 'WHERE') , id = id + 1")
      == GraftUpdateCommand("vsql_upp",
        Seq("name" -> "concat(name, ',', 'WHERE')", "id" -> "id + 1"),
        None))
    assert(parser.parsePlan(
      "ALTER TABLE vsql_upp UPDATE name = upper(name) WHERE id <= 5")
      == GraftUpdateCommand("vsql_upp", Seq("name" -> "upper(name)"),
        Some("id <= 5")))
    assert(!parser.parsePlan("UPDATE not_registered SET a = 1 WHERE b = 2")
      .isInstanceOf[GraftUpdateCommand])
  }

  test("SQL UPDATE commits row-for-row what the API commits on a FLAT " +
    "table, COW and vectored; SET evaluates against the OLD row") {
    import graft.sources.GraftUpdateCommand
    import spark.implicits._
    for (mode <- Seq("cow", "vectored")) {
      spark.conf.set("spark.graft.mutation.mode", mode)
      try {
        val sqlPath = freshDir(); val apiPath = freshDir()
        val df = (1L to 40L).map(i => (i, s"n$i")).toDF("id", "name")
        VersionedStore.append(df, sqlPath)
        VersionedStore.append(df, apiPath)
        VersionedSqlTables.register(spark, "vsql_upf", sqlPath)
        val got = parser.parsePlan(
          "UPDATE vsql_upf SET id = id + 1000, name = upper(name) " +
            "WHERE id % 5 = 0")
          .asInstanceOf[GraftUpdateCommand].run(spark)
        val sets = Seq("id" -> expr("id + 1000"),
          "name" -> expr("upper(name)"))
        val vApi =
          if (mode == "vectored")
            VersionedStore.updateVectored(spark, apiPath,
              expr("id % 5 = 0"), sets)
          else VersionedStore.update(spark, apiPath, expr("id % 5 = 0"), sets)
        assert(got.head.getInt(0) == 2 && vApi == 2,
          s"[$mode] both paths mint version 2")
        def all(p: String) = VersionedStore.read(spark, p).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(all(sqlPath) == all(apiPath), s"[$mode] SQL == API")
        val want = (1L to 40L).map(i =>
          if (i % 5 == 0) (i + 1000, s"N$i".toUpperCase)
          else (i, s"n$i")).toSet
        assert(all(sqlPath) == want,
          s"[$mode] matched rows projected (old-row semantics), rest " +
            "verbatim")
        if (mode == "vectored")
          assert(VersionedStore.deleteVectorsAsOf(sqlPath, 2).nonEmpty,
            "vectored UPDATE kills old rows by vector, not rewrite")
        // zero-match UPDATE mints nothing
        assert(parser.parsePlan("UPDATE vsql_upf SET name = 'z' WHERE id < 0")
          .asInstanceOf[GraftUpdateCommand].run(spark).head.getInt(0) == 2)
      } finally spark.conf.unset("spark.graft.mutation.mode")
    }
  }

  test("SQL UPDATE on a PARTITIONED table: COW and vectored match the " +
    "API; COW refuses partition-column SET; vectored moves partitions") {
    import graft.sources.GraftUpdateCommand
    for (mode <- Seq("cow", "vectored")) {
      spark.conf.set("spark.graft.mutation.mode", mode)
      try {
        val sqlPath = partTable(); val apiPath = partTable()
        VersionedSqlTables.register(spark, "vsql_upg", sqlPath)
        val got = parser.parsePlan(
          "UPDATE vsql_upg SET name = concat(name, '!') WHERE id <= 10")
          .asInstanceOf[GraftUpdateCommand].run(spark)
        val sets = Seq("name" -> expr("concat(name, '!')"))
        val vApi =
          if (mode == "vectored")
            VersionedStore.updateVectored(spark, apiPath,
              expr("id <= 10"), sets)
          else VersionedStore.update(spark, apiPath,
            expr("id <= 10"), sets)
        assert(got.head.getInt(0) == 2 && vApi == 2)
        assert(rowsOf(sqlPath) == rowsOf(apiPath), s"[$mode] SQL == API")
        assert(rowsOf(sqlPath) == (1L to 100L).map(i =>
          (i, if (i <= 10) s"n$i!" else s"n$i",
            if (i <= 50) "1996-01" else "1996-02")).toSet,
          s"[$mode] exact rows")
      } finally spark.conf.unset("spark.graft.mutation.mode")
    }
    // partition-moving SET: COW refuses loudly, vectored does it
    val cowPath = partTable()
    intercept[IllegalArgumentException] {
      VersionedStore.update(spark, cowPath, expr("id = 1"),
        Seq("month" -> expr("'1996-03'")))
    }
    val vecPath = partTable()
    VersionedStore.updateVectored(spark, vecPath,
      expr("id = 1"), Seq("month" -> expr("'1996-03'")))
    assert(rowsOf(vecPath).contains((1L, "n1", "1996-03")) &&
      !rowsOf(vecPath).exists(r => r._1 == 1L && r._3 == "1996-01"),
      "vectored UPDATE moved the row's partition")
  }
}

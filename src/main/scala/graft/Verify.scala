package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // plain disk tmpdir: the sf0.01 verify pass never hit the host's IO
    // throttle (that motivated Bench's tmpfs local dir), and the
    // correctness gate must carry zero tmpfs/RAM liability (VERDICT r5 §2)
    val spark = GraftSession.local(Some(System.getProperty("java.io.tmpdir")))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump (targeted re-verify)
    val only = GraftSession.only
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = org.json4s.jackson.JsonMethods.compact(org.json4s.JObject(
      SparkEntry.oracleSql.toList.map { case (k, v) => k -> org.json4s.JString(v) }))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

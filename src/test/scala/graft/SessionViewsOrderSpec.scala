package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkEntry.sessionViews is declared in dependency order: building
  * the entries in declared order never builds an entry before its
  * turn. Bench's and ScaleSweep's warmups walk the map as declared, so
  * this is what keeps each warmup label's time its own build. Runs on
  * the session-only cache (disk layer off), where constructing an
  * entry registers its MV and every MV it reads. */
class SessionViewsOrderSpec extends SparkSpec {

  /** Walks `views` in order from an empty registry and returns one
    * message per entry that was registered before its turn or whose
    * construction did not register its own label. */
  private def orderViolations(
      views: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    graft.model.Views.reset(spark)
    try views.flatMap { case (name, build) =>
      val early =
        if (graft.model.Views.cachedNames(spark)(name))
          Seq(s"$name was built by an entry declared before it")
        else Nil
      build(spark, sf)
      val missing =
        if (graft.model.Views.cachedNames(spark)(name)) Nil
        else Seq(s"$name does not register an MV under its own label")
      early ++ missing
    } finally graft.model.Views.reset(spark)
  }

  test("sessionViews is declared in dependency order") {
    val bad = orderViolations(SparkEntry.sessionViews.toSeq)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("an entry declared before its dependency is caught") {
    val v = SparkEntry.sessionViews
    val swapped = Seq("trades_token_month", "trades_token_day").map(n => n -> v(n))
    assert(orderViolations(swapped) ==
      Seq("trades_token_day was built by an entry declared before it"))
  }
}

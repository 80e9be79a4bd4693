package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench headline line inside the driver's ~2000-char output
  * tail capture (VERDICT r11 #1: the r8 denylist sizing re-broke at
  * 137 queries and BENCH_r11.json came back `parsed: null`). The
  * renderer is size-capped by construction; this spec makes surface
  * growth unable to silently re-break it. */
class BenchHeadlineSpec extends AnyFunSuite {

  // worst-case names: 24 chars, one past the registry's real maximum
  // (q_ledger_from_logs_full = 23) — "registry names fit the budget"
  // is itself pinned below, so this synthetic width stays the true
  // worst case
  private def mkName(i: Int) = f"q_long_query_name_xx_$i%03d"

  test("registry query names stay within the headline size model") {
    val tooLong = SparkEntry.queries.keys.filter(_.length > 24)
    assert(tooLong.isEmpty,
      s"headline sizing assumes names <= 24 chars; widen BenchHeadlineSpec's " +
        s"mkName if these are intentional: $tooLong")
  }

  private def vsbFor(names: Seq[String]): Map[String, (Double, Double)] =
    names.map(n => n -> ((1.23, 1.0))).toMap

  test("headline stays under 1900 chars even at 300 queries") {
    val cold = (0 until 300).map(i => (mkName(i), 100.0 + i, true))
    val steady = (0 until 300).map(i => (mkName(i), 100.0 + i))
    val line = Bench.renderHeadline(cold, steady, Nil,
      done = 300, selected = 300, nPasses = 1,
      mvTotal = 1234.567, mvN = 25, sfDir = "/data/testdata/sf0.1",
      vsb = vsbFor(steady.map(_._1)))
    assert(line.length < 1900, s"len=${line.length}: $line")
  }

  test("headline carries the heaviest queries, worst steady, and all failures") {
    val cold = (0 until 100).map(i => (mkName(i), i.toDouble, i != 7))
    val steady = (0 until 100).filter(_ != 7).map(i => (mkName(i), i.toDouble))
    val line = Bench.renderHeadline(cold, steady, Seq(mkName(7)),
      done = 100, selected = 100, nPasses = 1,
      mvTotal = 10.0, mvN = 3, sfDir = "sf0.1")
    // heaviest success present, lightest absent from the cold map
    assert(line.contains(s""""${mkName(99)}":99.000"""))
    assert(!line.contains(s""""${mkName(1)}":"""))
    // the failure rides the map as -1 AND failed[]
    assert(line.contains(s""""${mkName(7)}":-1"""))
    assert(line.contains(s""""failed":["${mkName(7)}"]"""))
    // steady worst map present with the top entry
    assert(line.contains(""""steady_worst":{"""))
    assert(line.contains(s""""steady_total":"""))
    // scope markers for cross-round tooling
    assert(line.contains(""""queries_scope":"top20_plus_failed""""))
    assert(line.contains(""""steady_scope":"all""""))
    assert(line.contains(""""mode":"flat""""))
  }

  test("mass failure stays under 1900 chars with a true failed_n count") {
    // ADVICE r12: ~100 failures used to render unbounded AND twice
    // (a -1 map entry plus a failed[] entry) — the scenario where the
    // headline matters most. Both sides now cap at FailTopN and
    // displace success slots from the shared budget.
    val cold = (0 until 150).map(i => (mkName(i), 10.0 + i, i >= 100))
    val steady = (100 until 150).map(i => (mkName(i), 10.0 + i))
    val failed = (0 until 100).map(mkName)
    val line = Bench.renderHeadline(cold, steady, failed,
      done = 150, selected = 150, nPasses = 1,
      mvTotal = 100.0, mvN = 25, sfDir = "sf0.1",
      vsb = vsbFor(steady.map(_._1)))
    assert(line.length < 1900, s"len=${line.length}: $line")
    assert(line.contains(""""failed_n":100"""), "true count survives the cap")
    // capped populations agree: first-FailTopN failures in both the
    // map and failed[] (the r7 invariant, now over the shown set)
    assert(line.contains(s""""${mkName(0)}":-1"""))
    assert(line.contains(s""""${mkName(Bench.FailTopN - 1)}":-1"""))
    assert(!line.contains(s""""${mkName(Bench.FailTopN)}":-1"""))
    // failures displace success slots but never erase them: the
    // heaviest successes stay
    assert(line.contains(s""""${mkName(149)}":159.000"""))
    assert(line.contains(""""completed":150"""))
  }

  test("vs_baseline rides the headline for the steady_worst set + stats") {
    // VERDICT r12 #1: the per-headline-query ratio (our steady sec /
    // DuckDB sec on the oracle SQL) plus summary stats over every
    // ratio'd query; the full map rides BENCH_LOCAL.json
    val cold = (0 until 40).map(i => (mkName(i), i.toDouble, true))
    val steady = (0 until 40).map(i => (mkName(i), i.toDouble))
    // (ourSec, duckSec): ratios 0.5 / 2.0 / 9.0; only mkName(2)'s
    // oracle is substantive (>= 0.5 s DuckDB) — med_sub isolates it
    val vsb = Map(mkName(39) -> ((0.05, 0.1)), mkName(38) -> ((0.2, 0.1)),
      mkName(2) -> ((9.0, 1.0)))
    val line = Bench.renderHeadline(cold, steady, Nil,
      40, 40, 1, 5.0, 2, "sf0.1", vsb)
    // steady_worst members with a ratio appear; non-members don't
    assert(line.contains(s""""vs_baseline":{"${mkName(39)}":0.50,"${mkName(38)}":2.00}"""))
    // stats cover ALL ratio'd queries, including the non-headline one;
    // sum = (0.05+0.2+9.0)/(0.1+0.1+1.0) = 7.71, med_sub over the one
    // substantive oracle
    assert(line.contains(""""vs_baseline_stats":{"n":3,"sum":7.71,"sub_n":1,"med_sub":9.00,"median":2.00,"p90":9.00,"max":9.00,"worst":""""),
      line)
    assert(line.contains(s""""worst":"${mkName(2)}""""))
  }

  test("no baseline file → empty vs_baseline objects, line still parses") {
    val cold = (0 until 10).map(i => (mkName(i), i.toDouble, true))
    val line = Bench.renderHeadline(cold, cold.map(c => (c._1, c._2)), Nil,
      10, 10, 1, 5.0, 2, "sf0.01")
    assert(line.contains(""""vs_baseline":{},"vs_baseline_stats":{"n":0}"""))
  }

  test("baseline parser: sf-mismatch yields empty, matching sf yields times") {
    val body =
      """{"engine":"duckdb","sf":"/root/testdata/sf0.1","threads":32,
        |"times":{"q_a":0.5,"q_b":1.25}}""".stripMargin
    assert(Bench.parseBaseline(body, "/root/testdata/sf0.1") ==
      Map("q_a" -> 0.5, "q_b" -> 1.25))
    assert(Bench.parseBaseline(body, "/root/testdata/sf0.01").isEmpty,
      "a baseline measured at another sf must not produce ratios")
    assert(Bench.parseBaseline("""{"no":"times"}""", "x").isEmpty)
  }

  test("headline is valid JSON shape (balanced, parse-spot-checked)") {
    val cold = (0 until 40).map(i => (mkName(i), i * 1.5, true))
    val line = Bench.renderHeadline(cold, cold.map(c => (c._1, c._2)), Nil,
      40, 40, 1, 5.0, 2, "sf0.01",
      vsb = vsbFor(cold.map(_._1)))
    // cheap structural check without a JSON lib: balanced braces/brackets
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.count(_ == '[') == line.count(_ == ']'))
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith("""}"""))
  }

  test("over2x_substantive cannot under-report: hysteresis bar + pinned " +
    "watch-list (VERDICT r14 #2)") {
    // a watched query whose baseline slid under EVERY bar still shows
    val vsb = Map(
      "q_volume_ma7" -> (1.3, 0.35),     // watched, sub-bar baseline
      "q_lb_explain" -> (1.19, 0.478),   // watched, in the 0.4-0.5 gap
      "q_other_slow" -> (1.0, 0.45),     // unwatched, hysteresis keeps it
      "q_tiny_gate" -> (0.4, 0.002),     // 200x but a 2 ms oracle: floor
      "q_fine" -> (0.6, 0.6))            // substantive and inside 2x
    val js = Bench.over2xJson(vsb)
    assert(js.contains("\"q_volume_ma7\":3.71"), js)
    assert(js.contains("\"q_lb_explain\":2.49"), js)
    assert(js.contains("\"q_other_slow\":2.22"), js)
    assert(!js.contains("q_tiny_gate"),
      "a 2 ms oracle measures Spark's fixed floor, not the engine")
    assert(!js.contains("q_fine"))
    // every query that has ever crossed the bar is pinned
    for (q <- Seq("q_vwap", "q_volume_ma7", "q_lb_explain",
        "q_portfolio_light", "q_win_rate", "q_ledger_from_logs_full"))
      assert(Bench.Over2xWatch(q), s"$q must stay on the watch-list")
  }

  test("scoped and bucketed runs never target the committed " +
    "BENCH_LOCAL.json (VERDICT r13 #3)") {
    assert(Bench.localDumpTarget(scoped = false) == "BENCH_LOCAL.json")
    assert(Bench.localDumpTarget(scoped = true) == "BENCH_SCOPED.json",
      "a SPARK_GRAFT_ONLY run holds a partial map - it must not " +
        "overwrite the full-registry artifact")
  }

  // BENCH_LOCAL.json gains the per-MV residency map; the driver's
  // headline line keeps its bytes (no mv_resident key, same layout)
  test("mv_resident rides BENCH_LOCAL.json; the headline is byte-compatible") {
    assert(Bench.residentJson(Seq(("logs_fees", 0.0, 0.0),
        ("trades", 12.3456, 0.5))) ==
      """{"logs_fees":{"mem_mb":0.000,"disk_mb":0.000},""" +
        """"trades":{"mem_mb":12.346,"disk_mb":0.500}}""")
    assert(Bench.residentJson(Nil) == "{}")
    val line = Bench.renderHeadline(Seq(("q_a", 1.0, true)), Seq(("q_a", 0.5)),
      Nil, 1, 1, 1, 2.0, 1, "sf0.01")
    val hits = graft.model.Views.diskHits.get()
    val misses = graft.model.Views.diskMisses.get()
    assert(line ==
      s"""{"metric":"total","value":1.000,"unit":"sec","completed":1,""" +
        s""""selected":1,"passes":1,"mv_warmup":2.000,"mv_warmup_n":1,""" +
        s""""mv_disk":{"hits":$hits,"misses":$misses},"queries":{"q_a":1.000},""" +
        s""""queries_scope":"top20_plus_failed","failed_n":0,""" +
        s""""steady_total":0.500,"steady_n":1,"steady_scope":"all",""" +
        s""""steady_worst":{"q_a":0.500},"vs_baseline":{},""" +
        s""""vs_baseline_stats":{"n":0},"failed":[],"mode":"flat","sf":"sf0.01"}""")
  }
}

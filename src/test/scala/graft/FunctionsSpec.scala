package graft

import graft.functions.GraftFunctions
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SQL registration: the native expressions callable from spark.sql
  * produce the same values as the Column API; the sketch states graft
  * builds on (its own count-min and uniqUpTo, Spark's theta and KLL)
  * keep their accuracy and merge contracts. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions match the Column API") {
    GraftFunctions.register(spark)
    Seq((1L, "the quick brown fox jumps the fox")).toDF("id", "text")
      .createOrReplaceTempView("fx_docs")
    val viaSql = spark.sql(
      """SELECT graft_simhash64(transform(graft_word_ngrams(text, 2), s -> xxhash64(s))) AS sh,
        |       size(graft_word_ngrams(text, 2)) AS n,
        |       graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |       size(graft_minhash_sig(array(1L, 2L, 3L), 8)) AS mh,
        |       size(graft_lsh_postings(array(0.6d, 0.8d), 4, 3)) AS lp
        |FROM fx_docs""".stripMargin).head()
    val viaCol = Seq((1L, "the quick brown fox jumps the fox")).toDF("id", "text")
      .select(Dedup.simhash64(Dedup.wordNgrams($"text", 2)).as("sh"),
        size(Dedup.wordNgrams($"text", 2)).as("n")).head()
    assert(viaSql.getLong(0) == viaCol.getLong(0))
    assert(viaSql.getInt(1) == viaCol.getInt(1))
    assert(viaSql.getDouble(2) == 11.0)
    assert(viaSql.getInt(3) == 8)
    assert(viaSql.getInt(4) == 3)
  }

  test("count-min: never undercounts, exact when collision-free, merge-invariant") {
    import graft.functions.CountMinExprs
    // known multiset: a×5, b×3, c×1 — width 64 ≫ 3 keys, so estimates
    // are exact unless KM positions collide in every row (prob ~0)
    val items = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val truth = Map("a" -> 5L, "b" -> 3L, "c" -> 1L)
    for (parts <- Seq(1, 7)) {
      val df = spark.sparkContext.parallelize(items, parts).toDF("w")
      val sk = df.agg(CountMinExprs.cm_agg(xxhash64($"w"), 4, 64).as("sk"))
      val est = Seq("a", "b", "c").toDF("w")
        .crossJoin(sk)
        .select($"w", CountMinExprs.cm_estimate($"sk", xxhash64($"w")).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      truth.foreach { case (w, t) =>
        assert(est(w) >= t, s"parts=$parts $w: ${est(w)} < $t")
        assert(est(w) == t, s"parts=$parts $w: collision at width 64 is ~impossible")
      }
    }
    // absent key estimates 0 on this tiny sketch (no collisions)
    val sk1 = items.toDF("w")
      .agg(CountMinExprs.cm_agg(xxhash64($"w"), 4, 64).as("sk"))
    val absent = Seq("zzz").toDF("w").crossJoin(sk1)
      .select(CountMinExprs.cm_estimate($"sk", xxhash64($"w"))).head().getLong(0)
    assert(absent == 0L)
    // adversarially narrow sketch: width 2, 60 distinct keys → heavy
    // collisions by construction; never-undercount must STILL hold for
    // every key, and no estimate can exceed N
    val many = (1 to 60).flatMap(i => Seq.fill(i % 5 + 1)(s"k$i"))
    val skN = many.toDF("w")
      .agg(CountMinExprs.cm_agg(xxhash64($"w"), 3, 2).as("sk"))
    val trueN = many.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val estN = many.distinct.toDF("w").crossJoin(skN)
      .select($"w", CountMinExprs.cm_estimate($"sk", xxhash64($"w")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    trueN.foreach { case (k, t) =>
      assert(estN(k) >= t, s"$k undercounted: ${estN(k)} < $t")
      assert(estN(k) <= many.size.toLong, s"$k exceeds N")
    }
  }

  /** |A∩B|, |A∪B|, |A\B| from two theta sketches over `a` and `b`,
    * each built at `lgK` over `parts` partitions. */
  private def thetaSetOps(a: Seq[Long], b: Seq[Long], lgK: Int,
      parts: Int): (Long, Long, Long) = {
    def sk(keys: Seq[Long], as: String) =
      spark.sparkContext.parallelize(keys, parts).toDF("k")
        .agg(theta_sketch_agg(col("k"), lgK).as(as))
    val r = sk(a, "ska").crossJoin(sk(b, "skb"))
      .select(
        theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))),
        theta_sketch_estimate(theta_union(col("ska"), col("skb"))),
        theta_sketch_estimate(theta_difference(col("ska"), col("skb"))))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("theta sketches: exact set algebra below k, partitioning-invariant") {
    // A = 0..999, B = 500..1499 → |A∩B| = 500, |A∪B| = 1500,
    // |A\B| = 500. lgK 12 (k = 4096) ≫ 1500 distinct keys, so the
    // sketches are in EXACT mode and every estimate is the true count.
    for (parts <- Seq(1, 8)) {
      val (i, u, d) = thetaSetOps(0L until 1000L, 500L until 1500L, 12, parts)
      assert(i == 500L, s"intersect, parts=$parts")
      assert(u == 1500L, s"union, parts=$parts")
      assert(d == 500L, s"diff, parts=$parts")
    }
  }

  test("theta sketches: estimation-mode set algebra within 5% of the exact counts") {
    // A = 0..49,999, B = 25,000..74,999 → |A∩B| = 25,000, |A∪B| =
    // 75,000, |A\B| = 25,000. lgK 10 (k = 1024) ≪ 50,000 keys per set,
    // so each sketch keeps a k-sample of the hash space and every
    // answer is an estimate — the regime q_cohort_overlap runs in once
    // a cohort passes 2^14 wallets. The sketch hash has a fixed seed,
    // so the estimates are a function of the key sets alone. At
    // k = 1024, 5% is only ~1.1σ for ∩ and \ and ~2σ for ∪ (other
    // key sets of this shape can miss it); q_cohort_overlap's lgK 14
    // (k = 16,384) cuts the error 4×.
    val exact = (25000L, 75000L, 25000L)
    val byParts = Seq(1, 8).map(parts =>
      thetaSetOps(0L until 50000L, 25000L until 75000L, 10, parts))
    assert(byParts.distinct.size == 1, s"partitioning changed the sample: $byParts")
    val (i, u, d) = byParts.head
    assert((i, u, d) != exact, "lgK 10 should be in estimation mode")
    def within(est: Long, ex: Long) = math.abs(est - ex).toDouble / ex <= 0.05
    assert(within(i, exact._1), s"intersect $i")
    assert(within(u, exact._2), s"union $u")
    assert(within(d, exact._3), s"diff $d")
  }

  test("KLL states: exact-mode quantiles equal true order stats, agg-then-merge ≡ direct, partitioning-invariant") {
    def median(st: Column) = kll_sketch_get_quantile_double(st, lit(0.5))
    def p90(st: Column) = kll_sketch_get_quantile_double(st, lit(0.9))
    // 99 values per group, k=200 → exact mode: the quantile at rank q
    // is the true inclusive order statistic regardless of layout or
    // whether the values flow through per-day states first
    val rows = for (g <- Seq("a", "b"); i <- 1 to 99)
      yield (g, i % 7, (if (g == "a") i else 1000 - i).toDouble)
    for (parts <- Seq(1, 5)) {
      val df = spark.sparkContext.parallelize(rows, parts).toDF("g", "day", "x")
      val direct = df.groupBy($"g").agg(kll_sketch_agg_double($"x", 200).as("st"))
        .select($"g", median($"st").as("m"), p90($"st").as("p90"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val viaStates = df.groupBy($"g", $"day")
        .agg(kll_sketch_agg_double($"x", 200).as("st"))
        .groupBy($"g").agg(kll_merge_agg_double($"st", 200).as("st"))
        .select($"g", median($"st").as("m"), p90($"st").as("p90"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(direct("a") == ((50.0, 90.0)), s"parts=$parts direct=$direct")
      assert(direct("b") == ((950.0, 990.0)), s"parts=$parts direct=$direct")
      assert(viaStates == direct, s"parts=$parts merge path diverged")
    }
    // estimation mode (n ≫ k=200): the normalized rank error for k=200
    // is ~1.65%; the merged-states median and the direct p25 are held
    // to 5%
    val n = 20000
    val big = spark.sparkContext.parallelize(1 to n, 8).map(_.toDouble).toDF("x")
    val m = big.groupBy($"x".cast("int") % 13)
      .agg(kll_sketch_agg_double($"x", 200).as("st"))
      .agg(kll_merge_agg_double($"st", 200).as("st"))
      .select(median($"st")).head().getDouble(0)
    assert(math.abs(m / n - 0.5) < 0.05, s"median estimate $m")
    val p25 = big.agg(kll_sketch_agg_double($"x", 200).as("st"))
      .select(kll_sketch_get_quantile_double($"st", lit(0.25)))
      .head().getDouble(0)
    assert(math.abs(p25 / n - 0.25) < 0.05, s"p25 estimate $p25")
  }

  test("uniqUpTo: exact below N, saturates at N+1, sticky across merges") {
    import graft.functions.UniqUpTo.uniq_up_to
    // group a: 30 distinct ids (> N=10 → 11); group b: 4 distinct (< N → 4);
    // duplicates must not count twice
    val rows = (1L to 30L).flatMap(i => Seq(("a", i), ("a", i))) ++
      Seq(("b", 1L), ("b", 2L), ("b", 3L), ("b", 4L), ("b", 4L))
    for (parts <- Seq(1, 7)) {
      val df = spark.sparkContext.parallelize(rows, parts).toDF("g", "id")
      val got = df.groupBy($"g").agg(uniq_up_to($"id", 10).as("u"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("a" -> 11L, "b" -> 4L), s"parts=$parts got=$got")
    }
    // sql registration parity
    rows.toDF("g", "id").createOrReplaceTempView("fx_uuto")
    val viaSql = spark.sql(
      "SELECT g, graft_uniq_up_to(id, 10) FROM fx_uuto GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == Map("a" -> 11L, "b" -> 4L))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.{Stats, UrlOps}

/** URL canonicalization / host-dedup (§2 #196) and Spearman rankCorr
  * (§2 #197) — edge-case pins for the driver-gated q_url_dedup /
  * q_host_cap / q_rank_corr queries (promoted r19; the driver gate
  * rides CorpusQueries.docsUrl's synthesized URL column since the
  * testdata documents table carries none). */
class UrlOpsSpec extends SparkSpec {
  import spark.implicits._

  test("canonicalizeUrl: scheme/www/fragment/tracking/ports/order/slash") {
    val in = Seq(
      // scheme + www + trailing slash + fragment
      "https://www.Example.com/Path/" -> "example.com/Path",
      "http://example.com/Path#frag" -> "example.com/Path",
      // tracking params stripped, survivors SORTED, empty query dropped
      "https://example.com/p?utm_source=x&b=2&a=1" -> "example.com/p?a=1&b=2",
      "https://example.com/p?utm_campaign=x&fbclid=y&gclid=z" -> "example.com/p",
      // default ports dropped; non-default kept
      "https://example.com:443/x" -> "example.com/x",
      "http://example.com:80/x" -> "example.com/x",
      "http://example.com:8080/x" -> "example.com:8080/x",
      // path case preserved, host case folded
      "HTTPS://EXAMPLE.COM/CaseSensitive" -> "example.com/CaseSensitive",
      // bare host (with and without slash) collapse together
      "https://www.example.com/" -> "example.com",
      "example.com" -> "example.com",
      // ref is tracking; a real param named reference is NOT
      "https://e.com/p?ref=tw&reference=doc" -> "e.com/p?reference=doc")
    val got = in.map(_._1).toDF("url")
      .select(UrlOps.canonicalizeUrl(col("url"))).as[String].collect()
    got.zip(in).foreach { case (g, (raw, want)) =>
      assert(g == want, s"canonicalizeUrl($raw)") }
  }

  test("hostOf extracts the registered host") {
    val got = Seq("https://www.Sub.Example.com:8443/p?q=1", "example.org/x")
      .toDF("url").select(UrlOps.hostOf(col("url"))).as[String].collect()
    assert(got.sameElements(Array("sub.example.com", "example.org")))
  }

  test("dedupByCanonicalUrl keeps the longest text, doc_id tie-break, counts dups") {
    val docs = Seq(
      (1L, "https://www.a.com/p?utm_source=x", "short"),
      (2L, "http://a.com/p", "the longest render of the page"),
      (3L, "https://a.com/p#frag", "middle length"),
      (4L, "https://b.com/q", "only doc"),
      // exact tie on length -> smaller doc_id wins
      (5L, "https://c.com/r", "same-len"),
      (6L, "http://www.c.com/r/", "same-len")
    ).toDF("doc_id", "url", "text")
    val out = UrlOps.dedupByCanonicalUrl(docs, "url", "doc_id", "text")
      .orderBy(col("canonical_url"))
      .select(col("canonical_url"), col("doc_id"), col("url_dups"))
      .as[(String, Long, Long)].collect()
    assert(out.sameElements(Array(
      ("a.com/p", 2L, 3L), ("b.com/q", 4L, 1L), ("c.com/r", 5L, 2L))))
  }

  test("capPerHost keeps the cap longest docs per host deterministically") {
    val docs = Seq(
      (1L, "https://big.com/1", "aaaa"),
      (2L, "https://big.com/2", "aaaaaa"),
      (3L, "https://www.big.com/3", "aa"),
      (4L, "https://big.com/4", "aaaa"),   // len ties doc 1 -> id order
      (5L, "https://small.com/1", "b")
    ).toDF("doc_id", "url", "text")
    val kept = UrlOps.capPerHost(docs, "url", "doc_id", "text", cap = 2)
      .select(col("doc_id")).as[Long].collect().sorted
    // big.com keeps doc 2 (len 6) then doc 1 (len 4, beats doc 4 on id)
    assert(kept.sameElements(Array(1L, 2L, 5L)))
  }

  test("capPerHost megahost: bounded partial aggregate, no host window (VERDICT r18 #3)") {
    // one host holding ~98% of the corpus — the shape that serialized
    // under row_number() over (partition by host)
    val docs = (1L to 500L).map { i =>
      val url = if (i % 50 == 0) s"https://tail$i.example/x"
                else s"https://mega.example/p$i"
      (i, url, "x" * (i % 37).toInt)
    }.toDF("doc_id", "url", "text")
    val out = UrlOps.capPerHost(docs, "url", "doc_id", "text", cap = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "capPerHost must not single-task-sort megahosts through a window")
    assert(plan.contains("graft_recent_topk"),
      "per-host winners must come from the bounded k-buffer aggregate")
    assert(plan.contains("ObjectHashAggregate"),
      "the k-buffer aggregate must partial-aggregate map-side")
    // semantics on the skewed host: the 3 longest texts, id tie-break
    val expected = (1L to 500L).filterNot(_ % 50 == 0)
      .map(i => (i % 37, i)).sortBy { case (len, id) => (-len, id) }
      .take(3).map(_._2).toSet
    val gotMega = out.filter(col("host") === "mega.example")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(gotMega == expected, s"mega host kept $gotMega, want $expected")
    // every tail host (1 doc each) survives untouched
    assert(out.count() == 3 + 10)
  }

  test("rankCorr: hand-computed Spearman with ties, per group") {
    // group g1: x = (1,2,3,4), y = (10,20,20,40).
    // y average ranks: 1, 2.5, 2.5, 4 -> classic tie case:
    // rho = Pearson((1,2,3,4),(1,2.5,2.5,4)) = 0.9486832980505138
    // group g2: perfectly anti-monotonic -> -1
    val df = Seq(
      ("g1", 1.0, 10.0), ("g1", 2.0, 20.0), ("g1", 3.0, 20.0),
      ("g1", 4.0, 40.0),
      ("g2", 1.0, 9.0), ("g2", 2.0, 5.0), ("g2", 3.0, 1.0)
    ).toDF("grp", "x", "y")
    val got = Stats.rankCorr(df, "grp", col("x"), col("y"))
      .orderBy(col("grp"))
      .select(col("grp"), col("n"), col("rank_corr"))
      .as[(String, Long, Double)].collect()
    assert(got(0)._1 == "g1" && got(0)._2 == 4)
    assert(math.abs(got(0)._3 - 0.9486832980505138) < 1e-12, s"${got(0)}")
    assert(got(1)._1 == "g2" && math.abs(got(1)._3 - (-1.0)) < 1e-12)
  }

  test("rankCorr is invariant under monotone transforms (rank semantics)") {
    // Spearman depends only on orderings: y -> exp(y) changes Pearson
    // but must not change rankCorr
    val base = Seq.tabulate(40)(i =>
      ("t", i.toDouble, math.sin(i / 3.0) * 10 + i * 0.2))
      .toDF("grp", "x", "y")
    val a = Stats.rankCorr(base, "grp", col("x"), col("y"))
      .select(col("rank_corr")).as[Double].head()
    val b = Stats.rankCorr(base.withColumn("y", exp(col("y") / 5.0)),
        "grp", col("x"), col("y"))
      .select(col("rank_corr")).as[Double].head()
    assert(math.abs(a - b) < 1e-12)
  }
}

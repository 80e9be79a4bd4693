package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + host-level corpus controls — the dedup rung
  * BELOW content hashing in a crawl pipeline (CCNet/RefinedWeb run it
  * first: the same page is fetched under scheme/www/tracking-param
  * variants, and exact-content dedup misses re-renders with rotated
  * ads while URL dedup catches them for free).
  *
  * Everything here is a pure column expression chain (regexp over the
  * url string — codegen'd, runs inside the scan stage, no UDF) plus
  * one keyed groupBy per operator, so the ops hold at crawl scale:
  * canonicalization is O(row), dedup shuffles the canonical-url key
  * once with map-side combine, host caps shuffle the host key once.
  *
  * No reference analogue (LLM-pipeline extension). The testdata
  * documents table carries no URL column, so the driver gate rides a
  * deterministic synthesized URL (CorpusQueries.docsUrl: four
  * scheme/www/port/tracking/fragment/slash variants per dup group) —
  * the Spark side must run the REAL canonicalization chain while the
  * DuckDB oracle states the expected canonical in closed form
  * (q_url_dedup, q_host_cap); edge cases stay spec-pinned (UrlOpsSpec).
  */
object UrlOps {

  /** Tracking parameters every major pipeline strips: they vary per
    * click, never per document. */
  private val TrackingParams =
    "utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref|ref_src|igshid|spm"

  /** Canonical form of a URL, as a codegen'd expression:
    *  1. lowercase scheme+host (the path stays case-sensitive);
    *  2. scheme dropped (http ≡ https for identity), leading www. too;
    *  3. fragment dropped (client-side only);
    *  4. tracking query params dropped; a then-empty query dropped;
    *  5. remaining query params SORTED (param order is not identity);
    *  6. default ports (:80/:443) and the trailing slash on a bare or
    *     directory path dropped.
    * Malformed inputs pass through lowercased-host best-effort rather
    * than erroring — a crawl pipeline cannot throw on its input. */
  def canonicalizeUrl(url: Column): Column = {
    // scheme off, fragment off
    val noScheme = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val noFrag = regexp_replace(noScheme, "#.*$", "")
    // lowercase the authority (up to the first /), keep path casing
    val authority = regexp_extract(noFrag, "^([^/?]*)", 1)
    val rest = substring_index_safe(noFrag)
    val auth = regexp_replace(
      regexp_replace(lower(authority), "^www\\.", ""),
      ":(80|443)$", "")
    // split path?query, scrub + sort the query
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val query = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val keptParams = array_sort(filter(split(query, "&"), p =>
      !(p.rlike(s"^($TrackingParams)=") || p === lit(""))))
    val cleanQuery = array_join(keptParams, "&")
    val cleanPath = regexp_replace(path, "/$", "")
    concat(auth, cleanPath,
      when(cleanQuery === "", lit("")).otherwise(concat(lit("?"), cleanQuery)))
  }

  // everything after the authority ("/p?q" or "" for a bare host)
  private def substring_index_safe(noFrag: Column): Column =
    regexp_replace(noFrag, "^[^/?]*", "")

  /** The registered host of a canonical (or raw) URL. */
  def hostOf(url: Column): Column =
    regexp_extract(regexp_replace(
        regexp_replace(lower(url), "^[a-z][a-z0-9+.-]*://", ""),
        "^www\\.", ""),
      "^([^/:?#]*)", 1)

  /** Keep ONE document per canonical URL — the longest text, doc_id as
    * the deterministic tie-break (crawls prefer the fullest render).
    * One keyed shuffle; max_by carries (len, -id) so ties can't flap. */
  def dedupByCanonicalUrl(docs: DataFrame, urlCol: String, idCol: String,
                          textCol: String): DataFrame =
    docs
      .withColumn("canonical_url", canonicalizeUrl(col(urlCol)))
      .groupBy(col("canonical_url"))
      .agg(
        max_by(struct(docs.columns.map(col): _*),
          struct(length(col(textCol)), -col(idCol))).as("kept"),
        count(lit(1)).as("url_dups"))
      .select(col("canonical_url") +: col("url_dups") +:
        docs.columns.map(c => col(s"kept.$c")): _*)

  /** Cap documents per host (domain-level sampling — a handful of
    * template-heavy hosts otherwise dominate a crawl corpus): keeps
    * the `cap` docs with the LONGEST text per host, deterministic
    * doc-id tie-break.
    *
    * NOT a `row_number() over (partition by host)` window (VERDICT r18
    * #3): that is a single-task sort per host — AQE splits skewed JOIN
    * partitions, not window sorts, so a host holding 10% of a 100 TB
    * crawl serializes into one task. Instead the per-host winners come
    * from a cap-bounded buffer TypedImperativeAggregate (the #94
    * RecentTopK shape, keyed (length, -id, id) so "longest text,
    * smallest id on ties" is the buffer's retention order): partial
    * aggregation runs map-side and the host Exchange carries at most
    * `cap` entries per host per task — megahosts cost cap·tasks rows
    * on the wire, never their row count. The winners frame is
    * host-count-bounded, so AQE turns the semi join back into a
    * broadcast at any realistic host cardinality. */
  def capPerHost(docs: DataFrame, urlCol: String, idCol: String,
                 textCol: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.RecentTopK
    val withHost = docs.withColumn("host", hostOf(col(urlCol)))
    val keptAgg = ColumnBridge.column(
      RecentTopK(
        ColumnBridge.expression(length(col(textCol)).cast("long")),
        ColumnBridge.expression((-col(idCol)).cast("long")),
        ColumnBridge.expression(col(idCol).cast("long")),
        cap).toAggregateExpression())
    val keptIds = withHost
      .groupBy(col("host"))
      .agg(keptAgg.as("kept"))
      .select(explode(col("kept")).as("__graft_kept_id"))
    withHost.join(keptIds,
      col(idCol).cast("long") === col("__graft_kept_id"), "left_semi")
  }
}

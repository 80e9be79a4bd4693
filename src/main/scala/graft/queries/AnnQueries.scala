package graft
package queries

import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.model.{Tables, Views}
import graft.operators._

/** Embeddings: centroids, PCA, semantic dedup, and the exact and
  * approximate nearest-neighbour indexes with their recall gate. */
private[graft] object AnnQueries {
  val defs: Seq[QueryDef] = Seq(
    // Per-label embedding centroids (IVF-training / class-prototype
    // building block): one row per (label, dim), mean floored ×1e6.
    QueryDef("q_embed_centroid", (s, d) =>
      Similarity.groupCentroids(Tables.embeddings(s, d), "label", "embedding")
        .orderBy(col("label"), col("dim")),
    // embedding dim is fixed at 64 in the testdata tables
    Some(
      """WITH u AS (
        |  SELECT label, CAST(s.i - 1 AS INT) AS dim,
        |         CAST(embedding[s.i] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT UNNEST(range(1, 65)) AS i) s)
        |SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(FLOOR(SUM(v) / COUNT(*) * 1e6) AS BIGINT) AS centroid_6
        |FROM u GROUP BY 1, 2 ORDER BY label, dim""".stripMargin)),

    // The test embeddings are random (max natural cosine ≈ 0.51), so a
    // near-dup query over them alone is vacuous. Seed 25 known
    // near-duplicates from the table itself: scaled copies (×2) of
    // vec_id < 25 — a power-of-two scale normalizes to a bit-identical
    // unit vector, so the pair is a guaranteed LSH collision AND the
    // exact-oracle cosine is deterministic. The query must recover
    // exactly those 25 pairs at threshold 0.999.
    QueryDef("q_dedup_embedding", (s, d) => {
      val base = Tables.embeddings(s, d).select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val seeded = base.filter(col("vec_id") < 25)
        .select((col("vec_id") + 10000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0)).as("embedding"))
      Dedup.embeddingPairs(base.unionAll(seeded), "vec_id", "embedding",
          threshold = 0.999)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      """WITH base AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |seeded AS (
        |  SELECT vec_id + 10000 AS vec_id,
        |    list_transform(emb, x -> x * 2.0) AS emb
        |  FROM base WHERE vec_id < 25),
        |allv AS (SELECT * FROM base UNION ALL SELECT * FROM seeded),
        |nrm AS (
        |  SELECT vec_id AS id,
        |    list_transform(emb, x -> x /
        |      sqrt(list_sum(list_transform(emb, y -> y * y)))) AS unit
        |  FROM allv
        |  WHERE sqrt(list_sum(list_transform(emb, y -> y * y))) > 0),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    round(list_dot_product(a.unit, b.unit), 6) AS cosine
        |  FROM nrm a JOIN nrm b ON a.id < b.id)
        |SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.999
        |ORDER BY id_a, id_b""".stripMargin)),

    // PCA embedding-compression gate: top-16-of-64 components fit ONCE
    // per session (one covariance pass + driver eigensolve, the
    // IvfIndex build-once seam); projection is 16 codegen dot exprs in
    // the scan stage. Bars: variance-explained ≥ 0.2 (mathematical
    // floor k/d = 0.25 since the top-k eigenvalues dominate the
    // average; measured 0.31–0.38) and avg relative reconstruction
    // error ≤ 0.85 via the orthonormal identity |v−PPᵀv|² = |v|²−|Pᵀv|²
    // (measured 0.62–0.69 across sf0.001–sf0.1). Deterministic:
    // covariance + LAPACK, no sampling.
    QueryDef("q_embed_pca", (s, d) => {
      val nrm = Similarity.normalized(Tables.embeddings(s, d), "vec_id",
        "embedding")
      val m = EmbeddingCompress.fitCached(s, nrm, corpusKey = d, k = 16)
      EmbeddingCompress.gate(nrm, m, varBar = 0.2, errBar = 0.85)
        .orderBy(col("check_name"))
    },
    // n = vectors with positive norm (the normalized population the
    // gate aggregates); the booleans are the PCA contract at the
    // documented operating point
    Some(
      """SELECT v.check_name, t.n, v.bar, v.within_bar
        |FROM (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
        |  WHERE list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0) t
        |CROSS JOIN (VALUES
        |  ('pca_recon_rel_err', 0.85, true),
        |  ('pca_var_explained', 0.2, true))
        |  v(check_name, bar, within_bar)
        |ORDER BY check_name""".stripMargin)),

    // SemDeDup (cluster-then-within-cluster cosine, arXiv:2303.09540):
    // same seeded-twin recipe as q_dedup_embedding — ×2-scaled copies
    // normalize to bit-identical unit vectors, so k-means assigns both
    // twins to the same cell by construction, and the exact all-pairs
    // oracle of q_dedup_embedding establishes they are the ONLY pairs
    // at cosine ≥ 0.999. The dedup verdict (one group per twin pair,
    // min id kept, the +10000 copy dropped) is therefore a relational
    // fact the oracle states directly — the Spark side has to get cell
    // assignment, within-cell pairing, transitive closure, and the
    // keep rule all right to hash-match it.
    QueryDef("q_semdedup", (s, d) => {
      val base = Tables.embeddings(s, d).select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val seeded = base.filter(col("vec_id") < 25)
        .select((col("vec_id") + 10000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0)).as("embedding"))
      Dedup.semDedup(s, base.unionAll(seeded), "vec_id", "embedding",
          corpusKey = s"$d#semdedup", threshold = 0.999)
        .orderBy(col("id"))
    },
    // the exact all-pairs scan of q_dedup_embedding proves the 25
    // seeded twins are the only cosine-0.999 pairs, so the duplicate
    // groups are a closed-form relational fact: group per twin, min id
    // kept, scaled copy dropped
    Some(
      """SELECT CAST(vec_id AS BIGINT) AS id,
        |  CAST(vec_id AS BIGINT) AS group_id, true AS keep
        |FROM embeddings WHERE vec_id < 25
        |UNION ALL
        |SELECT CAST(vec_id + 10000 AS BIGINT) AS id,
        |  CAST(vec_id AS BIGINT) AS group_id, false AS keep
        |FROM embeddings WHERE vec_id < 25
        |ORDER BY id""".stripMargin)),

    QueryDef("q_ann_topk", (s, d) => {
      val nrm = Similarity.normalized(Tables.embeddings(s, d), "vec_id", "embedding")
      Similarity.bruteForceTopK(nrm, nrm.filter(col("id") < 5), 10)
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      """WITH nrm AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS unit
        |  FROM embeddings
        |  WHERE sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) > 0),
        |pairs AS (
        |  SELECT q.id AS query_id, c.id AS corpus_id,
        |    round(list_dot_product(q.unit, c.unit), 6) AS cosine
        |  FROM nrm q JOIN nrm c ON q.id < 5 AND c.id <> q.id),
        |ranked AS (
        |  SELECT query_id, corpus_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
        |  FROM pairs)
        |SELECT query_id, rank, corpus_id, cosine FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    QueryDef("q_ann_ivf", (s, d) => {
      val nrm = Similarity.normalized(Tables.embeddings(s, d), "vec_id", "embedding")
      val model = IvfIndex.buildCached(s, nrm, corpusKey = d, nlist = 16)
      IvfIndex.topK(s, model, nrm.filter(col("id") < 5), k = 10, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    }, None),

    // Two-level residual IVF serving query (the documented >16M-vector
    // scale step, rows-only — recall gated by q_ann_recall's ivf2
    // rows): codebooks sized from the corpus (nlistFor's ~256-row
    // cells split as √nlist coarse × √nlist residual, sampled fits),
    // probing ~half of each level — assignment and probe cost scale
    // as √nlist instead of nlist, turning the flat codebook's
    // superlinear term into n^1.5 at worst.
    QueryDef("q_ann_ivf2", (s, d) => {
      val nrm = Similarity.normalized(Tables.embeddings(s, d), "vec_id", "embedding")
      val n = Views.memoizedStat(nrm)(_.count())
      val model = IvfIndex.buildHierarchicalCached(s, nrm,
        corpusKey = d + ":hier", nlistTotal = IvfIndex.nlistFor(n),
        fitCap = 65536)
      IvfIndex.topKHier(s, model, nrm.filter(col("id") < 5), k = 10,
        nprobe1 = math.max(2, (model.coarse.length + 1) / 2),
        nprobe2 = math.max(2, (model.l2 + 1) / 2))
        .orderBy(col("query_id"), col("rank"))
    }, None),

    // Batch-plan ANN hard gate: the UNBROADCAST probes-join plan
    // (IvfIndex.topKBatch, the offline-query-set shape from VERDICT
    // r11 #3) probing EVERY cell is exhaustive, so its top-10 must
    // equal brute force exactly — the batch plan gets a full hash
    // oracle on top of the spec's serving-parity pin.
    QueryDef("q_ann_batch_exact", (s, d) => {
      val nrm = Similarity.normalized(Tables.embeddings(s, d), "vec_id", "embedding")
      val model = IvfIndex.buildCached(s, nrm, corpusKey = d, nlist = 16)
      IvfIndex.topKBatch(s, model, nrm.filter(col("id") < 5), k = 10,
        nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    },
    // full-probe IVF through the batch (unbroadcast) plan is
    // exhaustive ⇒ identical to brute force — same oracle
    Some(
      """WITH nrm AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS unit
        |  FROM embeddings
        |  WHERE sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) > 0),
        |pairs AS (
        |  SELECT q.id AS query_id, c.id AS corpus_id,
        |    round(list_dot_product(q.unit, c.unit), 6) AS cosine
        |  FROM nrm q JOIN nrm c ON q.id < 5 AND c.id <> q.id),
        |ranked AS (
        |  SELECT query_id, corpus_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
        |  FROM pairs)
        |SELECT query_id, rank, corpus_id, cosine FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // SQ8 ANN: int8-quantized scan + exact rerank (rows-only; recall
    // vs brute force asserted in SimilaritySpec).
    QueryDef("q_ann_sq", (s, d) => {
      val nrm = Similarity.normalized(Tables.embeddings(s, d), "vec_id", "embedding")
      Similarity.sqTopK(nrm, nrm.filter(col("id") < 5), k = 10, refine = 4)
        .orderBy(col("query_id"), col("rank"))
    }, None),

    QueryDef("q_ann_lsh", (s, d) => {
      val nrm = Similarity.normalized(Tables.embeddings(s, d), "vec_id", "embedding")
      Similarity.lshTopK(nrm, nrm.filter(col("id") < 5), dim = 64, planes = 6,
        k = 10, tables = 24)
        .orderBy(col("query_id"), col("rank"))
    }, None),

    // IVF-PQ ANN (the ~32× compression rung): m=8 product-quantized
    // codes, per-query ADC lookup table, 20·k shortlist from 12/16
    // probed cells, exact rerank. Rows-only; recall gated ≥0.85 on
    // both corpus shapes by q_ann_recall's pq rows.
    QueryDef("q_ann_pq", (s, d) => {
      val nrm = Similarity.normalized(Tables.embeddings(s, d), "vec_id", "embedding")
      val model = IvfIndex.buildCached(s, nrm, corpusKey = d, nlist = 16)
      val pq = PqIndex.buildCached(s, model, corpusKey = d + ":pq",
        dim = 64, m = 8)
      PqIndex.topK(s, model, pq, nrm.filter(col("id") < 5), k = 10,
        nprobe = 12, refine = 20)
        .orderBy(col("query_id"), col("rank"))
    }, None),

    // SEMANTIC eval-set decontamination (the embedding companion to
    // q_decontaminate's 13-gram overlap — the Phi/FineWeb-style
    // "remove training docs semantically close to the benchmark"
    // step): the benchmark's embeddings broadcast (an eval set is
    // always tiny next to the corpus), ONE scan of the corpus scores
    // every (doc, bench) pair, and each contaminated doc reports its
    // nearest benchmark item. Cosines ride the family's round(·, 6)
    // pin; ties break on bench_id so the pick is deterministic on
    // both engines. At a benchmark too large to broadcast the same
    // query runs through the IVF probe join (#35b) — the threshold
    // and report shape are unchanged.
    QueryDef("q_decontaminate_semantic", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Similarity.normalized(Tables.embeddings(s, d), "vec_id",
        "embedding")
      val bench = emb.filter(pmod(col("id"), lit(29L)) === 0)
        .select(col("id").as("bench_id"), col("unit").as("bu"))
      val corpus = emb.filter(pmod(col("id"), lit(29L)) =!= 0)
      val scored = corpus.join(broadcast(bench))
        .select(col("id").as("doc_id"), col("bench_id"),
          round(Similarity.dot(col("unit"), col("bu")), 6).as("cosine"))
        .filter(col("cosine") >= 0.3)
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("cosine").desc, col("bench_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("bench_id").as("nearest_bench"),
          col("cosine"))
        .orderBy(col("doc_id"))
    },
    // the embedding twin of q_decontaminate: exact all-pairs vs the
    // (tiny) benchmark slice, same round-6 cosine pin as the ANN
    // family, deterministic bench_id tiebreak
    Some(
      """WITH nrm AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS unit
        |  FROM embeddings
        |  WHERE sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) > 0),
        |scored AS (
        |  SELECT c.id AS doc_id, b.id AS bench_id,
        |    round(list_dot_product(c.unit, b.unit), 6) AS cosine
        |  FROM nrm c JOIN nrm b ON c.id % 29 <> 0 AND b.id % 29 = 0),
        |hits AS (SELECT * FROM scored WHERE cosine >= 0.3),
        |ranked AS (
        |  SELECT doc_id, bench_id, cosine,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY cosine DESC, bench_id) AS rn
        |  FROM hits)
        |SELECT doc_id, bench_id AS nearest_bench, cosine
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // By-residual IVF-PQ (Faiss's default recipe): codes quantize
    // x − centroid(cell), ADC adds the exact per-cell ⟨q, centroid⟩
    // term. Rows-only; recall gated ≥0.85 on both corpus shapes by
    // q_ann_recall's pqr rows.
    QueryDef("q_ann_pqr", (s, d) => {
      val nrm = Similarity.normalized(Tables.embeddings(s, d), "vec_id", "embedding")
      val model = IvfIndex.buildCached(s, nrm, corpusKey = d, nlist = 16)
      val pqr = PqIndex.buildCached(s, model, corpusKey = d + ":pqr",
        dim = 64, m = 8, byResidual = true)
      PqIndex.topK(s, model, pqr, nrm.filter(col("id") < 5), k = 10,
        nprobe = 12, refine = 20)
        .orderBy(col("query_id"), col("rank"))
    }, None),

    // ANN recall gate: every approximate method's recall@10 against
    // the exact brute-force top-k, reduced to a hash-checkable
    // (method, bar, recall_ge_bar) row enforced by the driver's
    // oracle gate, not just ScalaTest. The synthetic embeddings are
    // isotropic noise (same-label avg cosine ≈ 0.002), the
    // adversarial case for sublinear ANN: recall is collision-bounded
    // by the scan fraction, so each method is pinned at its
    // documented operating point — IVF probing 8/16 cells and the
    // full-scan SQ8 rerank hold ≥ 0.9; hyperplane LSH at planes = 6 ×
    // 24 tables (≈ 3/8 of the corpus as candidates) holds ≥ 0.6,
    // its collision bound 1 − (1 − (1 − θ/π)^planes)^tables for the
    // θ ≈ 1.27 rad noise-tail neighbors. The methods are
    // deterministic (seeded hyperplanes, deterministic k-means init),
    // so the booleans are stable run to run.
    // Two corpus SHAPES per method (VERDICT r11 #4): the raw
    // embeddings are isotropic noise (the collision-bounded
    // adversarial case above), and a deterministically CLUSTERED
    // variant — each vector pulled toward a per-label pseudo-centroid
    // (hash-seeded, engine-local) so same-label cosine ≈ 0.5+ — pins
    // the same operating points on structured data, where IVF recall
    // must come from k-means finding the clusters rather than from
    // the scan fraction. Both shapes share one gate reduction.
    QueryDef("q_ann_recall", (s, d) => {
      // gate harness shared with graft.ScaleAnn (operators.AnnGates):
      // seven methods x two corpus shapes against a brute-force truth
      // set, corpus-size-derived operating points for the flat-IVF
      // family, ivf2 at fixed levels by design. The recall VALUE is
      // dropped here so the oracle-facing schema stays (method, shape,
      // bar, recall_ge_bar); ScaleAnn keeps it as scale evidence.
      val emb = Tables.embeddings(s, d)
      val iso = Similarity.normalized(emb, "vec_id", "embedding")
      val clustered = annClusteredCorpus(s, d)
      operators.AnnGates.gates(s, "isotropic", iso, d)
        .unionByName(operators.AnnGates.gates(s, "clustered", clustered,
          d + ":clustered"))
        .select(col("method"), col("shape"), col("bar"),
          col("recall_ge_bar"))
        .orderBy(col("method"), col("shape"))
    },
    // the approximate methods are Spark-only, so the oracle pins the
    // CONTRACT (recall@10 ≥ bar vs exact brute force, per method, at
    // each method's documented operating point) as expected rows — a
    // driver-gate regression pin for the three ANN paths, the
    // hash-checkable reduction of the spec assertions
    Some(
      """SELECT method, shape, bar, recall_ge_bar FROM (VALUES
        |  ('ivf', 'isotropic', 0.9, true), ('ivf', 'clustered', 0.9, true),
        |  ('ivf2', 'isotropic', 0.9, true), ('ivf2', 'clustered', 0.9, true),
        |  ('lsh', 'isotropic', 0.6, true), ('lsh', 'clustered', 0.6, true),
        |  ('pq', 'isotropic', 0.85, true), ('pq', 'clustered', 0.85, true),
        |  ('pqr', 'isotropic', 0.85, true), ('pqr', 'clustered', 0.85, true),
        |  ('sq', 'isotropic', 0.9, true), ('sq', 'clustered', 0.9, true))
        |  t(method, shape, bar, recall_ge_bar)
        |ORDER BY method, shape""".stripMargin))
  )
}

package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.model.{Tables, Views}
import graft.operators._
import graft.queries.OracleFragments._

/** Training-data corpus: sampling, packing, tokenization, text
  * quality and language id, and the exact / near-duplicate filters. */
private[graft] object CorpusQueries {
  val defs: Seq[QueryDef] = Seq(
    // DSIR importance resampling (arXiv:2302.03169, deterministic
    // form): rank corpus docs by hashed-unigram importance toward a
    // target domain (here lang='en') and keep each source's top 5.
    // Features are 256 md5-prefix buckets; the per-doc log importance
    // weight Σ_b c_db·ln((ct_b+1)/(cs_b+1)) folds through a broadcast
    // join against the two 256-row bucket dims, and the totals term
    // n_d·(ln(Ts+256) − ln(Tt+256)) rides a 1-row broadcast scalar.
    // Docs rank by the FLOORED score (what the hash pins) so the
    // top-5 cut is reproducible across engines.
    QueryDef("q_dsir_sample", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          explode(split(trim(col("text")), " +")).as("word"))
        .filter(length(col("word")) > 0)
        .withColumn("b", substring(md5(col("word")), 1, 2))
      // ONE bucket aggregation carries both corpus and target counts
      // (cs = all words, ct = en words — conditional sum ≡ the filtered
      // count), and the global totals are sums OVER the 256 bucket rows
      // — two word-explode passes instead of four
      val buckets = words.groupBy(col("b"))
        .agg(count(lit(1)).as("cs"),
          sum((col("lang") === "en").cast("long")).as("ct"))
      val dims = buckets
        .select(col("b"),
          (log(coalesce(col("ct"), lit(0L)) + 1) - log(col("cs") + 1))
            .as("lr"))
      val tot = Views.pinned(buckets).agg(
        sum(col("cs")).cast("double").as("ts_all"),
        sum(col("ct")).cast("double").as("tt"))
      val perDoc = words.join(broadcast(dims), "b")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).cast("double").as("nw"), sum(col("lr")).as("s0"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("source"),
          col("nw").cast("long").as("n_words"),
          floor((col("s0") + col("nw") *
            (log(col("ts_all") + 256) - log(col("tt") + 256))) * 1e4)
            .cast("long").as("score_e4"))
      perDoc
        .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("score_e4").desc, col("doc_id"))))
        .filter(col("rk") <= 5)
        .select(col("source"), col("doc_id"), col("n_words"),
          col("score_e4"), col("rk").cast("long").as("rk"))
        .orderBy(col("source"), col("rk"))
    }, Some(
      """WITH w AS (
        |  SELECT doc_id, source, lang,
        |    unnest(regexp_split_to_array(trim(text), ' +')) AS word
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, source, lang, word, substr(md5(word), 1, 2) AS b
        |  FROM w WHERE len(word) > 0),
        |src AS (SELECT b, COUNT(*) AS cs FROM f GROUP BY 1),
        |tgt AS (SELECT b, COUNT(*) AS ct FROM f WHERE lang = 'en'
        |        GROUP BY 1),
        |dims AS (
        |  SELECT src.b, ln(coalesce(ct, 0) + 1) - ln(cs + 1) AS lr
        |  FROM src LEFT JOIN tgt ON src.b = tgt.b),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS ts_all,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS tt
        |  FROM f),
        |pd AS (
        |  SELECT doc_id, source, CAST(COUNT(*) AS DOUBLE) AS nw,
        |         SUM(lr) AS s0
        |  FROM f JOIN dims USING (b) GROUP BY 1, 2),
        |sc AS (
        |  SELECT doc_id, source, CAST(nw AS BIGINT) AS n_words,
        |    CAST(FLOOR((s0 + nw * (ln(ts_all + 256) - ln(tt + 256)))
        |         * 10000) AS BIGINT) AS score_e4
        |  FROM pd, tot),
        |r AS (
        |  SELECT source, doc_id, n_words, score_e4,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score_e4 DESC, doc_id) AS BIGINT) AS rk
        |  FROM sc)
        |SELECT source, doc_id, n_words, score_e4, rk
        |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin)),

    // BPE pair counting (Sennrich et al. 2016, the merge-selection
    // step of byte-pair-encoding tokenizer training): adjacent
    // character-pair counts over the frequency-WEIGHTED vocabulary —
    // aggregating to the vocab first is the operator's point (vocab ≪
    // corpus, so each merge iteration scans |vocab| words, not the
    // corpus). Pairs via a codegen transform(sequence) 2-gram explode;
    // top-50 with a deterministic (count, pair) tiebreak.
    QueryDef("q_bpe_pairs", (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " +")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      vocab
        .select(col("freq"), explode(expr(
          "transform(sequence(1, length(word) - 1)," +
            " i -> substring(word, i, 2))")).as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("occurrences"))
        .orderBy(col("occurrences").desc, col("pair"))
        .limit(50)
    }, Some(
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word
        |  FROM documents),
        |v AS (SELECT word, COUNT(*) AS freq FROM w
        |      WHERE len(word) >= 2 GROUP BY 1),
        |p AS (
        |  SELECT substr(word, CAST(i AS INT), 2) AS pair, freq
        |  FROM v, UNNEST(range(1, len(word))) AS t(i))
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS occurrences
        |FROM p GROUP BY 1
        |ORDER BY occurrences DESC, pair LIMIT 50""".stripMargin)),

    // CCNet perplexity buckets (Wenzek et al. 2019: per-language
    // head/middle/tail thirds by LM score — the standard quality
    // partition for crawl corpora; head = most fluent under the
    // corpus LM). ntile(3) over a lang-partitioned order on the
    // ALREADY-PINNED nll_4 score (so the bucket cut inherits the
    // floor pin's determinism), then per-bucket profile.
    QueryDef("q_ppl_buckets", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scores = TextAnalysis.lmScore(Tables.documents(s, d),
        "doc_id", "text")
      val meta = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("nll_4"), col("doc_id"))
      scores.join(meta, "doc_id")
        .withColumn("bucket", ntile(3).over(w))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("docs"),
          min(col("nll_4")).as("nll_min_4"),
          max(col("nll_4")).as("nll_max_4"),
          sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"), col("bucket"))
    }, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), ' +')) AS word
        |  FROM documents),
        |t2 AS (SELECT doc_id, word FROM t WHERE len(word) > 0),
        |c AS (SELECT word, COUNT(*) AS cnt FROM t2 GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total,
        |         CAST(COUNT(*) AS DOUBLE) AS vocab
        |  FROM c),
        |s AS (
        |  SELECT doc_id,
        |    CAST(FLOOR(SUM(-ln(CAST(c.cnt + 1 AS DOUBLE)
        |        / (tot.n_total + tot.vocab)))
        |      / COUNT(*) * 1e4) AS BIGINT) AS nll_4
        |  FROM t2 JOIN c USING (word) CROSS JOIN tot
        |  GROUP BY doc_id),
        |b AS (
        |  SELECT d.lang, d.n_chars, s.nll_4,
        |    ntile(3) OVER (PARTITION BY d.lang
        |                   ORDER BY s.nll_4, s.doc_id) AS bucket
        |  FROM s JOIN documents d USING (doc_id))
        |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS docs,
        |  MIN(nll_4) AS nll_min_4, MAX(nll_4) AS nll_max_4,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Deterministic hash sample (the CH SAMPLE clause): the md5-prefix
    // slice of wallets (~6.25%), aggregated. Re-runs pick the same
    // wallets; a smaller threshold picks a subset of a larger one.
    QueryDef("q_sample_hash", (s, d) =>
      Sampling.hashSample(wt(s, d), col("wallet"), "1000")
        .groupBy(col("wallet"))
        .agg(count(lit(1)).as("trades"),
          sum(col("usd")).cast("double").as("volume_usd"))
        .orderBy(col("wallet")), Some(
      s"""WITH $WT
        |SELECT wallet, COUNT(*) AS trades,
        |  CAST(SUM(usd) AS DOUBLE) AS volume_usd
        |FROM wt
        |WHERE substr(md5(CAST(wallet AS VARCHAR)), 1, 4) < '1000'
        |GROUP BY wallet ORDER BY wallet""".stripMargin)),

    // Stratified deterministic sample: 10% of every language's
    // documents by md5 rank — the reproducible data-mix recipe.
    QueryDef("q_sample_stratified", (s, d) =>
      Sampling.stratifiedSample(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          col("lang"), col("doc_id"), 0.1)
        .orderBy(col("doc_id")), Some(
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang FROM r
        |WHERE rn <= CEIL(n * 0.1)
        |ORDER BY doc_id""".stripMargin)),

    // Corpus-mix executor: per-source deterministic sampling at
    // per-source rates (the data-mix recipe applied) — rate derived
    // from the source's numeric suffix, 0.1/0.3/0.5/0.7/0.9.
    QueryDef("q_mix_sample", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val rates = docs.select(col("source")).distinct()
        .withColumn("rate",
          lit(0.1) + pmod(substring(col("source"), 4, 10).cast("int"), lit(5))
            * 0.2)
      Sampling.mixSample(docs, "source", col("doc_id"), rates)
        .orderBy(col("doc_id"))
    },
    // per-source rate as a 4-hex-char md5-prefix threshold — the
    // same 16-bit grid as q_sample_hash, replayed per stratum
    Some(
      """WITH r AS (
        |  SELECT DISTINCT source,
        |    0.1 + (CAST(substr(source, 4) AS INT) % 5) * 0.2 AS rate
        |  FROM documents)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) <
        |  lpad(lower(hex(CAST(FLOOR(r.rate * 65536) AS BIGINT))), 4, '0')
        |ORDER BY d.doc_id""".stripMargin)),

    // Sequence packing: concatenate docs per (lang, doc_id % 8) shard
    // in doc order, cut into 512-token sequences; each doc lands at
    // (pack_id, pack_offset) by prefix sum — the training-batch
    // assembly step after cleaning/dedup/mixing.
    QueryDef("q_seq_pack", (s, d) => {
      val (ws, _) = TextAnalysis.tokenCounts(col("text"))
      CorpusPipeline.packSequences(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), col("text"))
            .withColumn("shard", pmod(col("doc_id"), lit(8))),
          Seq(col("lang"), col("shard")), col("doc_id"), ws, 512)
        .select(col("doc_id"), col("lang"), col("shard"), col("tokens"),
          col("pack_id"), col("pack_offset"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, lang, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
        |      AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, shard, tokens,
        |    COALESCE(SUM(tokens) OVER (PARTITION BY lang, shard
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM t)
        |SELECT doc_id, lang, shard, tokens,
        |  CAST(cb // 512 AS BIGINT) AS pack_id,
        |  CAST(cb % 512 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Deterministic epoch shuffle: every doc gets a reproducible
    // (shard, pos) address — the training-data ordering step after
    // packing. Shard from the md5 prefix in the scan stage, pos by
    // one window per shard: no global row_number bottleneck.
    QueryDef("q_shard_shuffle", (s, d) =>
      Sampling.shardShuffle(
          Tables.documents(s, d).select(col("doc_id")),
          col("doc_id"), seed = "epoch1", shards = 16)
        .orderBy(col("doc_id")), Some(
      """WITH h AS (
        |  SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 16 AS shard,
        |    substr(h, 3, 30) AS rest
        |  FROM h)
        |SELECT doc_id, CAST(shard AS INT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY rest, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Corpus-wide token frequency top-k (the Zipf table).
    QueryDef("q_word_freq", (s, d) =>
      TextAnalysis.wordFrequency(Tables.documents(s, d), "text", 100), Some(
      """SELECT word, COUNT(*) AS occurrences FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word
        |  FROM documents) t
        |WHERE len(word) > 0
        |GROUP BY word
        |ORDER BY occurrences DESC, word
        |LIMIT 100""".stripMargin)),

    // Vocabulary build (tokenizer-training / feature-vocab pass):
    // df + occurrences + floored IDF per token at min-df 5.
    QueryDef("q_vocab", (s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), "doc_id", "text",
          minDf = 5)
        .orderBy(col("word")),
    // idf floored at 1e4 (the lmScore convention) so ln() parity
    // cannot flip the hash
    Some(
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS word
        |  FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |pw AS (
        |  SELECT doc_id, word, COUNT(*) AS c FROM w
        |  WHERE len(word) > 0 GROUP BY 1, 2),
        |v AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(c) AS BIGINT) AS cnt
        |  FROM pw GROUP BY 1)
        |SELECT word, df, cnt,
        |  CAST(FLOOR(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e4)
        |    AS BIGINT) AS idf_4
        |FROM v CROSS JOIN n
        |WHERE df >= 5
        |ORDER BY word""".stripMargin)),

    // ClickHouse topK(): SpaceSaving approximate heavy hitters —
    // bounded memory per partition, shuffle independent of vocabulary
    // size (the 100 TB path next to exact q_word_freq). Rows-only:
    // counts are sketch upper bounds (count_est − err is the floor).
    QueryDef("q_word_topk_approx", (s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " +")).as("word"))
        .filter(length(col("word")) > 0)
      HeavyHitters.topKApprox(s, words, "word", 50, 2000)
    }, None),

    // Count-Min point-frequency estimates beside the SpaceSaving
    // top-k: one 4×2048 sketch row (64 KiB, native CountMinAgg,
    // element-wise-add merge) built over every word instance, probed
    // for the exact top-50 words. Rows-only (estimates are sketch
    // upper bounds); q_cm_gate pins the bounds on the full vocab.
    QueryDef("q_word_counts_cm", (s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " +")).as("word"))
        .filter(length(col("word")) > 0)
      val sk = words.agg(graft.functions.CountMinExprs
        .cm_agg(xxhash64(col("word")), 4, 2048).as("sk"))
      words.groupBy(col("word"))
        .agg(count(lit(1)).as("occurrences"))
        .orderBy(col("occurrences").desc, col("word")).limit(50)
        .crossJoin(broadcast(sk))
        .select(col("word"), col("occurrences"),
          graft.functions.CountMinExprs.cm_estimate(col("sk"),
            xxhash64(col("word"))).as("occurrences_est"))
        .orderBy(col("occurrences").desc, col("word"))
    }, None),

    // Data-mix report: docs/tokens per (source, lang) with floored
    // ppm token shares — the "data card" every mix recipe starts from.
    QueryDef("q_data_mix", (s, d) =>
      CorpusPipeline.dataMix(Tables.documents(s, d), "source", "lang", "text")
        .orderBy(col("source"), col("lang")), Some(
      """WITH c AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), ' +'))) AS BIGINT)
        |      AS tokens
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens FROM c)
        |SELECT source, lang, docs, tokens,
        |  CAST(FLOOR(CAST(tokens AS DOUBLE) * 1e6
        |    / CAST(total_tokens AS DOUBLE)) AS BIGINT) AS token_ppm
        |FROM c CROSS JOIN t ORDER BY source, lang""".stripMargin)),

    // PII scrubbing signals: email/URL/digit-run counts + redacted
    // length. Deterministic synthetic PII is salted into every
    // 7th/11th/13th doc so the scrub is provably non-vacuous.
    QueryDef("q_pii_signals", (s, d) => {
      val salted = Tables.documents(s, d).withColumn("text2", concat(
        col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" contact u"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" https://example.org/p/"),
          col("doc_id").cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, concat(lit(" tel 555"),
          lpad(col("doc_id").cast("string"), 7, "0"))).otherwise(lit(""))))
      CorpusPipeline.piiSignals(salted, "doc_id", "text2")
        .sortWithinPartitions(col("doc_id"))
    }, Some(
      """WITH s AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' https://example.org/p/' || CAST(doc_id AS VARCHAR)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |      THEN ' tel 555' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
        |      ELSE '' END AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text2,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS emails,
        |  len(regexp_extract_all(text2, 'https?://[^ ]+')) AS urls,
        |  len(regexp_extract_all(text2, '[0-9]{7,}')) AS digit_runs,
        |  len(text2) AS n_chars,
        |  len(regexp_replace(regexp_replace(regexp_replace(text2,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g')) AS n_chars_redacted
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Unigram-LM fluency score (CCNet-style quality filter): mean
    // token negative log-likelihood under the corpus's own smoothed
    // unigram model, floored ×1e4.
    QueryDef("q_lm_score", (s, d) =>
      TextAnalysis.lmScore(Tables.documents(s, d), "doc_id", "text")
        .sortWithinPartitions(col("doc_id")), Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), ' +')) AS word
        |  FROM documents),
        |t2 AS (SELECT doc_id, word FROM t WHERE len(word) > 0),
        |c AS (SELECT word, COUNT(*) AS cnt FROM t2 GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total,
        |         CAST(COUNT(*) AS DOUBLE) AS vocab
        |  FROM c)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(FLOOR(SUM(-ln(CAST(c.cnt + 1 AS DOUBLE)
        |      / (tot.n_total + tot.vocab)))
        |    / COUNT(*) * 1e4) AS BIGINT) AS nll_4
        |FROM t2 JOIN c USING (word) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BM25 keyword search over the corpus (lexical retrieval twin of
    // the embedding ANN surface).
    QueryDef("q_bm25", (s, d) =>
      Search.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "window", "hash")), Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), ' +')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
        |c AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_dl
        |  FROM dl),
        |qt AS (SELECT * FROM t WHERE term IN ('spark', 'window', 'hash')),
        |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
        |s AS (
        |  SELECT tf.doc_id,
        |    CAST(SUM(CAST(FLOOR(
        |      ln(1 + (c.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |        * (tf.tf * (1.2 + 1.0))
        |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avg_dl))
        |      * 1e4) AS BIGINT)) AS BIGINT) AS score_4,
        |    COUNT(*) AS matched_terms
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN c
        |  GROUP BY 1)
        |SELECT doc_id, matched_terms, score_4
        |FROM s ORDER BY score_4 DESC, doc_id LIMIT 50""".stripMargin)),

    // Binary media plumbing driven end-to-end: text bytes stand in for
    // image/audio payloads; batched fake decode → feature stats.
    QueryDef("q_multimodal_features", (s, d) => {
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
        col("text").cast("binary").as("data"))
      Multimodal.extractFeatures(s, media, dim = 16).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"),
          countDistinct(col("checksum")).as("distinct_media"))
        .orderBy(col("kind"))
    },
    // the batched-decode plumbing preserves every row and byte:
    // n_bytes = char length on the ASCII corpus, and the 64-bit
    // content checksum is injective here, so countDistinct(checksum)
    // = COUNT(DISTINCT text) — the decode stub itself is Spark-only,
    // but its row/byte/identity accounting is fully relational
    Some(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
        |    AS kind,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_bytes,
        |  CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_media
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // REAL multimodal header decode (VERDICT r14 #6 — the one
    // LLM-pipeline family that was stub-shaped): the fixture
    // synthesizes byte-valid PNG signature+IHDR chunks and JFIF
    // APP0+SOF0 streams from doc_id arithmetic (every 7th doc gets a
    // structurally corrupt stream: a garbled IHDR tag / a scan with no
    // frame header), Multimodal.decodeHeaders parses the ACTUAL bytes
    // back in the batched mapPartitions seam, and the oracle
    // recomputes the same fields from the fixture parameters
    // relationally — the hash match proves the byte-level parse, the
    // magic-byte format sniff, and the corrupt-row quarantine.
    QueryDef("q_multimodal_decode", (s, d) => {
      val corrupt = pmod(col("doc_id"), lit(7)) === 0
      val isPng = pmod(col("doc_id"), lit(2)) === 0
      val w = (pmod(col("doc_id"), lit(500)) + 16).cast("long")
      val h = (pmod(col("doc_id") * 7, lit(500)) + 16).cast("long")
      val depth = when(pmod(col("doc_id"), lit(4)) === 0, 8L).otherwise(16L)
      // color type cycles grey/rgb/rgba (channels 1/3/4)
      val colorTypeHex = element_at(array(lit("00"), lit("02"), lit("06")),
        pmod(col("doc_id"), lit(3)).cast("int") + 1)
      val nComp = (pmod(col("doc_id"), lit(3)) + 1).cast("long")
      def hex8(c: Column) = lpad(hex(c), 8, "0")
      def hex4(c: Column) = lpad(hex(c), 4, "0")
      def hex2(c: Column) = lpad(hex(c), 2, "0")
      val pngHex = concat(
        lit("89504E470D0A1A0A"), lit("0000000D"),
        when(corrupt, lit("58585858")).otherwise(lit("49484452")),
        hex8(w), hex8(h), hex2(depth), colorTypeHex,
        lit("000000"), lit("DEADBEEF"))
      val sofHex = concat(lit("FFC0"), hex4(nComp * 3 + 8), lit("08"),
        hex4(h), hex4(w), hex2(nComp),
        element_at(array(lit("011100"), lit("011100011100"),
          lit("011100011100011100")), nComp.cast("int")))
      val jpegHex = concat(lit("FFD8"),
        lit("FFE000104A46494600010200000100010000"),
        when(corrupt, lit("")).otherwise(sofHex),
        lit("FFDA0008010100003F00"), lit("FFD9"))
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        when(isPng, "image/png").otherwise("image/jpeg").as("kind"),
        unhex(when(isPng, pngHex).otherwise(jpegHex)).as("data"))
      Multimodal.decodeHeaders(s, media).toDF().orderBy(col("media_id"))
    },
    // the Spark side parses REAL synthesized PNG/JFIF bytes; the
    // oracle recomputes the same header fields from the fixture's
    // doc_id arithmetic — a hash match proves the byte-level decode
    Some(
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(doc_id % 500 + 16 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST((doc_id * 7) % 500 + 16 AS BIGINT) END AS height,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN
        |         CAST(CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 16 END AS BIGINT)
        |       ELSE CAST(8 AS BIGINT) END AS bit_depth,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN
        |         CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3
        |              ELSE 4 END AS BIGINT)
        |       ELSE CAST(doc_id % 3 + 1 AS BIGINT) END AS channels,
        |  doc_id % 7 <> 0 AS ok,
        |  CASE WHEN doc_id % 7 <> 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 'no IHDR'
        |       ELSE 'no SOF before scan' END AS err
        |FROM documents ORDER BY media_id""".stripMargin)),

    QueryDef("q_corpus_clean", (s, d) =>
      CorpusPipeline.clean(Tables.documents(s, d), "doc_id", "text", "lang",
          "en", CorpusPipeline.Thresholds())
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id")), Some(
      """WITH filtered AS (
        |  SELECT doc_id, source, n_chars, text FROM documents
        |  WHERE lang = 'en'
        |    AND length(text) >= 50
        |    AND CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) /
        |        greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.3
        |    AND CAST(len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |        x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) /
        |        greatest(CAST(len(regexp_split_to_array(trim(text), ' +')) AS DOUBLE), 1.0) >= 0.02),
        |canon AS (
        |  SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY md5(text))
        |SELECT f.doc_id AS doc_id, f.source AS source, f.n_chars AS n_chars
        |FROM filtered f JOIN canon USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Training-data ingest capstone (the corpus-side twin of
    // q_log_decode_e2e's decode→candles seam): clean (lang + quality +
    // exact-dedup canonical) → sliding-window chunk (128/96) → pack
    // chunks into 512-char contexts per shard, all in one plan. The
    // driver gate hash-checks the whole chain — filter thresholds,
    // canonical-copy choice, chunk windows, prefix-sum pack addresses.
    QueryDef("q_corpus_e2e", (s, d) => {
      val cleaned = CorpusPipeline.clean(Tables.documents(s, d), "doc_id",
        "text", "lang", "en", CorpusPipeline.Thresholds())
      val chunks = TextAnalysis.chunk(cleaned, "doc_id", "text",
          size = 128, stride = 96)
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
      CorpusPipeline.packSequences(chunks, Seq(col("shard")),
          struct(col("doc_id"), col("chunk_idx")), col("chunk_len"), 512)
        .select(col("doc_id"), col("chunk_idx"), col("shard"), col("tokens"),
          col("pack_id"), col("pack_offset"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    // the q_corpus_clean filter + canon chain, then the q_doc_chunks
    // windows, then the q_seq_pack prefix-sum — composed end to end
    Some(
      """WITH filtered AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE lang = 'en'
        |    AND length(text) >= 50
        |    AND CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) /
        |        greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.3
        |    AND CAST(len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |        x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) /
        |        greatest(CAST(len(regexp_split_to_array(trim(text), ' +')) AS DOUBLE), 1.0) >= 0.02),
        |canon AS (
        |  SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY md5(text)),
        |cleaned AS (
        |  SELECT f.doc_id, f.text FROM filtered f JOIN canon USING (doc_id)),
        |chunks AS (
        |  SELECT doc_id, i AS chunk_idx, doc_id % 8 AS shard,
        |    CAST(length(substring(text, CAST(i * 96 + 1 AS INT), 128)) AS BIGINT)
        |      AS tokens
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(range(CAST(ceil(greatest(length(text) - 128, 0) / 96.0)
        |        AS BIGINT) + 1)) AS i
        |    FROM cleaned)),
        |c AS (
        |  SELECT doc_id, chunk_idx, shard, tokens,
        |    COALESCE(SUM(tokens) OVER (PARTITION BY shard
        |      ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM chunks)
        |SELECT doc_id, chunk_idx, shard, tokens,
        |  CAST(cb // 512 AS BIGINT) AS pack_id,
        |  CAST(cb % 512 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    QueryDef("q_dedup_clusters", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        ngramN = 3, bands = 8, rowsPerBand = 4, jaccardThreshold = 0.5)
      Dedup.clusters(s, pairs, docs, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("members"), min(col("id")).as("canonical_id"))
        .filter(col("members") > 1)
        .orderBy(col("cluster_id"))
    }, None),

    // Distributed connected components, hard-verified: the edge set is
    // the exact seeded cosine pairs (same family as q_dedup_embedding,
    // deterministic on both engines), clustered by GraphX CC on the
    // Spark side and by a recursive reachability CTE in DuckDB —
    // labels agree because both assign min-reachable-id per component.
    QueryDef("q_dedup_clusters_exact", (s, d) => {
      val base = Tables.embeddings(s, d).select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val seeded = base.filter(col("vec_id") < 25)
        .select((col("vec_id") + 10000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0)).as("embedding"))
      val all = base.unionAll(seeded)
      val pairs = Dedup.embeddingPairs(all, "vec_id", "embedding",
        threshold = 0.999)
      Dedup.clusters(s, pairs, all, "vec_id")
        .orderBy(col("id"))
    }, Some(
      """WITH RECURSIVE base AS (
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
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM nrm a JOIN nrm b ON a.id < b.id
        |  WHERE round(list_dot_product(a.unit, b.unit), 6) >= 0.999),
        |ud AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, node) AS (
        |  SELECT a, a FROM ud
        |  UNION
        |  SELECT r.src, ud.b FROM reach r JOIN ud ON r.node = ud.a),
        |lbl AS (SELECT src AS id, MIN(node) AS cluster_id
        |        FROM reach GROUP BY src)
        |SELECT v.vec_id AS id, COALESCE(l.cluster_id, v.vec_id) AS cluster_id
        |FROM allv v LEFT JOIN lbl l ON v.vec_id = l.id
        |ORDER BY id""".stripMargin)),

    QueryDef("q_dedup_exact", (s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("text_hash")), Some(
      """SELECT md5(text) AS text_hash, COUNT(*) AS copies,
        |  MIN(doc_id) AS canonical_id
        |FROM documents GROUP BY text_hash ORDER BY text_hash""".stripMargin)),

    // Incremental ingest dedup: today's batch (fresh docs + a slice of
    // re-fetched corpus docs under new ids — the re-crawl shape) vs the
    // historical corpus. Bloom-negative rows never join; only the
    // positive sliver shuffles into the exact confirm.
    QueryDef("q_dedup_incremental", (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val refetched = corpus.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val batch = docs.filter(col("doc_id") % 5 === 0).unionByName(refetched)
      Dedup.incremental(batch, corpus, "text",
          expectedCorpusKeys = BloomPrune.dimKeyCount(
            corpus.select(col("doc_id")), "doc_id"))
        .select(col("doc_id"), col("source"), col("is_dup"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        |batch AS (
        |  SELECT doc_id, text, source FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, source
        |  FROM corpus WHERE doc_id % 7 = 0),
        |ch AS (SELECT DISTINCT md5(text) AS h FROM corpus)
        |SELECT b.doc_id AS doc_id, b.source AS source,
        |  CASE WHEN ch.h IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |FROM batch b LEFT JOIN ch ON md5(b.text) = ch.h
        |ORDER BY doc_id""".stripMargin)),

    // URL dedup (#196, promoted r19): the synthesized URL column (see
    // docsUrl) runs four real-world variants of each page through the
    // FULL canonicalization chain — scheme/www/fragment/tracking-param/
    // param-order/default-port/trailing-slash — and keeps the fullest
    // render per canonical URL. The oracle never canonicalizes: it
    // states the expected canonical in closed form from (doc_id,
    // source), so the hash verifies the whole regexp chain the way the
    // ABI-decode oracles verify encode→decode. One keyed shuffle with
    // map-side max_by partials — the crawl-scale shape.
    QueryDef("q_url_dedup", (s, d) =>
      UrlOps.dedupByCanonicalUrl(docsUrl(s, d), "url", "doc_id", "text")
        .select(col("canonical_url"), col("url_dups"), col("doc_id"))
        .orderBy(col("canonical_url")),
    // The oracle does NOT canonicalize: the synthesized URL's canonical
    // form is a closed function of doc_id (variants 0-2 of group
    // k = doc_id/4 all collapse to host/docs/k?a=1&b=2; variant 3 is
    // solo), so the hash verifies the Spark side's full regexp chain —
    // the ABI encode→decode oracle pattern applied to URLs.
    Some(
      """WITH c AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 4 < 3
        |      THEN 'h' || CAST((doc_id // 4) % 41 AS VARCHAR)
        |           || '.example.com/docs/' || CAST(doc_id // 4 AS VARCHAR)
        |           || '?a=1&b=2'
        |      ELSE 'h' || CAST((doc_id // 4) % 41 AS VARCHAR)
        |           || '.example.com/solo/' || CAST(doc_id AS VARCHAR)
        |    END AS canonical_url
        |  FROM documents)
        |SELECT canonical_url, CAST(url_dups AS BIGINT) AS url_dups, doc_id
        |FROM (
        |  SELECT canonical_url, doc_id,
        |    COUNT(*) OVER (PARTITION BY canonical_url) AS url_dups,
        |    ROW_NUMBER() OVER (PARTITION BY canonical_url
        |      ORDER BY length(text) DESC, doc_id) AS rn
        |  FROM c) t
        |WHERE rn = 1 ORDER BY canonical_url""".stripMargin)),

    // Host-level corpus cap (#196's second operator): keep the 8
    // longest docs per host, deterministic id tie-break — the
    // domain-sampling rung of a crawl pipeline. NOT a window: per-host
    // winners come from the cap-bounded k-buffer aggregate (see
    // UrlOps.capPerHost — megahosts cost cap·tasks shuffle rows, the
    // VERDICT r18 #3 fix), so the driver hash pins the aggregate's
    // retention order against the oracle's row_number form.
    QueryDef("q_host_cap", (s, d) =>
      UrlOps.capPerHost(docsUrl(s, d), "url", "doc_id", "text", cap = 8)
        .select(col("host"), col("doc_id"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy(col("host"), col("doc_id")), Some(
      """WITH d AS (
        |  SELECT doc_id, length(text) AS text_len,
        |    'h' || CAST((doc_id // 4) % 41 AS VARCHAR) || '.example.com'
        |      AS host
        |  FROM documents)
        |SELECT host, doc_id, CAST(text_len AS BIGINT) AS text_len
        |FROM (
        |  SELECT host, doc_id, text_len,
        |    ROW_NUMBER() OVER (PARTITION BY host
        |      ORDER BY text_len DESC, doc_id) AS rn
        |  FROM d) t
        |WHERE rn <= 8 ORDER BY host, doc_id""".stripMargin)),

    QueryDef("q_dedup_minhash", (s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
          ngramN = 3, bands = 8, rowsPerBand = 4, jaccardThreshold = 0.5)
        .orderBy(col("id_a"), col("id_b")), None),

    QueryDef("q_dedup_simhash", (s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
          ngramN = 2, maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")), None),

    QueryDef("q_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          bucketCol = "source", ngramN = 3, threshold = 0.3)
        .sortWithinPartitions(col("id_a"), col("id_b")), Some(
      """WITH w AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), ' +') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(greatest(len(ws) - 3, 0) + 1),
        |      i -> array_to_string(ws[(i+1):least(i+3, len(ws))], ' '))) AS grams
        |  FROM w),
        |posts AS (
        |  SELECT source AS bkt, doc_id AS id, len(grams) AS ng,
        |    unnest(grams) AS gram
        |  FROM g),
        |j AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.ng AS n_a, b.ng AS n_b,
        |    COUNT(*) AS shared
        |  FROM posts a JOIN posts b
        |    ON a.bkt = b.bkt AND a.gram = b.gram AND a.id < b.id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b,
        |  CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) AS jaccard
        |FROM j
        |WHERE CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)),

    // Text near-dup recall gate (the q_ann_recall pattern for the
    // MinHash-LSH / SimHash rows-only pipelines): deterministic
    // mutated twins (3-gram Jaccard ≈ 0.6–0.86, clearly above the 0.5
    // dedup threshold) are planted next to the corpus, the REAL
    // bucketed pipelines run over corpus ∪ twins, and recall is
    // measured on the twin pairs — a truth set the oracle rebuilds in
    // O(doc) per doc (no all-pairs join). Operating points: minhash
    // 8 bands × 4 rows holds ≥ 0.75 (measured 1.0 — S-curve
    // 1−(1−j⁴)⁸ ≥ 0.67 above j = 0.6); simhash 2-grams hamming ≤ 3
    // is a precision filter whose 64-bit fingerprint saturates on
    // ~54-word docs (even a one-word-appended twin lands at hamming
    // ≈ 4), so its recall on Jaccard-0.6 twins is pinned LOW (≥ 0.1)
    // — the gate documents that envelope rather than hiding it.
    // Deterministic: seeded hashes, exact integer truth.
    // Two corpus SHAPES (VERDICT r11 #4): the natural corpus, and a
    // TEMPLATED one — every doc prefixed with the same boilerplate, so
    // unrelated docs share a block of identical shingles (cross-doc
    // Jaccard ≈ 0.25, just under the 0.5 threshold) and the LSH
    // buckets fill with confusable neighbors. Recall on the planted
    // twins must hold among those confusers, not just on well-
    // separated documents. Truth sets are recomputed exactly per
    // shape (the twins of the templated corpus are templated too).
    // The simhash×templated row pins the DOCUMENTED SATURATION
    // CLIFF: on ~80-word templated docs the 64-bit fingerprint
    // saturates and hamming ≤ 3 recall collapses to ~0, so the
    // oracle pins recall_ge_bar = FALSE there — the gate records the
    // envelope's collapse instead of hiding it behind a vacuous bar
    // (if simhash recall ever "improved" past 0.1 on that shape, the
    // flip would surface as a hash mismatch worth investigating).
    QueryDef("q_neardup_recall", (s, d) => {
      val docs = Tables.documents(s, d)
      val templated = docs.select(col("doc_id"),
        concat(lit(NeardupBoiler), lit(" "), col("text")).as("text"))
      // per-shape recall rows session-cache like the ANN gate results:
      // deterministic (seeded hashes, exact integer truth), 2 rows per
      // shape — uncached, every steady pass re-ran both LSH pipelines
      // over corpus ∪ twins for booleans that cannot change
      def gated(shape: String, in: DataFrame) =
        Views.cached(s, d, "neardup_gate_" + shape)(
            Dedup.plantedRecall(in, "doc_id", "text"))
          .select(col("method"), lit(shape).as("shape"), col("n_truth"),
            when(col("method") === "minhash_lsh", 0.75).otherwise(0.1)
              .as("bar"),
            (col("recall") >=
              when(col("method") === "minhash_lsh", 0.75).otherwise(0.1))
              .as("recall_ge_bar"))
      gated("natural", docs).unionByName(gated("templated", templated))
        .orderBy(col("method"), col("shape"))
    },
    // the truth side (planted twin pairs with exact 3-gram Jaccard
    // ≥ 0.5) is recomputed exactly — same mutation, same grams — in
    // O(doc) per doc; the LSH recall booleans are the method contract
    // at the documented operating points (Spark-only pipelines, same
    // reduction as q_ann_recall)
    Some(
      s"""WITH src AS (
        |  SELECT doc_id, 'natural' AS shape, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'templated',
        |    '$NeardupBoiler' || ' ' || text FROM documents),
        |w AS (
        |  SELECT doc_id, shape,
        |    regexp_split_to_array(trim(text), ' +') AS ws
        |  FROM src WHERE doc_id % 17 = 0),
        |m AS (
        |  SELECT doc_id, shape, ws,
        |    list_transform(ws, (x, i) ->
        |      CASE WHEN i % (12 + (doc_id % 8) * 4) = 0
        |           THEN 'zz' || CAST(i - 1 AS VARCHAR) ELSE x END) AS mws
        |  FROM w),
        |g AS (
        |  SELECT doc_id, shape,
        |    list_distinct(list_transform(range(greatest(len(ws) - 3, 0) + 1),
        |      i -> array_to_string(ws[(i+1):least(i+3, len(ws))], ' '))) AS ga,
        |    list_distinct(list_transform(range(greatest(len(mws) - 3, 0) + 1),
        |      i -> array_to_string(mws[(i+1):least(i+3, len(mws))], ' '))) AS gb
        |  FROM m),
        |t AS (
        |  SELECT shape, CAST(COUNT(*) AS BIGINT) AS n_truth FROM g
        |  WHERE len(ga) > 0 AND len(gb) > 0
        |    AND CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
        |        CAST(len(list_distinct(ga || gb)) AS DOUBLE) >= 0.5
        |  GROUP BY shape)
        |SELECT v.method, v.shape, t.n_truth, v.bar, v.recall_ge_bar
        |FROM (VALUES
        |  ('minhash_lsh', 'natural', 0.75, true),
        |  ('minhash_lsh', 'templated', 0.75, true),
        |  ('simhash_h3', 'natural', 0.1, true),
        |  ('simhash_h3', 'templated', 0.1, false))
        |  v(method, shape, bar, recall_ge_bar)
        |JOIN t ON t.shape = v.shape
        |ORDER BY method, v.shape""".stripMargin)),

    // Model-based quality filter gate (FineWeb-Edu distillation
    // shape): logistic regression learns the FULL heuristic bundle's
    // verdict (quality thresholds AND Gopher repetition thresholds)
    // from surface ratios alone — the repetition side needs a per-doc
    // n-gram aggregation the scorer never sees. AUC on the
    // deterministic held-out fifth is computed IN DataFrame-land
    // (Mann–Whitney over ranks) and pinned ≥ 0.75 (measured 0.89 at
    // sf0.01 / 0.92 at sf0.001 — above the bar, below 1, exactly
    // what makes it a real regression gate).
    QueryDef("q_quality_gate", (s, d) => {
      val docs = Tables.documents(s, d)
      // the model is fit ONCE per session (the operator's own
      // build-once/apply-everywhere seam, like IvfIndex's k-means):
      // the scored held-out slice is a session MV, so the steady
      // bench measures scoring+AUC, not repeated L-BFGS fits
      val a = QualityModel.auc(qualityScored(s, d))
      docs.filter(col("doc_id") % 5 =!= 0)
        .agg(count(lit(1)).as("n_train"))
        .crossJoin(broadcast(a))
        .select(col("n_train"), col("n_test"),
          (col("auc") >= 0.75).as("auc_ge_bar"))
    },
    // the AUC boolean is the learned-filter contract (classifier
    // recovers fluency from surface ratios better than 0.75 AUC on
    // the held-out fifth); split sizes are relational
    Some(
      """SELECT
        |  CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_train,
        |  CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_test,
        |  true AS auc_ge_bar
        |FROM documents""".stripMargin)),

    QueryDef("q_lang_id", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .sortWithinPartitions(col("doc_id")), Some(
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |      x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS s_en,
        |    len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |      x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
        |    len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |      x -> x IN ('le','la','les','et','est','un','une','pas'))) AS s_fr,
        |    len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |      x -> x IN ('el','los','las','y','es','un','una','no'))) AS s_es
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS predicted
        |FROM scored ORDER BY doc_id""".stripMargin)),

    // Classifier-evaluation harness shape: the langid heuristic's
    // row-normalized confusion matrix against the labeled lang column
    // — per (true, predicted) cell counts + share. The honest eval
    // story is visible in the matrix itself: the heuristic has no zh
    // class, so zh rows land in the latin-language cells. Counts are
    // exact; shares are integer ratios (deterministic floor).
    QueryDef("q_langid_eval", (s, d) => {
      val cells = Tables.documents(s, d)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("docs"))
      val tot = cells.groupBy(col("lang")).agg(sum(col("docs")).as("t"))
      cells.join(tot, "lang")
        .select(col("lang"), col("predicted"), col("docs"),
          floor(col("docs") / col("t") * 1e4).cast("long").as("share_e4"))
        .orderBy(col("lang"), col("predicted"))
    }, Some(
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |      x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS s_en,
        |    len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |      x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
        |    len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |      x -> x IN ('le','la','les','et','est','un','une','pas'))) AS s_fr,
        |    len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |      x -> x IN ('el','los','las','y','es','un','una','no'))) AS s_es
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS predicted
        |  FROM scored),
        |cells AS (
        |  SELECT lang, predicted, COUNT(*) AS docs FROM p GROUP BY 1, 2),
        |tot AS (SELECT lang, SUM(docs) AS t FROM cells GROUP BY 1)
        |SELECT lang, predicted, CAST(docs AS BIGINT) AS docs,
        |  CAST(FLOOR(CAST(docs AS DOUBLE) / CAST(t AS DOUBLE) * 10000)
        |       AS BIGINT) AS share_e4
        |FROM cells JOIN tot USING (lang)
        |ORDER BY lang, predicted""".stripMargin)),

    QueryDef("q_text_quality", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.quality(col("text")).as("q"))
        .select(col("doc_id"), col("q.n_chars").as("n_chars"),
          col("q.n_words").as("n_words"),
          col("q.words_per_char").as("words_per_char"),
          col("q.nonalpha_ratio").as("nonalpha_ratio"),
          col("q.stopword_ratio").as("stopword_ratio"),
          col("q.space_ratio").as("space_ratio"))
        .sortWithinPartitions(col("doc_id")), Some(
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(regexp_split_to_array(trim(text), ' +')) AS n_words,
        |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS DOUBLE) /
        |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS words_per_char,
        |  CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) /
        |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS nonalpha_ratio,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), ' +'),
        |    x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) /
        |    greatest(CAST(len(regexp_split_to_array(trim(text), ' +')) AS DOUBLE), 1.0) AS stopword_ratio,
        |  (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, ' ', '', 'g'))) /
        |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS space_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q_token_count", (s, d) => {
      val (ws, bpe) = TextAnalysis.tokenCounts(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), ws.as("ws_tokens"), bpe.as("bpe_tokens"))
        .sortWithinPartitions(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), ' +')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q_fingerprint", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint64(col("text")).as("fp64"))
        .sortWithinPartitions(col("doc_id")),
    // identical fold to TextAnalysis.fingerprint64: seed, ×31 mod
    // 2^40, + codepoint (0 for empty split artifacts)
    Some(
      """SELECT doc_id, list_reduce(
        |  list_prepend(CAST(1099511627689 AS BIGINT),
        |    list_transform(string_split_regex(text, ''),
        |      c -> CAST(CASE WHEN len(c) > 0 THEN ord(c) ELSE 0 END
        |           AS BIGINT))),
        |  (acc, x) -> (acc * 31) % 1099511627776 + x) AS fp64
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Sliding-window character chunking (retrieval / context-window
    // prep): 128-char windows at stride 96 (32-char overlap), one
    // scan-stage explode — no shuffle.
    QueryDef("q_doc_chunks", (s, d) =>
      TextAnalysis.chunk(Tables.documents(s, d), "doc_id", "text",
          size = 128, stride = 96)
        .sortWithinPartitions(col("doc_id"), col("chunk_idx")),
    // chunk i covers [i*96, i*96+128); starts 0..ceil(max(len-128,0)/96)
    Some(
      """SELECT doc_id, i AS chunk_idx,
        |  substring(text, CAST(i * 96 + 1 AS INT), 128) AS chunk_text,
        |  CAST(length(substring(text, CAST(i * 96 + 1 AS INT), 128)) AS BIGINT)
        |    AS chunk_len
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(CAST(ceil(greatest(length(text) - 128, 0) / 96.0)
        |      AS BIGINT) + 1)) AS i
        |  FROM documents)
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Eval-set decontamination (GPT-3 appendix C, 13-gram overlap):
    // every 10th doc poses as the benchmark; the rest is the corpus.
    QueryDef("q_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 13)
        .orderBy(col("doc_id"))
    }, Some(
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(greatest(len(ws) - 13, 0) + 1),
        |      i -> array_to_string(ws[(i+1):least(i+13, len(ws))], ' ')))) AS gram
        |  FROM w),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
        |m AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS contaminated_ngrams
        |  FROM g WHERE doc_id % 10 <> 0 AND gram IN (SELECT gram FROM bench)
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(m.contaminated_ngrams, 0) AS BIGINT) AS contaminated_ngrams,
        |  coalesce(m.contaminated_ngrams, 0) = 0 AS keep
        |FROM documents d LEFT JOIN m USING (doc_id)
        |WHERE d.doc_id % 10 <> 0
        |ORDER BY d.doc_id""".stripMargin)),

    // Gopher-style repetition signals (dup n-gram fractions, top-bigram
    // coverage) per document.
    QueryDef("q_doc_repetition", (s, d) =>
      // plain orderBy: the agg output is doc-count-sized and already
      // shuffle-backed, so sortOnce's resample trick buys nothing
      TextAnalysis.repetition(Tables.documents(s, d), "doc_id", "text")
        .sortWithinPartitions(col("doc_id")), Some(
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n,
        |    unnest(CASE WHEN len(ws) >= n
        |      THEN list_transform(range(1, len(ws) - n + 2),
        |        i -> array_to_string(ws[i:i+n-1], ' '))
        |      ELSE [] END) AS gram
        |  FROM w, (SELECT unnest([1, 2, 3]) AS n)),
        |c AS (
        |  SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS uniq, CAST(MAX(c) AS BIGINT) AS maxc
        |  FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(MAX(CASE WHEN n = 1 THEN total END) AS BIGINT) AS n_tokens,
        |  CAST(MAX(CASE WHEN n = 1 THEN uniq END) AS DOUBLE) /
        |    CAST(MAX(CASE WHEN n = 1 THEN total END) AS DOUBLE) AS distinct_token_ratio,
        |  CAST(MAX(CASE WHEN n = 2 THEN total END) - MAX(CASE WHEN n = 2 THEN uniq END) AS DOUBLE) /
        |    greatest(CAST(MAX(CASE WHEN n = 2 THEN total END) AS DOUBLE), 1.0) AS dup_bigram_frac,
        |  CAST(MAX(CASE WHEN n = 3 THEN total END) - MAX(CASE WHEN n = 3 THEN uniq END) AS DOUBLE) /
        |    greatest(CAST(MAX(CASE WHEN n = 3 THEN total END) AS DOUBLE), 1.0) AS dup_trigram_frac,
        |  CAST(MAX(CASE WHEN n = 2 THEN maxc END) AS DOUBLE) * 2.0 /
        |    CAST(MAX(CASE WHEN n = 1 THEN total END) AS DOUBLE) AS top_bigram_cover
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Falcon/RefinedWeb-style segment dedup: 10-token windows duplicated
    // across ≥2 documents, audited per doc.
    QueryDef("q_segment_dedup", (s, d) =>
      Dedup.segmentDuplication(Tables.documents(s, d), "doc_id", "text",
          chunk = 10, maxDupFrac = 0.5)
        .sortWithinPartitions(col("doc_id")), Some(
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(ws) >= 10
        |      THEN list_transform(range(1, CAST(len(ws) // 10 AS BIGINT) + 1),
        |        i -> array_to_string(ws[((i-1)*10+1):(i*10)], ' '))
        |      ELSE [] END) AS seg
        |  FROM w),
        |d AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM seg GROUP BY 1),
        |per AS (
        |  SELECT s.doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_segments,
        |    CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_segments
        |  FROM seg s JOIN d USING (seg) GROUP BY s.doc_id)
        |SELECT w.doc_id,
        |  COALESCE(per.n_segments, 0) AS n_segments,
        |  COALESCE(per.dup_segments, 0) AS dup_segments,
        |  COALESCE(CAST(per.dup_segments AS DOUBLE) /
        |    CAST(per.n_segments AS DOUBLE), 0.0) AS dup_segment_frac,
        |  COALESCE(CAST(per.dup_segments AS DOUBLE) /
        |    CAST(per.n_segments AS DOUBLE) < 0.5, true) AS keep
        |FROM w LEFT JOIN per USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin)),

    // Exact repeated-substring spans (Lee et al. 2021 ExactSubstr
    // dedup, relational form): maximal runs of positions whose 8-word
    // window re-occurs anywhere in the corpus; `removable` marks
    // spans safe to cut under the keep-the-earliest policy. The
    // oracle recomputes windows, the corpus-minimal occurrence and
    // the island merge relationally — exact string + integer
    // arithmetic on both engines.
    QueryDef("q_repeated_spans", (s, d) =>
      repeatedSpans8(s, d)
        .orderBy(col("doc_id"), col("span_start")),
    // repeated-substring twin: window text + corpus-minimal occurrence
    // per window via partitioned windows, islands via pos − row_number
    Some(
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(range(len(ws) - 8 + 1)) AS pos, ws
        |  FROM w WHERE len(ws) >= 8),
        |win AS (
        |  SELECT doc_id, pos,
        |    array_to_string(ws[(pos+1):(pos+8)], ' ') AS win
        |  FROM p),
        |mk AS (
        |  SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY win) AS occ,
        |    ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
        |  FROM win),
        |d AS (SELECT doc_id, pos, (rn = 1) AS canon FROM mk WHERE occ >= 2),
        |i AS (
        |  SELECT doc_id, pos, canon,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM d)
        |SELECT doc_id,
        |  CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
        |  CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_words,
        |  (SUM(CASE WHEN canon THEN 1 ELSE 0 END) = 0) AS removable
        |FROM i GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin)),

    // The APPLY side of ExactSubstr dedup: removable spans cut from
    // each document — one (the earliest) copy of every duplicated
    // substring survives; the cleaned text is hash-compared verbatim.
    QueryDef("q_exactsub_dedup", (s, d) =>
      TextAnalysis.cutSpans(Tables.documents(s, d), "doc_id", "text",
          repeatedSpans8(s, d))
        .orderBy(col("doc_id")),
    // apply twin: same span machinery, removable spans only, then a
    // position anti-join and an ordered string_agg rebuild
    Some(
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(range(len(ws) - 8 + 1)) AS pos, ws
        |  FROM w WHERE len(ws) >= 8),
        |win AS (
        |  SELECT doc_id, pos,
        |    array_to_string(ws[(pos+1):(pos+8)], ' ') AS win
        |  FROM p),
        |mk AS (
        |  SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY win) AS occ,
        |    ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
        |  FROM win),
        |d AS (SELECT doc_id, pos, (rn = 1) AS canon FROM mk WHERE occ >= 2),
        |i AS (
        |  SELECT doc_id, pos, canon,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM d),
        |sp AS (
        |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
        |  FROM i GROUP BY doc_id, grp
        |  HAVING SUM(CASE WHEN canon THEN 1 ELSE 0 END) = 0),
        |words AS (
        |  SELECT doc_id, unnest(range(len(ws))) AS pos, ws FROM w),
        |kept AS (
        |  SELECT wd.doc_id, wd.pos, wd.ws[wd.pos + 1] AS word
        |  FROM words wd
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = wd.doc_id AND wd.pos BETWEEN sp.s AND sp.e))
        |SELECT w.doc_id,
        |  COALESCE(string_agg(k.word, ' ' ORDER BY k.pos), '') AS text_clean,
        |  CAST(COUNT(k.pos) AS BIGINT) AS kept_words,
        |  CAST(len(w.ws) - COUNT(k.pos) AS BIGINT) AS cut_words
        |FROM w LEFT JOIN kept k USING (doc_id)
        |GROUP BY w.doc_id, w.ws
        |ORDER BY doc_id""".stripMargin))
  )

  /** Deterministic synthesized URL column over the documents table
    * (#196's driver gate: the testdata carries no URL, so the synthesis
    * IS the fixture contract both engines share). doc_id groups of four
    * (k = doc_id/4): variants 0-2 are the SAME logical page under
    * scheme/www/default-port/tracking-param/param-order/fragment/
    * trailing-slash mutations — the Spark side must run the real
    * canonicalization chain (UrlOps.canonicalizeUrl) to collapse them,
    * while the DuckDB oracle states the expected canonical form in
    * closed form (`host/docs/k?a=1&b=2`) — and variant 3 is a solo
    * page. Hosts cycle k%41 so each host holds many docs (the
    * host-cap operator has real work to bound). */
  private def docsUrl(s: SparkSession, d: String): DataFrame = {
    val k = floor(col("doc_id") / 4).cast("long")
    val v = pmod(col("doc_id"), lit(4L))
    val host = concat(lit("h"), pmod(k, lit(41L)).cast("string"),
      lit(".example.com"))
    val ks = k.cast("string")
    Tables.documents(s, d).withColumn("url",
      when(v === 0, concat(lit("https://www."), host, lit("/docs/"), ks,
          lit("?utm_source=feed&b=2&a=1")))
        .when(v === 1, concat(lit("http://"), host, lit("/docs/"), ks,
          lit("?b=2&a=1#frag")))
        .when(v === 2, concat(lit("https://"), host, lit(":443/docs/"), ks,
          lit("/?b=2&fbclid=zz&a=1")))
        .otherwise(concat(lit("https://"), host, lit("/solo/"),
          col("doc_id").cast("string"))))
  }
}

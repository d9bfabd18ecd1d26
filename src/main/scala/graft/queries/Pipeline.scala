package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llmops.Corpus
import graft.sources.Tables

/** Corpus-curation surface (graft.llmops.Corpus) as declared,
  * DuckDB-oracle-checkable queries: term weighting, quality gating,
  * stratified sampling, sequence packing, decontamination.
  *
  * Determinism: ratios are single IEEE divisions of exact integers; the one
  * transcendental (ln) is quantized ×1e6 to BIGINT before any hash gate or
  * rank order, and the oracle SQL spells the identical operation sequence
  * (same literals, same associativity) so both engines round identically at
  * every step. Integer-typed DuckDB aggregates cast to BIGINT (HUGEINT
  * otherwise leaks into the driver compare).
  */
object Pipeline {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Shared DuckDB CTE: tall per-document term frequencies. */
  private val DuckTf: String =
    """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
      |tf AS (SELECT doc_id AS id, w, count(*) AS tf FROM tok GROUP BY 1, 2)""".stripMargin

  /** North star/text analysis — top-3 TF-IDF terms per document (quantized
    * score; rank and gate both use the quantized value). */
  def q55Tfidf(s: SparkSession, dir: String): DataFrame =
    Corpus.tfidfTopK(docs(s, dir), "doc_id", "text", k = 3)
      .orderBy("id", "rank")

  val q55Sql: String = DuckTf +
    """,
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(doc_id) AS n_docs FROM documents),
      |sc AS (SELECT id, w, tf, df,
      |         CAST(floor(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) * 1000000.0 + 0.5) AS BIGINT) AS tfidf_q
      |       FROM tf JOIN df USING (w) CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY tfidf_q DESC, w) AS "rank" FROM sc)
      |SELECT id, "rank", w, tf, df, tfidf_q FROM r WHERE "rank" <= 3 ORDER BY id, "rank"""".stripMargin

  /** North star — Gopher-style repetition/quality gate (word-count bounds,
    * mean word length, top-word character share, function-word floor). */
  def q56QualityRules(s: SparkSession, dir: String): DataFrame =
    Corpus.qualityRules(docs(s, dir), "doc_id", "text")
      .orderBy("id")

  val q56Sql: String = DuckTf +
    """,
      |pw AS (SELECT id, w, tf, tf * length(w) AS chars FROM tf),
      |a AS (SELECT id, CAST(sum(tf) AS BIGINT) AS n_words,
      |        CAST(sum(chars) AS BIGINT) AS n_token_chars,
      |        CAST(max(chars) AS BIGINT) AS top_word_chars,
      |        count(DISTINCT CASE WHEN w IN ('the','a','of','to','and') THEN w END) AS n_stop_distinct
      |      FROM pw GROUP BY 1)
      |SELECT id, n_words,
      |  CAST(n_token_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
      |  CAST(top_word_chars AS DOUBLE) / CAST(n_token_chars AS DOUBLE) AS top_word_char_frac,
      |  n_stop_distinct,
      |  (n_words BETWEEN 30 AND 100000)
      |    AND (CAST(n_token_chars AS DOUBLE) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0)
      |    AND (CAST(top_word_chars AS DOUBLE) / CAST(n_token_chars AS DOUBLE) <= 0.14)
      |    AND (n_stop_distinct >= 2) AS pass
      |FROM a ORDER BY id""".stripMargin

  /** North star — deterministic 10% stratified sample by language: exact
    * per-stratum quota ⌈cnt/10⌉ via hash-ranked row_number. */
  def q57StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Corpus.sampleStratified(docs(s, dir), "doc_id", "lang", ratePct = 10)
      .orderBy("stratum", "id")

  val q57Sql: String =
    """WITH s AS (SELECT lang AS stratum, doc_id AS id,
      |             (doc_id * 2654435761 + 40503) % 2147483647 AS h FROM documents),
      |r AS (SELECT stratum, id,
      |        row_number() OVER (PARTITION BY stratum ORDER BY h, id) AS smp_rank,
      |        count(*) OVER (PARTITION BY stratum) AS cnt
      |      FROM s)
      |SELECT stratum, id, smp_rank FROM r WHERE smp_rank * 100 <= cnt * 10 + 99
      |ORDER BY stratum, id""".stripMargin

  /** North star — document packing: concat-then-chunk placement of every
    * document into 512-token training sequences across 8 shards. */
  def q58PackSequences(s: SparkSession, dir: String): DataFrame =
    Corpus.packSequences(docs(s, dir), "doc_id", "text", seqLen = 512, nShards = 8)
      .orderBy("id")

  val q58Sql: String =
    """WITH d AS (SELECT doc_id AS id, doc_id % 8 AS shard,
      |             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS excl
      |      FROM d)
      |SELECT id, shard, excl // 512 AS seq_id, excl % 512 AS "offset", n_tokens
      |FROM c ORDER BY id""".stripMargin

  /** North star — BM25 relevance (k1=1.2, b=0.75) of every document against
    * the query bag {join, window, scan}; integer-summed quantized
    * contributions. */
  def q59Bm25(s: SparkSession, dir: String): DataFrame =
    Corpus.bm25(docs(s, dir), "doc_id", "text", Seq("join", "window", "scan"))
      .orderBy("id")

  val q59Sql: String = DuckTf +
    """,
      |dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT count(DISTINCT id) AS n_docs, CAST(sum(tf) AS BIGINT) AS total_len FROM tf),
      |qtf AS (SELECT * FROM tf WHERE w IN ('join', 'window', 'scan')),
      |df AS (SELECT w, count(*) AS df FROM qtf GROUP BY 1),
      |c AS (SELECT id, CAST(floor(
      |        ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
      |          * (tf * (1.2 + 1.0))
      |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
      |               / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))
      |          * 1000000.0 + 0.5) AS BIGINT) AS contrib_q
      |      FROM qtf JOIN df USING (w) JOIN dl USING (id) CROSS JOIN st)
      |SELECT id, count(*) AS n_terms_hit, CAST(sum(contrib_q) AS BIGINT) AS score_q
      |FROM c GROUP BY 1 ORDER BY id""".stripMargin

  /** North star/retrieval — Dirichlet-smoothed query likelihood (Zhai &
    * Lafferty SIGIR'01, [[Corpus.dirichletQl]] with μ=2000) of every
    * document against the same {join, window, scan} query bag q59 scores
    * with BM25 — the language-modeling retrieval family member, and the
    * one that charges documents for ABSENT query terms (zero-tf terms
    * contribute ln(μ·p_c/(dl+μ)), so length is never free). Each log
    * argument is one exact-integer ratio, contributions quantized ×1e6
    * before the sum (the q55/q59 determinism rule). */
  def q170DirichletQl(s: SparkSession, dir: String): DataFrame =
    Corpus.dirichletQl(docs(s, dir), "doc_id", "text",
      Seq("join", "window", "scan"), mu = 2000L)
      .orderBy("id")

  val q170Sql: String = DuckTf +
    """,
      |dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
      |cnt AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cnt FROM tf
      |        WHERE w IN ('join', 'window', 'scan') GROUP BY 1),
      |grid AS (SELECT d.doc_id AS id, c.w, c.cnt FROM documents d CROSS JOIN cnt c),
      |j AS (SELECT g.id, g.cnt, COALESCE(t.tf, 0) AS tf, COALESCE(dl.dl, 0) AS dl
      |      FROM grid g LEFT JOIN tf t ON t.id = g.id AND t.w = g.w
      |                  LEFT JOIN dl ON dl.id = g.id),
      |c2 AS (SELECT id, tf, CAST(floor(
      |         ln(CAST(tf * total + 2000 * cnt AS DOUBLE)
      |            / CAST(total * (dl + 2000) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS contrib_q
      |       FROM j CROSS JOIN tot)
      |SELECT id, CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_hit,
      |  CAST(sum(contrib_q) AS BIGINT) AS score_q
      |FROM c2 GROUP BY 1 ORDER BY id""".stripMargin

  /** Retrieval eval — nDCG@10 of the q59 BM25 ranking against the graded
    * relevance label rel = n_terms_hit (how many distinct query terms the
    * doc contains, 0–3): DCG = Σ relᵢ·w(i) with the ×1e6-quantized rank
    * weight w(i) = ⌊1e6·ln2/ln(i+1) + ½⌋ computed identically from the
    * rank on both engines, IDCG from the ideal (rel DESC, id) order,
    * ndcg_ppm their floored ratio. Completes the retrieval-eval family:
    * q142 recall (how many), q164 MRR (how early), nDCG (how WELL-ORDERED
    * the whole graded list is). No-hit documents rank with score 0 so the
    * cut is over the full corpus; both rankings via the distributed
    * zip-with-index — no single-partition window. */
  def q187Ndcg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    // checkpointed: the scored frame feeds BOTH cut-off branches — without
    // the truncation the whole BM25 pipeline executes twice (r13 opt)
    val scored = docs(s, dir).select(col("doc_id").as("id"))
      .join(Corpus.bm25(docs(s, dir), "doc_id", "text",
        Seq("join", "window", "scan")), Seq("id"), "left")
      .na.fill(0L, Seq("n_terms_hit", "score_q"))
      .select(col("id"), col("score_q"), col("n_terms_hit").as("rel"))
      .localCheckpoint()
    // DCG@10 needs exactly the global top-10 under a total order — a
    // TakeOrdered (orderBy + constant limit), not a full global rank: the
    // previous globalRank form range-sorted and rank-stamped EVERY row
    // twice to read back ten (r13 opt; same discipline as q313's top-k).
    // The rank window after the limit runs over ≤ 10 rows — bounded by
    // the constant k, not the data.
    def dcgOf(order: Seq[Column], rankCol: String, out: String): DataFrame =
      scored.orderBy(order: _*).limit(10)
        .withColumn(rankCol,
          row_number().over(Window.orderBy(order: _*)).cast("long"))
        .withColumn("w_q",
          floor(lit(1000000.0) * log(lit(2.0)) /
            log((col(rankCol) + 1).cast("double")) + 0.5).cast("long"))
        .agg(sum(col("rel") * col("w_q")).as(out))
    val byScore = dcgOf(Seq(col("score_q").desc, col("id")), "rnk", "dcg_q")
    val ideal = dcgOf(Seq(col("rel").desc, col("id")), "irnk", "idcg_q")
    byScore.crossJoin(ideal)
      .withColumn("ndcg_ppm", expr("(dcg_q * 1000000) div idcg_q"))
  }

  val q187Sql: String = DuckTf +
    """,
      |dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT count(DISTINCT id) AS n_docs, CAST(sum(tf) AS BIGINT) AS total_len FROM tf),
      |qtf AS (SELECT * FROM tf WHERE w IN ('join', 'window', 'scan')),
      |df AS (SELECT w, count(*) AS df FROM qtf GROUP BY 1),
      |c AS (SELECT id, CAST(floor(
      |        ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
      |          * (tf * (1.2 + 1.0))
      |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
      |               / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))
      |          * 1000000.0 + 0.5) AS BIGINT) AS contrib_q
      |      FROM qtf JOIN df USING (w) JOIN dl USING (id) CROSS JOIN st),
      |s AS (SELECT id, CAST(count(*) AS BIGINT) AS rel,
      |        CAST(sum(contrib_q) AS BIGINT) AS score_q FROM c GROUP BY 1),
      |al AS (SELECT d.doc_id AS id, COALESCE(s.score_q, 0) AS score_q,
      |         COALESCE(s.rel, 0) AS rel
      |       FROM documents d LEFT JOIN s ON s.id = d.doc_id),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY score_q DESC, id) AS BIGINT) AS rnk,
      |        CAST(row_number() OVER (ORDER BY rel DESC, id) AS BIGINT) AS irnk
      |      FROM al),
      |d1 AS (SELECT CAST(sum(rel * CAST(floor(1000000.0 * ln(2.0)
      |         / ln(CAST(rnk + 1 AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT) AS dcg_q
      |       FROM r WHERE rnk <= 10),
      |d2 AS (SELECT CAST(sum(rel * CAST(floor(1000000.0 * ln(2.0)
      |         / ln(CAST(irnk + 1 AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT) AS idcg_q
      |       FROM r WHERE irnk <= 10)
      |SELECT dcg_q, idcg_q, (dcg_q * 1000000) // idcg_q AS ndcg_ppm
      |FROM d1 CROSS JOIN d2""".stripMargin

  /** North star — benchmark decontamination: corpus documents (doc_id % 10
    * ≠ 0) sharing any token 8-gram with the held-out set (doc_id % 10 = 0);
    * the eval gram index broadcasts. */
  def q60Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Corpus.decontaminate(
      d.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      d.filter(pmod(col("doc_id"), lit(10)) === 0),
      "doc_id", "text", n = 8)
      .orderBy("id")
  }

  val q60Sql: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |g AS (SELECT doc_id AS id, unnest(list_distinct(CASE WHEN len(t) >= 8
      |        THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
      |        ELSE CAST([] AS VARCHAR[]) END)) AS s FROM tok),
      |ev AS (SELECT DISTINCT s FROM g WHERE id % 10 = 0)
      |SELECT id, count(*) AS n_shared_grams FROM g JOIN ev USING (s)
      |WHERE id % 10 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin

  /** North star/similarity — SPARSE cosine k-NN over TF-IDF postings
    * ([[Corpus.tfidfKnn]]): top-5 neighbors for query docs doc_id < 25 via
    * an inverted-index equi-join with a df ≤ 78%-of-docs postings cut —
    * the text-side similarity search complementing the dense-embedding ANN
    * family (q27/q29/q43/q67/q105). */
  def q114SparseKnn(s: SparkSession, dir: String): DataFrame =
    Corpus.tfidfKnn(docs(s, dir), "doc_id", "text", k = 5,
      maxDfPct = 78, queryPred = col("id") < 25)
      .orderBy("id", "rank")

  val q114Sql: String = DuckTf +
    """,
      |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(doc_id) AS n_docs FROM documents),
      |p AS (SELECT id, tf.w,
      |        CAST(floor(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) * 1000000.0 + 0.5)
      |          AS BIGINT) AS wt
      |      FROM tf JOIN dfq ON dfq.w = tf.w CROSS JOIN n
      |      WHERE df * 100 <= n_docs * 78),
      |nrm AS (SELECT id, sqrt(CAST(CAST(sum(wt * wt) AS BIGINT) AS DOUBLE)) AS nrm
      |        FROM p GROUP BY 1),
      |d AS (SELECT a.id AS qid, b.id AS cid, CAST(sum(a.wt * b.wt) AS BIGINT) AS dot,
      |        CAST(count(*) AS BIGINT) AS n_shared_terms
      |      FROM p a JOIN p b ON a.w = b.w AND a.id <> b.id
      |      WHERE a.id < 25 GROUP BY 1, 2),
      |c AS (SELECT qid, cid, n_shared_terms,
      |        round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 12) AS cosine
      |      FROM d JOIN nrm na ON na.id = qid JOIN nrm nb ON nb.id = cid),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid)
      |        AS "rank" FROM c)
      |SELECT qid AS id, "rank", cid AS neighbor_id, n_shared_terms, cosine
      |FROM r WHERE "rank" <= 5 ORDER BY id, "rank"""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q114_sparse_knn", q114SparseKnn, q114Sql),
    Query("q55_tfidf", q55Tfidf, q55Sql),
    Query("q56_quality_rules", q56QualityRules, q56Sql),
    Query("q57_stratified_sample", q57StratifiedSample, q57Sql),
    Query("q58_pack_sequences", q58PackSequences, q58Sql),
    Query("q59_bm25", q59Bm25, q59Sql),
    Query("q60_decontaminate", q60Decontaminate, q60Sql),
    Query("q170_dirichlet_ql", q170DirichletQl, q170Sql),
    Query("q187_ndcg", q187Ndcg, q187Sql))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.llmops.{Corpus, Dedup}
import graft.operators.Sketches
import graft.sources.Tables

/** Round-5 continuation: the operators whose whole point IS the 100 TB
  * posture — deterministic corpus assignment (hash split q83, token-budget
  * caps q84), substring-level dedup coverage (q85), mergeable cardinality
  * sketches (batch q86, streaming q91), multi-dimensional Z-order layout
  * via a native codegen expression (q87), behavioral analytics (funnels
  * q88/q95, retention q89, transitions q96, RFM q97), and the TxStore
  * depth queries (zone-map pruned reads q90, incremental aggregation q92,
  * inverted-index lookups q93, transactional delete q94). Same determinism
  * rules as the rest of the declared surface: every hash-gated column is
  * an integer or a portable hex digest.
  */
object Scale {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  // ------------------------------------------------- q83 hash split

  /** North star/curation — deterministic train/val/test assignment
    * ([[Corpus.hashSplit]]): md5-bucket split, stable under corpus growth
    * and engine choice. 80/10/10 on 256 hash buckets. */
  def q83HashSplit(s: SparkSession, dir: String): DataFrame =
    Corpus.hashSplit(docs(s, dir), "doc_id").orderBy("id")

  val q83Sql: String =
    """WITH b AS (SELECT doc_id AS id,
      |    CAST((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |       + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) AS bucket
      |  FROM documents)
      |SELECT id, bucket,
      |  CASE WHEN bucket * 100 < 80 * 256 THEN 'train'
      |       WHEN bucket * 100 < 90 * 256 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b ORDER BY id""".stripMargin

  // --------------------------------------- q104 leakage-safe cluster split

  /** North star/curation — LEAKAGE-SAFE train/val/test split: q83's md5
    * assignment keyed on the near-dup CLUSTER canonical instead of the doc
    * id, so near-duplicate documents can never straddle train and eval
    * (the classic leakage bug: a test document whose 0.9-Jaccard twin sits
    * in train inflates eval). Composition: q35's prefix-filtered Jaccard
    * edges → connected components → canonical label →
    * [[graft.llmops.Corpus.hashSplitBy]] on the label. Zero shuffles
    * beyond the CC itself; singleton clusters reduce to exactly q83's
    * assignment for their id. */
  def q104LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val edges = graft.llmops.Dedup.jaccardPairs(d, "doc_id", "text", n = 3,
      minJaccard = 0.8, prefixFilter = true)
    val comp = graft.llmops.Dedup.connectedComponents(
      d.select(col("doc_id").as("id")), edges)
    Corpus.hashSplitBy(comp, "component").orderBy("id")
  }

  val q104Sql: String =
    """WITH RECURSIVE
      |tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |sh AS (SELECT doc_id AS id, unnest(list_distinct(CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END)) AS s FROM tok),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
      |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
      |e AS (SELECT id_a, id_b FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      |      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8),
      |bidir AS (SELECT id_a AS src, id_b AS dst FROM e UNION ALL SELECT id_b, id_a FROM e),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.id),
      |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
      |b AS (SELECT id, component,
      |    CAST((instr('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), 1, 1)) - 1) * 16
      |       + instr('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), 2, 1)) - 1 AS BIGINT) AS bucket
      |  FROM comp)
      |SELECT id, component, bucket,
      |  CASE WHEN bucket * 100 < 80 * 256 THEN 'train'
      |       WHEN bucket * 100 < 90 * 256 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b ORDER BY id""".stripMargin

  // ------------------------------------ q158 group-aware k-fold CV

  /** North star/eval — group-aware 5-fold cross-validation assignment
    * ([[Corpus.kFoldBy]] on the q104 near-dup components): GroupKFold
    * with the dup CLUSTER as the group, so no fold's eval slice ever
    * contains a twin of another fold's train slice — q104's leakage-safe
    * guarantee extended from one split to every CV rotation. Fold =
    * md5-bucket(component) mod 5: deterministic, growth-stable,
    * zero-shuffle once components exist. */
  def q158GroupKfold(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val edges = Dedup.jaccardPairs(d, "doc_id", "text", n = 3,
      minJaccard = 0.8, prefixFilter = true)
    val comp = Dedup.connectedComponents(d.select(col("doc_id").as("id")), edges)
    Corpus.kFoldBy(comp, "component", k = 5).orderBy("id")
  }

  val q158Sql: String =
    """WITH RECURSIVE
      |tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |sh AS (SELECT doc_id AS id, unnest(list_distinct(CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END)) AS s FROM tok),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
      |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
      |e AS (SELECT id_a, id_b FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      |      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8),
      |bidir AS (SELECT id_a AS src, id_b AS dst FROM e UNION ALL SELECT id_b, id_a FROM e),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.id),
      |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
      |b AS (SELECT id, component,
      |    CAST((instr('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), 1, 1)) - 1) * 16
      |       + instr('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), 2, 1)) - 1 AS BIGINT) AS bucket
      |  FROM comp)
      |SELECT id, component, bucket, bucket % 5 AS fold
      |FROM b ORDER BY id""".stripMargin

  // ------------------------------------ q132 cluster canonical selection

  /** North star/curation — QUALITY-PRIORITY canonical selection per
    * near-dup cluster (the RefinedWeb/C4 "keep the best copy" decision):
    * q35's prefix-filtered Jaccard edges → connected components, then
    * within each cluster the representative is chosen by (quality pass
    * DESC, n_words DESC, id) — a passing, longer document beats a failing
    * or shorter twin, and the tie-break is the id. q61 reports boolean
    * keep/drop signals; q104 keys the SPLIT on the cluster; this one picks
    * WHICH member survives — the decision an actual dedup rewrite ships.
    *
    * Scale: CC as q35 (lineage-truncated, dup subgraph only); the pick is
    * one rank window partitioned by component (clusters rank
    * independently); quality signals come from the same single
    * tokenization aggregation as q56. Every ordering key is an integer or
    * boolean — engine-portable. */
  def q132ClusterCanonical(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val edges = Dedup.jaccardPairs(d, "doc_id", "text", n = 3,
      minJaccard = 0.8, prefixFilter = true)
    val comp = Dedup.connectedComponents(d.select(col("doc_id").as("id")), edges)
    val qual = Corpus.qualityRules(d, "doc_id", "text")
      .select(col("id"), col("pass"), col("n_words"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
      .orderBy(col("pass").desc, col("n_words").desc, col("id"))
    comp.join(qual, "id")
      .withColumn("canonical_id", first("id").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("id"), col("component"), col("canonical_id"),
        (col("id") === col("canonical_id")).as("keep"))
      .orderBy("id")
  }

  val q132Sql: String =
    """WITH RECURSIVE
      |tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |sh AS (SELECT doc_id AS id, unnest(list_distinct(CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END)) AS s FROM tok),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
      |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
      |e AS (SELECT id_a, id_b FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      |      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8),
      |bidir AS (SELECT id_a AS src, id_b AS dst FROM e UNION ALL SELECT id_b, id_a FROM e),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.id),
      |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
      |tw AS (SELECT doc_id AS id, unnest(t) AS w FROM tok),
      |tf AS (SELECT id, w, count(*) AS tf FROM tw GROUP BY 1, 2),
      |pw AS (SELECT id, w, tf, tf * length(w) AS chars FROM tf),
      |a AS (SELECT id, CAST(sum(tf) AS BIGINT) AS n_words,
      |        CAST(sum(chars) AS BIGINT) AS n_token_chars,
      |        CAST(max(chars) AS BIGINT) AS top_word_chars,
      |        count(DISTINCT CASE WHEN w IN ('the','a','of','to','and') THEN w END) AS n_stop_distinct
      |      FROM pw GROUP BY 1),
      |q AS (SELECT id, n_words,
      |        (n_words BETWEEN 30 AND 100000)
      |          AND (CAST(n_token_chars AS DOUBLE) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0)
      |          AND (CAST(top_word_chars AS DOUBLE) / CAST(n_token_chars AS DOUBLE) <= 0.14)
      |          AND (n_stop_distinct >= 2) AS pass
      |      FROM a),
      |r AS (SELECT c.id, c.component, q.pass, q.n_words,
      |        row_number() OVER (PARTITION BY c.component
      |          ORDER BY q.pass DESC, q.n_words DESC, c.id) AS pick
      |      FROM comp c JOIN q ON q.id = c.id),
      |canon AS (SELECT component, id AS canonical_id FROM r WHERE pick = 1)
      |SELECT r.id, r.component, canon.canonical_id,
      |  r.id = canon.canonical_id AS keep
      |FROM r JOIN canon USING (component) ORDER BY id""".stripMargin

  // ---------------------------------------------- q106 DSIR importance

  /** North star/curation — DSIR importance weighting
    * ([[Corpus.dsirWeights]]): every document scored by the smoothed
    * unigram log-likelihood ratio of the English subcorpus (the target
    * domain) against the whole corpus; `keep` marks docs more target-like
    * than raw-like. The quantized-×1e6 log ratios make the whole pipeline
    * — counts, smoothing, ratio, per-doc sums — hash-replicable. */
  def q106DsirWeights(s: SparkSession, dir: String): DataFrame =
    Corpus.dsirWeights(docs(s, dir), "doc_id", "text", col("lang") === "en")
      .orderBy("id")

  val q106Sql: String =
    """WITH tok AS (SELECT doc_id, lang = 'en' AS tgt,
      |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
      |tf AS (SELECT doc_id AS id, tgt, w, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
      |cnt AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cnt_r,
      |               CAST(sum(CASE WHEN tgt THEN tf ELSE 0 END) AS BIGINT) AS cnt_t
      |        FROM tf GROUP BY 1),
      |scal AS (SELECT CAST(sum(cnt_r) AS BIGINT) AS tot_r,
      |                CAST(sum(cnt_t) AS BIGINT) AS tot_t,
      |                CAST(count(*) AS BIGINT) AS vocab FROM cnt),
      |sc AS (SELECT id, tf,
      |         CAST(floor(ln((CAST(cnt_t + 1 AS DOUBLE) * CAST(tot_r + vocab AS DOUBLE))
      |                      / (CAST(cnt_r + 1 AS DOUBLE) * CAST(tot_t + vocab AS DOUBLE)))
      |              * 1000000.0 + 0.5) AS BIGINT) AS lp_q
      |       FROM tf JOIN cnt USING (w) CROSS JOIN scal),
      |a AS (SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |        CAST(sum(tf * lp_q) AS BIGINT) AS dsir_q FROM sc GROUP BY 1)
      |SELECT id, n_tokens, dsir_q, dsir_q >= 0 AS keep
      |FROM a ORDER BY id""".stripMargin

  // ------------------------------------------ q107 perplexity tiers

  /** North star/curation — CCNet perplexity tiers
    * ([[Corpus.perplexityBuckets]]): per-language head/middle/tail cut on
    * average unigram log-probability against the language's own
    * distribution. The tier window orders by an IEEE quotient of exact
    * integers with an id tiebreak, so the cut replicates bit-for-bit. */
  def q107PerplexityTiers(s: SparkSession, dir: String): DataFrame =
    Corpus.perplexityBuckets(docs(s, dir), "doc_id", "text", "lang", nTiles = 3)
      .orderBy("id")

  val q107Sql: String =
    """WITH tok AS (SELECT doc_id, lang,
      |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
      |tf AS (SELECT doc_id AS id, lang, w, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
      |cnt AS (SELECT lang, w, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS total FROM cnt GROUP BY 1),
      |sc AS (SELECT id, tf.lang, tf.tf,
      |         CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
      |              * 1000000.0 + 0.5) AS BIGINT) AS lp_q
      |       FROM tf JOIN cnt ON cnt.lang = tf.lang AND cnt.w = tf.w
      |                JOIN tot ON tot.lang = tf.lang),
      |a AS (SELECT id, lang, CAST(sum(tf) AS BIGINT) AS n_words,
      |        CAST(sum(tf * lp_q) AS BIGINT) AS sum_lp_q FROM sc GROUP BY 1, 2),
      |b AS (SELECT id, lang, n_words, sum_lp_q,
      |        CAST(ntile(3) OVER (PARTITION BY lang
      |          ORDER BY CAST(sum_lp_q AS DOUBLE) / CAST(n_words AS DOUBLE) DESC, id)
      |          AS BIGINT) AS bucket
      |      FROM a)
      |SELECT id, lang, n_words, sum_lp_q, bucket,
      |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
      |       ELSE 'middle' END AS tier
      |FROM b ORDER BY id""".stripMargin

  // ------------------------------------------- q108 PMI phrase mining

  /** North star/text analysis — word2phrase-style collocation mining
    * ([[Corpus.pmiPhrases]]): adjacent-token bigrams at count ≥ 3 scored
    * by ×1e6-quantized PMI against the corpus's own unigram model;
    * `is_phrase` marks bigrams co-occurring at least e× over chance
    * (pmi_q ≥ 1e6). */
  def q108PmiPhrases(s: SparkSession, dir: String): DataFrame =
    Corpus.pmiPhrases(docs(s, dir), "doc_id", "text",
      minCount = 3L, minPmiQ = 1000000L)
      .orderBy("w1", "w2")

  val q108Sql: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |big AS (SELECT t[i] AS w1, t[i + 1] AS w2
      |        FROM tok, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt_big FROM big GROUP BY 1, 2),
      |uni AS (SELECT unnest(t) AS w FROM tok),
      |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM uni GROUP BY 1),
      |scal AS (SELECT (SELECT CAST(sum(cnt) AS BIGINT) FROM cnt) AS tot_uni,
      |                (SELECT CAST(sum(cnt_big) AS BIGINT) FROM bg) AS tot_big),
      |j AS (SELECT w1, w2, cnt_big, c1.cnt AS cnt_w1, c2.cnt AS cnt_w2,
      |        CAST(floor(ln((CAST(cnt_big AS DOUBLE) * CAST(tot_uni AS DOUBLE)
      |                       * CAST(tot_uni AS DOUBLE))
      |                    / (CAST(c1.cnt AS DOUBLE) * CAST(c2.cnt AS DOUBLE)
      |                       * CAST(tot_big AS DOUBLE)))
      |             * 1000000.0 + 0.5) AS BIGINT) AS pmi_q
      |      FROM bg JOIN cnt c1 ON c1.w = bg.w1 JOIN cnt c2 ON c2.w = bg.w2
      |           CROSS JOIN scal
      |      WHERE cnt_big >= 3)
      |SELECT w1, w2, cnt_big, cnt_w1, cnt_w2, pmi_q, pmi_q >= 1000000 AS is_phrase
      |FROM j ORDER BY w1, w2""".stripMargin

  // ------------------------------------- q213 Kneser–Ney smoothed bigrams

  /** North star/text analysis — interpolated Kneser–Ney bigram LM
    * ([[Corpus.knBigram]]): the q110 bigram model's production smoothing,
    * with the continuation probability (how many DISTINCT left contexts
    * a word follows — "francisco" scores low however frequent) carried
    * in exact ×4-cleared integer arithmetic, ppm-quantized. The LM
    * behind perplexity filtering (q107) when the corpus is too sparse
    * for raw counts. */
  def q213KneserNey(s: SparkSession, dir: String): DataFrame =
    Corpus.knBigram(docs(s, dir), "doc_id", "text", minCount = 3L)
      .orderBy("w1", "w2")

  val q213Sql: String = {
    val fd = graft.operators.Analytics.floorDivScaledSql("num", "den",
      1000000L, op = "//")
    s"""WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |big AS (SELECT t[i] AS w1, t[i + 1] AS w2
      |        FROM tok, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2),
      |lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
      |          CAST(count(*) AS BIGINT) AS t1 FROM bg GROUP BY 1),
      |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS r2 FROM bg GROUP BY 1),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS r FROM bg),
      |j AS (SELECT bg.w1, bg.w2, c12, c1, t1, r2,
      |        greatest(4 * c12 - 3, 0) * CAST(r AS HUGEINT)
      |          + 3 * t1 * CAST(r2 AS HUGEINT) AS num,
      |        4 * c1 * CAST(r AS HUGEINT) AS den
      |      FROM bg JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN scal
      |      WHERE c12 >= 3)
      |SELECT w1, w2, c12, c1, t1, r2, CAST($fd AS BIGINT) AS pkn_ppm
      |FROM j ORDER BY w1, w2""".stripMargin
  }

  // ------------------------------------------- q215 RAKE keyword report

  /** North star/text analysis — corpus keyword extraction
    * ([[graft.llmops.TextAnalysis.rakeKeywords]]): RAKE's
    * degree/frequency word scores summed over stopword-and-punctuation
    * bounded candidate phrases, milli-quantized, global top-100. The
    * "what is this corpus about" report a curation run reads next to
    * q72's vocab and q108's collocations. Phrase segmentation is a
    * scan-side fold; the oracle derives the same phrases via
    * gaps-and-islands, so the hash gate proves the two segmentations
    * agree. */
  def q215RakeKeywords(s: SparkSession, dir: String): DataFrame =
    graft.llmops.TextAnalysis.rakeKeywords(docs(s, dir), "doc_id", "text",
      minOcc = 3L, topK = 100)

  val q215Sql: String = {
    val stops = graft.llmops.TextAnalysis.StopEn
      .map(w => s"'$w'").mkString(", ")
    s"""WITH segs AS (SELECT doc_id AS id,
      |    regexp_split_to_array(lower(text), '[^a-z0-9 ]+') AS sg FROM documents),
      |seg AS (SELECT id, CAST(i AS BIGINT) AS si, sg[i] AS seg
      |        FROM segs, UNNEST(range(1, len(sg) + 1)) u(i)),
      |w0 AS (SELECT id, si, regexp_split_to_array(seg, ' +') AS ws FROM seg),
      |w1 AS (SELECT id, si, CAST(j AS BIGINT) AS wi, ws[j] AS w
      |       FROM w0, UNNEST(range(1, len(ws) + 1)) u(j) WHERE ws[j] <> ''),
      |ns AS (SELECT id, si, wi, w,
      |         wi - row_number() OVER (PARTITION BY id, si ORDER BY wi) AS grp
      |       FROM w1 WHERE w NOT IN ($stops)),
      |ph0 AS (SELECT id, si, grp, string_agg(w, ' ' ORDER BY wi) AS phrase,
      |          CAST(count(*) AS BIGINT) AS plen
      |        FROM ns GROUP BY 1, 2, 3),
      |wstat AS (SELECT ns.w, CAST(count(*) AS BIGINT) AS freq,
      |            CAST(sum(plen) AS BIGINT) AS deg
      |          FROM ns JOIN ph0 USING (id, si, grp) GROUP BY 1),
      |sm AS (SELECT w, (deg * 1000) // freq AS score_milli FROM wstat),
      |ph AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ
      |       FROM ph0 GROUP BY 1),
      |mem AS (SELECT phrase, n_occ,
      |          unnest(list_distinct(string_split(phrase, ' '))) AS w
      |        FROM ph WHERE n_occ >= 3),
      |sc AS (SELECT phrase, n_occ, CAST(sum(score_milli) AS BIGINT) AS score_milli
      |       FROM mem JOIN sm USING (w) GROUP BY 1, 2)
      |SELECT phrase, CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words,
      |  n_occ, score_milli
      |FROM sc ORDER BY score_milli DESC, phrase LIMIT 100""".stripMargin
  }

  // ------------------------------------- q214 item co-occurrence lift

  /** Recsys/training data — item-to-item co-occurrence lift from order
    * baskets: for items i ≠ j sharing an order,
    * lift_ppm = ⌊1e6·N·c_ij/(c_i·c_j)⌋ (observed co-purchase over the
    * independence expectation), top-5 co-items per item at c_ij ≥ 2 —
    * the matrix behind "customers also bought" candidate generation and
    * co-occurrence features. Pair generation is the basket self-join
    * (fan-out bounded by basket size², never catalog²); counts
    * partial-aggregate before shuffling; the rank window partitions by
    * item over its ≥2-support candidates only. A 100 TB catalog with
    * hub items swaps in a per-item count-min prefilter before the
    * window — the q54 heavy-hitter machinery — without changing the
    * emitted schema. N·c_ij rides DECIMAL(38,0) (HUGEINT): it passes
    * int64 once orders × max-support does. */
  def q214ItemCooccur(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val oi = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct()
    val ni = oi.groupBy("item").agg(count(lit(1)).as("c_item"))
    val n = broadcast(oi.agg(countDistinct("ok").as("n_orders")))
    val pairs = oi.as("a")
      .join(oi.withColumnRenamed("item", "item_b").as("b"), "ok")
      .filter(col("item") =!= col("item_b"))
      .groupBy("item", "item_b").agg(count(lit(1)).as("c_ij"))
      .filter(col("c_ij") >= 2)
    pairs
      .join(ni, "item")
      .join(ni.select(col("item").as("item_b"), col("c_item").as("c_item_b")),
        "item_b")
      .crossJoin(n)
      .withColumn("lift_ppm", expr(graft.operators.Analytics.floorDivScaledSql(
        "CAST(n_orders AS DECIMAL(38,0)) * c_ij",
        "CAST(c_item AS DECIMAL(38,0)) * c_item_b", 1000000L)))
      .withColumn("rk", row_number().over(Window.partitionBy("item")
        .orderBy(col("lift_ppm").desc, col("item_b"))).cast("long"))
      .filter(col("rk") <= 5)
      .select("item", "item_b", "c_ij", "c_item", "c_item_b", "lift_ppm", "rk")
      .orderBy("item", "rk")
  }

  val q214Sql: String = {
    val fd = graft.operators.Analytics.floorDivScaledSql(
      "CAST(n_orders AS HUGEINT) * c_ij",
      "CAST(c_item AS HUGEINT) * c_item_b", 1000000L, op = "//")
    s"""WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
      |ni AS (SELECT item, CAST(count(*) AS BIGINT) AS c_item FROM oi GROUP BY 1),
      |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM oi),
      |p AS (SELECT a.item, b.item AS item_b, CAST(count(*) AS BIGINT) AS c_ij
      |      FROM oi a JOIN oi b ON a.ok = b.ok AND a.item <> b.item
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |j0 AS (SELECT p.item, p.item_b, c_ij, na.c_item,
      |         nb.c_item AS c_item_b, n_orders
      |       FROM p JOIN ni na ON na.item = p.item
      |              JOIN ni nb ON nb.item = p.item_b
      |       CROSS JOIN n),
      |j AS (SELECT item, item_b, c_ij, c_item, c_item_b,
      |        CAST($fd AS BIGINT) AS lift_ppm
      |      FROM j0),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY item
      |        ORDER BY lift_ppm DESC, item_b) AS BIGINT) AS rk FROM j)
      |SELECT item, item_b, c_ij, c_item, c_item_b, lift_ppm, rk
      |FROM r WHERE rk <= 5 ORDER BY item, rk""".stripMargin
  }

  // ------------------------------------------ q109 mixture schedule

  /** North star/curation — deterministic mixture-curriculum order
    * ([[Corpus.mixtureSchedule]]): stride-scheduled global training
    * positions interleaving sources by √n temperature weight; the global
    * position comes from the distributed zip-with-index, the oracle from a
    * plain global window. */
  def q109MixtureSchedule(s: SparkSession, dir: String): DataFrame =
    Corpus.mixtureSchedule(docs(s, dir), "doc_id", "source")
      .orderBy("id")

  val q109Sql: String =
    """WITH r AS (SELECT doc_id AS id, source,
      |             (doc_id * 2654435761 + 40503) % 2147483647 AS h FROM documents),
      |rk AS (SELECT id, source,
      |         CAST(row_number() OVER (PARTITION BY source ORDER BY h, id) AS BIGINT)
      |           AS src_rank
      |       FROM r),
      |w AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src,
      |        CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
      |      FROM r GROUP BY 1),
      |v AS (SELECT id, rk.source, src_rank, n_src,
      |        CAST(src_rank AS DOUBLE) / CAST(w AS DOUBLE) AS vtime
      |      FROM rk JOIN w ON w.source = rk.source)
      |SELECT id, source, src_rank, n_src,
      |  CAST(row_number() OVER (ORDER BY vtime, source, id) AS BIGINT) AS position
      |FROM v ORDER BY id""".stripMargin

  // ------------------------------------------ q110 bigram LM scoring

  /** North star/text analysis — interpolated bigram LM scoring
    * ([[Corpus.bigramLogProb]]): Jelinek-Mercer λ=½ smoothing over the
    * corpus's own bigram/unigram counts, per-bigram ×1e6-quantized
    * log-probs, integer cross-multiply average gate at −6.0. */
  def q110BigramLogprob(s: SparkSession, dir: String): DataFrame =
    Corpus.bigramLogProb(docs(s, dir), "doc_id", "text", minAvgLpQ = -6000000L)
      .orderBy("id")

  val q110Sql: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |pr AS (SELECT doc_id AS id, t[i] AS w1, t[i + 1] AS w2
      |       FROM tok, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |tfb AS (SELECT id, w1, w2, CAST(count(*) AS BIGINT) AS tfb FROM pr GROUP BY 1, 2, 3),
      |cb AS (SELECT w1, w2, CAST(sum(tfb) AS BIGINT) AS cnt_big FROM tfb GROUP BY 1, 2),
      |uni AS (SELECT unnest(t) AS w FROM tok),
      |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM uni GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt),
      |lp AS (SELECT cb.w1, cb.w2,
      |         CAST(floor(ln(0.5 * (CAST(cnt_big AS DOUBLE) / CAST(c1.cnt AS DOUBLE))
      |                     + 0.5 * (CAST(c2.cnt AS DOUBLE) / CAST(total AS DOUBLE)))
      |              * 1000000.0 + 0.5) AS BIGINT) AS blp_q
      |       FROM cb JOIN cnt c1 ON c1.w = cb.w1 JOIN cnt c2 ON c2.w = cb.w2
      |            CROSS JOIN tot),
      |a AS (SELECT id, CAST(sum(tfb) AS BIGINT) AS n_bigrams,
      |        CAST(sum(tfb * blp_q) AS BIGINT) AS sum_blp_q
      |      FROM tfb JOIN lp ON lp.w1 = tfb.w1 AND lp.w2 = tfb.w2 GROUP BY 1)
      |SELECT id, n_bigrams, sum_blp_q, sum_blp_q >= -6000000 * n_bigrams AS pass_ppl
      |FROM a ORDER BY id""".stripMargin

  // ------------------------------------- q111 containment decontamination

  /** North star/curation — graded decontamination
    * ([[Corpus.decontaminateContainment]]): share of each training doc's
    * distinct 8-grams appearing in the held-out set (doc_id % 10 = 0),
    * integer cross-multiply gate at 20% — every corpus doc audited, not
    * just the hit set (q60's binary form stays). */
  def q111Containment(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Corpus.decontaminateContainment(
      d.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      d.filter(pmod(col("doc_id"), lit(10)) === 0),
      "doc_id", "text", n = 8, thresholdPct = 20)
      .orderBy("id")
  }

  val q111Sql: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |g AS (SELECT doc_id AS id, unnest(list_distinct(CASE WHEN len(t) >= 8
      |        THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
      |        ELSE CAST([] AS VARCHAR[]) END)) AS s FROM tok),
      |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS n_grams FROM g
      |       WHERE id % 10 <> 0 GROUP BY 1),
      |ev AS (SELECT DISTINCT s FROM g WHERE id % 10 = 0),
      |inter AS (SELECT id, CAST(count(*) AS BIGINT) AS n_shared FROM g JOIN ev USING (s)
      |          WHERE id % 10 <> 0 GROUP BY 1)
      |SELECT sz.id, n_grams, CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
      |  CAST(COALESCE(n_shared, 0) AS BIGINT) * 100 >= n_grams * 20 AS contaminated
      |FROM sz LEFT JOIN inter ON inter.id = sz.id ORDER BY sz.id""".stripMargin

  // ------------------------------------- q112 streaming decontamination

  /** Staged corpus stream for q112: non-eval documents split into three
    * band files (doc_id mod 3), delivered oldest-band-first one file per
    * micro-batch (the q63 arrival pattern). */
  private def stageDocBands(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q112:$dir", {
      val src = docs(s, dir).filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id").as("id"), col("text"),
          pmod(col("doc_id"), lit(3)).as("batch"))
      graft.sources.Staging.stageParts((0L until 3L).map(b =>
        s"band$b" -> src.filter(col("batch") === b).drop("batch")))
    })

  /** S26 depth — stream–STATIC join: documents stream in micro-batches
    * against the broadcast eval gram index
    * ([[graft.streaming.StreamDecontam.sharedGrams]]); result hash-matches
    * the batch decontamination (the q44 contract: complete mode for the
    * oracle check, the production path is watermarked append). */
  def q112StreamDecontam(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamDecontam
    val srcDir = stageDocBands(s, dir)
    // persist + materialize the STATIC side: the stream re-evaluates its
    // static frames every micro-batch, so an uncached gram index would be
    // recomputed (scan + explode + distinct) once per batch
    val evalGrams = docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(explode(StreamDecontam.gramDigests(col("text"), 8)).as("h")).distinct()
      .persist()
    evalGrams.count()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("text", "string")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val flagged = StreamDecontam.sharedGrams(stream, evalGrams, n = 8)
    val qn = s"q112_sdecon_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      flagged.writeStream.outputMode("complete").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-sdecon-ckpt"))
        .start().awaitTermination()
    }
    evalGrams.unpersist() // memory sink holds the result; cache scope is one run
    s.table(qn).orderBy("id")
  }

  val q112Sql: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |g AS (SELECT doc_id AS id, unnest(list_distinct(CASE WHEN len(t) >= 8
      |        THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
      |        ELSE CAST([] AS VARCHAR[]) END)) AS s FROM tok),
      |ev AS (SELECT DISTINCT s FROM g WHERE id % 10 = 0)
      |SELECT id, count(*) AS n_shared_grams FROM g JOIN ev USING (s)
      |WHERE id % 10 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------- q207 streaming substring admission

  /** Staged arrival stream for q207: documents doc_id ≡ 0 (mod 4) split
    * into three band files ((doc_id div 4) mod 3), oldest band first —
    * the q112 arrival pattern. */
  private def stageSubstrBands(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q207:$dir", {
      val src = docs(s, dir).filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id").as("id"), col("text"),
          pmod(expr("doc_id div 4"), lit(3)).cast("long").as("batch"))
      graft.sources.Staging.stageParts((0L until 3L).map(b =>
        s"sband$b" -> src.filter(col("batch") === b).drop("batch")))
    })

  /** S26 depth — SEVENTEENTH streaming path: incremental ExactSubstr
    * admission ([[graft.streaming.StreamSubstr]]). Arriving documents
    * (doc_id ≡ 0 mod 4, three micro-batches) probe the static corpus'
    * 40-gram digest index; per doc, covered characters fold windowlessly
    * (a higher-order aggregate over sorted hit positions — streaming
    * plans cannot window) into dup span/char counts and an exact
    * integer admission verdict (dup share < 20%). q204 cleans the
    * corpus; this gates the door. */
  def q207StreamSubstr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamSubstr
    val srcDir = stageSubstrBands(s, dir)
    // cache the index ALREADY hash-partitioned and sorted on the join key
    // with the stream's state-partition count: the per-batch probe join
    // then reuses the cached layout — no re-exchange and no re-sort of the
    // multi-million-row static side on EVERY micro-batch (guide §2.4:
    // establish a partitioning once and share it)
    val statIdx = StreamSubstr.gramIndex(
      docs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0), "text", L = 40)
      .repartition(8, col("h")).sortWithinPartitions("h")
      .persist()
    statIdx.count() // materialize once; streams re-evaluate static frames
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("text", "string")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val verdicts = StreamSubstr.admission(stream, statIdx, L = 40,
      permilleMax = 200L)
    val qn = s"q207_ssub_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      verdicts.writeStream.outputMode("complete").format("memory")
        .queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-ssub-ckpt"))
        .start().awaitTermination()
    }
    statIdx.unpersist() // memory sink holds the result; cache scope is one run
    s.table(qn).orderBy("id")
  }

  /** Staged LATE-arrival stream for q210: the q207 arrival population
    * (doc_id ≡ 0 mod 4) stamped with a synthetic ingest day
    * day = (doc_id div 4) mod 30 (epoch 2024-01-01), delivered in three
    * bands — days ≤ 19 MINUS a straggler subset (day ≤ 4 and
    * (doc_id div 4) ≡ 0 mod 7), then days 20–24, then the stragglers
    * plus days 25–29 — so the stragglers arrive two batches after their
    * ingest windows, the q190 drop protocol. */
  private def stageSubstrLateBands(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q210:$dir", {
      val src = docs(s, dir).filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id").as("id"), col("text"),
          pmod(expr("doc_id div 4"), lit(30)).cast("long").as("day"))
        .withColumn("ts", expr(
          "timestampadd(DAY, CAST(day AS INT), TIMESTAMP'2024-01-01 00:00:00')"))
      val straggler = col("day") <= 4 &&
        pmod(expr("id div 4"), lit(7)) === 0
      def strip(df: DataFrame): DataFrame = df.select("id", "text", "ts")
      graft.sources.Staging.stageParts(Seq(
        "early" -> strip(src.filter(col("day") <= 19 && !straggler)),
        "mid" -> strip(src.filter(col("day") >= 20 && col("day") <= 24)),
        "late" -> strip(src.filter(straggler || col("day") >= 25))))
    })

  /** S26 depth — the PRODUCTION form of q207
    * ([[graft.streaming.StreamSubstr.admissionWindowed]]): the same
    * substring-admission verdicts, but APPEND mode under a 2-day
    * watermark on the document's ingest day — verdict state expires with
    * the watermark instead of growing with every doc ever seen, each
    * verdict emits exactly once (when the watermark passes its ingest
    * window), stragglers delivered two batches late are DROPPED wholesale
    * (the q190 protocol), and windows newer than the final watermark
    * never emit. The oracle replicates the protocol — the straggler drop
    * and the `day + 1 ≤ max_day − 2` emission cut — so the append-mode
    * semantics themselves are hash-gated. */
  def q210StreamSubstrLate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamSubstr
    val srcDir = stageSubstrLateBands(s, dir)
    // pre-partitioned + sorted on the join key, same rationale as q207
    val statIdx = StreamSubstr.gramIndex(
      docs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0), "text", L = 40)
      .repartition(8, col("h")).sortWithinPartitions("h")
      .persist()
    statIdx.count() // materialize once; streams re-evaluate static frames
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("text", "string").add("ts", "timestamp")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "2 days")
    val verdicts = StreamSubstr.admissionWindowed(stream, statIdx, L = 40,
      permilleMax = 200L)
    val qn = s"q210_ssublate_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      verdicts.writeStream.outputMode("append").format("memory")
        .queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-ssublate-ckpt"))
        .start().awaitTermination()
    }
    statIdx.unpersist() // memory sink holds the result; cache scope is one run
    s.table(qn).orderBy("id")
  }

  val q210Sql: String =
    """WITH d AS (SELECT doc_id AS id, text FROM documents),
      |arrAll AS (SELECT id, text, (id // 4) % 30 AS day FROM d WHERE id % 4 = 0),
      |wm AS (SELECT max(day) - 2 AS wmday FROM arrAll),
      |arr AS (SELECT id, text, day, len(text) AS dl FROM arrAll
      |        WHERE len(text) >= 40
      |          AND NOT (day <= 4 AND (id // 4) % 7 = 0)),
      |stat AS (SELECT DISTINCT substr(text, CAST(i + 1 AS BIGINT), 40) AS gram
      |         FROM d, UNNEST(range(0, greatest(len(text) - 39, 0))) u(i)
      |         WHERE id % 4 <> 0),
      |g AS (SELECT arr.id, CAST(i AS BIGINT) AS pos,
      |        substr(arr.text, CAST(i + 1 AS BIGINT), 40) AS gram
      |      FROM arr, UNNEST(range(0, arr.dl - 39)) u(i)),
      |hit AS (SELECT g.id, g.pos FROM g JOIN stat USING (gram)),
      |isl AS (SELECT id, pos,
      |          sum(CASE WHEN pos > prev + 40 THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY id ORDER BY pos) AS grp
      |        FROM (SELECT id, pos,
      |                lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
      |              FROM hit)),
      |sp AS (SELECT id, grp, min(pos) AS s, max(pos) + 40 AS e
      |       FROM isl GROUP BY 1, 2),
      |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dup_spans,
      |          CAST(sum(e - s) AS BIGINT) AS dup_chars
      |        FROM sp GROUP BY 1)
      |SELECT arr.id, CAST(arr.dl AS BIGINT) AS doc_len,
      |  COALESCE(agg.n_dup_spans, 0) AS n_dup_spans,
      |  COALESCE(agg.dup_chars, 0) AS dup_chars,
      |  COALESCE(agg.dup_chars, 0) * 1000 < arr.dl * 200 AS admitted
      |FROM arr LEFT JOIN agg USING (id) CROSS JOIN wm
      |WHERE arr.day + 1 <= wm.wmday
      |ORDER BY arr.id""".stripMargin

  /** Staged LATE-arrival value stream for q217: parity-1 users' events
    * in the q190 three-band protocol — a straggler subset of the early
    * days arrives two batches after its windows closed. */
  private def stagePsiBands(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q217:$dir", {
      val ev = t(s, dir, "events")
        .filter(pmod(col("user_id"), lit(2)) === 1)
        .select(col("ts"), col("value"), col("event_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val straggler = col("day") <= 19727 && pmod(col("event_id"), lit(7)) === 0
      def strip(df: DataFrame): DataFrame = df.select("ts", "value")
      graft.sources.Staging.stageParts(Seq(
        "first" -> strip(ev.filter(col("day") <= 19742 && !straggler)),
        "second" -> strip(ev.filter(col("day") >= 19743 && col("day") <= 19747)),
        "third" -> strip(ev.filter(straggler || col("day") >= 19748))))
    })

  private val psiBinSql: String =
    "least(greatest(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 1000, 0L), 9L)"

  /** S26 depth (NINETEENTH streaming path) — streaming drift monitor:
    * q184's PSI pieces computed per 5-day ingest window of the live
    * (parity-1) value stream against the static parity-0 baseline
    * histogram, under the q190 late-data protocol — APPEND mode with a
    * 2-day watermark, stragglers delivered two batches late are DROPPED
    * (their absence from n_w is hash-gated), and windows newer than the
    * final watermark never emit. The per-event baseline attach is a
    * stateless stream–static broadcast join BEFORE the windowed
    * aggregation (so the only state is the open windows' counters);
    * totals and the ×1e6-quantized log-ratio assemble batch-side from
    * the emitted (window, bin) rows — windows×bins metadata scale. The
    * "is serving drifting off training" alarm, as a live query. */
  def q217StreamPsi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = stagePsiBands(s, dir)
    val baseline = t(s, dir, "events")
      .filter(pmod(col("user_id"), lit(2)) === 0)
      .select(expr(psiBinSql).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_base"))
      .persist()
    baseline.count() // materialize once; streams re-evaluate static frames
    val schema = new org.apache.spark.sql.types.StructType()
      .add("ts", "timestamp").add("value", "double")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "2 days")
      .withColumn("bin", expr(psiBinSql))
      .join(broadcast(baseline), "bin")
      .groupBy(window(col("ts"), "5 days").as("w"), col("bin"))
      .agg(count(lit(1)).as("n_w"), max("n_base").as("n_base"))
    val qn = s"q217_psi_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      stream.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-psi-ckpt"))
        .start().awaitTermination()
    }
    baseline.unpersist() // memory sink holds the stream result
    val sink = s.table(qn).select(
      expr("unix_micros(w.start) div 86400000000").as("win_day"),
      col("bin"), col("n_w"), col("n_base"))
    val tw = sink.groupBy("win_day").agg(sum("n_w").as("t_w"))
    // lazy: recomputes the 10-row baseline when the result materializes
    // (cache scope stays one invocation)
    val tbase = baseline.agg(sum("n_base").as("t_b"))
    sink.join(tw, "win_day").crossJoin(broadcast(tbase))
      .withColumn("diff_num",
        expr("(n_w + 1) * (t_b + 10) - (n_base + 1) * (t_w + 10)"))
      .withColumn("lr_q",
        floor(log(((col("n_w") + 1) * (col("t_b") + 10)).cast("double") /
          ((col("n_base") + 1) * (col("t_w") + 10)).cast("double"))
          * 1000000.0 + 0.5).cast("long"))
      .select("win_day", "bin", "n_w", "n_base", "t_w", "t_b",
        "diff_num", "lr_q")
      .orderBy("win_day", "bin")
  }

  val q217Sql: String =
    """WITH e AS (SELECT event_id, user_id, value,
      |    CAST(epoch_us(ts) AS BIGINT) AS us,
      |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day
      |  FROM events),
      |s1 AS (SELECT * FROM e WHERE user_id % 2 = 1),
      |kept AS (SELECT * FROM s1 WHERE NOT (day <= 19727 AND event_id % 7 = 0)),
      |wm AS (SELECT CAST(max(us) AS BIGINT) - 172800000000 AS wmf FROM s1),
      |base AS (SELECT least(greatest(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000, 0), 9) AS bin,
      |           CAST(count(*) AS BIGINT) AS n_base
      |         FROM e WHERE user_id % 2 = 0 GROUP BY 1),
      |agg AS (SELECT (day // 5) * 5 AS win_day,
      |          least(greatest(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000, 0), 9) AS bin,
      |          CAST(count(*) AS BIGINT) AS n_w
      |        FROM kept GROUP BY 1, 2),
      |em AS (SELECT agg.win_day, agg.bin, agg.n_w, base.n_base
      |       FROM agg JOIN base USING (bin) CROSS JOIN wm
      |       WHERE (agg.win_day + 5) * 86400000000 <= wmf),
      |tw AS (SELECT win_day, CAST(sum(n_w) AS BIGINT) AS t_w FROM em GROUP BY 1),
      |tb AS (SELECT CAST(sum(n_base) AS BIGINT) AS t_b FROM base)
      |SELECT em.win_day, em.bin, em.n_w, em.n_base, tw.t_w, tb.t_b,
      |  (n_w + 1) * (t_b + 10) - (n_base + 1) * (t_w + 10) AS diff_num,
      |  CAST(floor(ln(CAST((n_w + 1) * (t_b + 10) AS DOUBLE)
      |    / CAST((n_base + 1) * (t_w + 10) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lr_q
      |FROM em JOIN tw USING (win_day) CROSS JOIN tb
      |ORDER BY win_day, bin""".stripMargin

  /** Staged LATE-arrival order stream for q233 (q190 three-band protocol):
    * a straggler subset of the early days (o_orderkey ≡ 0 mod 7,
    * day ≤ 11500) arrives two batches after its windows closed. */
  private def stageCusumBands(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q233:$dir", {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"))
      val straggler = col("day") <= 11500 && pmod(col("o_orderkey"), lit(7)) === 0
      def strip(df: DataFrame): DataFrame = df.select(
        expr("CAST(o_orderdate AS TIMESTAMP)").as("ts"),
        col("o_totalprice").as("price"))
      graft.sources.Staging.stageParts(Seq(
        "first" -> strip(o.filter(col("day") <= 11515 && !straggler)),
        "second" -> strip(o.filter(col("day") >= 11516 && col("day") <= 11525)),
        "third" -> strip(o.filter(straggler || col("day") >= 11526))))
    })

  /** S26 depth (TWENTIETH streaming path) — streaming CUSUM shift monitor:
    * q230's two-sided reset recurrence computed over the LIVE 5-day
    * revenue windows of the staged order stream, under the q190 late-data
    * protocol — APPEND mode with a 2-day watermark, stragglers delivered
    * two batches late are DROPPED (their absence from the window sums is
    * hash-gated), and windows newer than the final watermark never emit.
    * The stream does the distributed work (admission + windowed cent
    * sums, state = open windows only); the inherently-sequential CUSUM
    * fold assembles batch-side over the EMITTED windows — ≤ |days|/5
    * rows, metadata scale — with μ/k re-derived from the same admitted
    * windows the fold walks. The "did revenue shift while we watched"
    * alarm, as a live query. */
  def q233StreamCusum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = stageCusumBands(s, dir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("ts", "timestamp").add("price", "double")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "2 days")
      .withColumn("cents", expr("CAST(CAST(price AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy(window(col("ts"), "5 days").as("w"))
      .agg(sum("cents").as("cents"), count(lit(1)).as("n_orders"))
    val qn = s"q233_cusum_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      stream.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-scusum-ckpt"))
        .start().awaitTermination()
    }
    val sink = s.table(qn).select(
      expr("unix_micros(w.start) div 86400000000").as("win_day"),
      col("cents"), col("n_orders"))
    val target = broadcast(sink
      .agg(expr("sum(cents) div count(*)").as("mu"))
      .select(col("mu"), expr("mu div 10").as("k")))
    sink
      .agg(sort_array(collect_list(struct(col("win_day"), col("cents"),
        col("n_orders")))).as("rows"))
      .crossJoin(target)
      .select(col("mu"), col("k"), explode(expr(
        """aggregate(rows,
          |  named_struct('sp', CAST(0 AS BIGINT), 'sn', CAST(0 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<win_day: BIGINT,
          |      cents: BIGINT, n_orders: BIGINT, sp: BIGINT, sn: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'sp', greatest(CAST(0 AS BIGINT),
          |            IF(acc.sp > mu, CAST(0 AS BIGINT), acc.sp)
          |              + x.cents - mu - k),
          |    'sn', greatest(CAST(0 AS BIGINT),
          |            IF(acc.sn > mu, CAST(0 AS BIGINT), acc.sn)
          |              + mu - x.cents - k),
          |    'out', array_append(acc.out, named_struct(
          |      'win_day', x.win_day, 'cents', x.cents, 'n_orders', x.n_orders,
          |      'sp', greatest(CAST(0 AS BIGINT),
          |              IF(acc.sp > mu, CAST(0 AS BIGINT), acc.sp)
          |                + x.cents - mu - k),
          |      'sn', greatest(CAST(0 AS BIGINT),
          |              IF(acc.sn > mu, CAST(0 AS BIGINT), acc.sn)
          |                + mu - x.cents - k)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.win_day").as("win_day"), col("r.cents").as("cents"),
        col("r.n_orders").as("n_orders"),
        col("r.sp").as("sp"), col("r.sn").as("sn"),
        when(col("r.sp") > col("mu") && col("r.sn") > col("mu"), "both")
          .when(col("r.sp") > col("mu"), "up")
          .when(col("r.sn") > col("mu"), "down")
          .otherwise("none").as("alarm"))
      .orderBy("win_day")
  }

  val q233Sql: String =
    """WITH RECURSIVE o AS (SELECT o_orderkey,
      |    CAST(epoch_us(o_orderdate) AS BIGINT) AS us,
      |    CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |kept AS (SELECT * FROM o WHERE NOT (day <= 11500 AND o_orderkey % 7 = 0)),
      |wm AS (SELECT CAST(max(us) AS BIGINT) - 172800000000 AS wmf FROM o),
      |w AS (SELECT (day // 5) * 5 AS win_day, CAST(sum(cents) AS BIGINT) AS cents,
      |        CAST(count(*) AS BIGINT) AS n_orders
      |      FROM kept GROUP BY 1),
      |em AS (SELECT w.* FROM w CROSS JOIN wm
      |       WHERE (win_day + 5) * 86400000000 <= wmf),
      |t AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS mu,
      |        CAST((sum(cents) // count(*)) // 10 AS BIGINT) AS k FROM em),
      |rr AS (SELECT win_day, cents, n_orders,
      |         CAST(row_number() OVER (ORDER BY win_day) AS BIGINT) AS rn FROM em),
      |c AS (SELECT rn, win_day, cents, n_orders,
      |        greatest(CAST(0 AS BIGINT), cents - mu - k) AS sp,
      |        greatest(CAST(0 AS BIGINT), mu - cents - k) AS sn
      |      FROM rr CROSS JOIN t WHERE rn = 1
      |      UNION ALL
      |      SELECT rr.rn, rr.win_day, rr.cents, rr.n_orders,
      |        greatest(CAST(0 AS BIGINT),
      |          (CASE WHEN c.sp > t.mu THEN 0 ELSE c.sp END)
      |            + rr.cents - t.mu - t.k),
      |        greatest(CAST(0 AS BIGINT),
      |          (CASE WHEN c.sn > t.mu THEN 0 ELSE c.sn END)
      |            + t.mu - rr.cents - t.k)
      |      FROM rr JOIN c ON rr.rn = c.rn + 1 CROSS JOIN t)
      |SELECT win_day, cents, n_orders, sp, sn,
      |  CASE WHEN sp > mu AND sn > mu THEN 'both'
      |       WHEN sp > mu THEN 'up'
      |       WHEN sn > mu THEN 'down' ELSE 'none' END AS alarm
      |FROM c CROSS JOIN t ORDER BY win_day""".stripMargin

  val q207Sql: String =
    """WITH d AS (SELECT doc_id AS id, text FROM documents),
      |arr AS (SELECT id, text, len(text) AS dl FROM d
      |        WHERE id % 4 = 0 AND len(text) >= 40),
      |stat AS (SELECT DISTINCT substr(text, CAST(i + 1 AS BIGINT), 40) AS gram
      |         FROM d, UNNEST(range(0, greatest(len(text) - 39, 0))) u(i)
      |         WHERE id % 4 <> 0),
      |g AS (SELECT arr.id, CAST(i AS BIGINT) AS pos,
      |        substr(arr.text, CAST(i + 1 AS BIGINT), 40) AS gram
      |      FROM arr, UNNEST(range(0, arr.dl - 39)) u(i)),
      |hit AS (SELECT g.id, g.pos FROM g JOIN stat USING (gram)),
      |isl AS (SELECT id, pos,
      |          sum(CASE WHEN pos > prev + 40 THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY id ORDER BY pos) AS grp
      |        FROM (SELECT id, pos,
      |                lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
      |              FROM hit)),
      |sp AS (SELECT id, grp, min(pos) AS s, max(pos) + 40 AS e
      |       FROM isl GROUP BY 1, 2),
      |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dup_spans,
      |          CAST(sum(e - s) AS BIGINT) AS dup_chars
      |        FROM sp GROUP BY 1)
      |SELECT arr.id, CAST(arr.dl AS BIGINT) AS doc_len,
      |  COALESCE(agg.n_dup_spans, 0) AS n_dup_spans,
      |  COALESCE(agg.dup_chars, 0) AS dup_chars,
      |  COALESCE(agg.dup_chars, 0) * 1000 < arr.dl * 200 AS admitted
      |FROM arr LEFT JOIN agg USING (id)
      |ORDER BY arr.id""".stripMargin

  // ------------------------------------------- q127 streaming ANN probe

  /** Staged embedding stream for q127: vectors vec_id ≡ 0 (mod 4) arrive
    * in three band files ((vec_id div 4) mod 3), oldest band first. */
  private def stageVecBands(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q127:$dir", {
      val src = t(s, dir, "embeddings").filter(pmod(col("vec_id"), lit(4)) === 0)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          pmod(expr("vec_id div 4"), lit(3)).cast("long").as("batch"))
      graft.sources.Staging.stageParts((0L until 3L).map(b =>
        s"vband$b" -> src.filter(col("batch") === b).drop("batch")))
    })

  /** S26 depth — streaming ANN at ingest ([[graft.streaming.StreamAnn]]):
    * arriving embeddings (vec_id ≡ 0 mod 4, three micro-batches) hash to
    * their 8-plane LSH bucket and probe the static corpus index
    * (vec_id ≢ 0 mod 4); collisions rescore with the exact ×1e8 integer
    * cosine and each arrival keeps its best match — the embedding twin of
    * q112's gram-index probe. */
  def q127StreamAnn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = stageVecBands(s, dir)
    val index = t(s, dir, "embeddings").filter(pmod(col("vec_id"), lit(4)) =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .persist() // static side: re-evaluated per micro-batch if uncached
    index.count()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("vec", "array<float>")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val best = graft.streaming.StreamAnn.bestMatch(stream, index, planes = 8, dim = 64)
    val qn = s"q127_sann_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      best.writeStream.outputMode("complete").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-sann-ckpt"))
        .start().awaitTermination()
    }
    index.unpersist() // memory sink holds the result; cache scope is one run
    s.table(qn).orderBy("id")
  }

  val q127Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x ->
      |    CAST(sign(CAST(x AS DOUBLE)) * floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS q6
      |  FROM embeddings),
      |pl AS (SELECT i, j,
      |    CASE WHEN ((((2654435761 * (i * 64 + j) + 40503) % 4294967296) >> 16) & 1) = 0
      |         THEN -1 ELSE 1 END AS sgn
      |  FROM range(0, 8) t(i), range(0, 64) u(j)),
      |pd AS (SELECT vec_id, i, CAST(SUM(q6[CAST(j AS INT) + 1] * sgn) AS BIGINT) AS d
      |  FROM v, pl GROUP BY 1, 2),
      |sig AS (SELECT vec_id, CAST(SUM(CASE WHEN d > 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS sg
      |  FROM pd GROUP BY 1),
      |q AS (SELECT vec_id, i,
      |    CAST(sign(CAST(embedding[i] AS DOUBLE))
      |         * floor(abs(CAST(embedding[i] AS DOUBLE)) * 100000000 + 0.5) AS BIGINT) AS s
      |  FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |norms AS (SELECT vec_id, sqrt(CAST(CAST(SUM(s * s) AS BIGINT) AS DOUBLE)) AS nrm
      |          FROM q GROUP BY 1),
      |cand AS (SELECT a.vec_id AS qid, b.vec_id AS cid
      |         FROM sig a JOIN sig b ON a.sg = b.sg
      |         WHERE a.vec_id % 4 = 0 AND b.vec_id % 4 <> 0),
      |dots AS (SELECT c.qid, c.cid, CAST(SUM(qa.s * qb.s) AS BIGINT) AS dot
      |         FROM cand c JOIN q qa ON qa.vec_id = c.qid
      |                     JOIN q qb ON qb.vec_id = c.cid AND qb.i = qa.i
      |         GROUP BY 1, 2),
      |cos AS (SELECT qid, cid, round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 12) AS cosine
      |        FROM dots JOIN norms na ON na.vec_id = qid JOIN norms nb ON nb.vec_id = cid),
      |best AS (SELECT qid, cid, cosine,
      |           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn,
      |           count(*) OVER (PARTITION BY qid) AS n_candidates
      |         FROM cos)
      |SELECT qid AS id, CAST(n_candidates AS BIGINT) AS n_candidates,
      |       cid AS best_match, cosine AS best_cosine
      |FROM best WHERE rn = 1 ORDER BY id""".stripMargin

  // ---------------------------------------- q113 per-source quality caps

  /** North star/curation — per-domain document cap ([[Corpus.capPerStratum]]):
    * keep each source's 15 most lexically-diverse documents (exact integer
    * type–token ratio), the FineWeb-style cap that stops any one domain —
    * usually a template farm — from dominating the mixture. Complements
    * q57 (hash-order sampling) and q84 (token budgets): same stratum
    * machinery, quality-ranked admission. */
  def q113SourceCaps(s: SparkSession, dir: String): DataFrame =
    Corpus.capPerStratum(docs(s, dir), "doc_id", "source", "text", maxDocs = 15)
      .orderBy("stratum", "q_rank")

  val q113Sql: String =
    """WITH s AS (SELECT source AS stratum, doc_id AS id,
      |             regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |m AS (SELECT stratum, id, CAST(len(t) AS BIGINT) AS n_tokens,
      |        CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct FROM s),
      |q AS (SELECT *, CAST(CASE WHEN n_tokens > 0
      |          THEN n_distinct * 1000000 // n_tokens ELSE 0 END AS BIGINT) AS ttr_q
      |      FROM m),
      |r AS (SELECT *, row_number() OVER (PARTITION BY stratum
      |          ORDER BY ttr_q DESC, id) AS q_rank
      |      FROM q)
      |SELECT stratum, id, n_tokens, n_distinct, ttr_q, q_rank
      |FROM r WHERE q_rank <= 15 ORDER BY stratum, q_rank""".stripMargin

  // --------------------------------------------- q115 epoch shuffle order

  /** North star/curation — deterministic epoch shuffle
    * ([[Corpus.epochOrder]]): the seeded global permutation + round-robin
    * shard for two training epochs; position comes from the distributed
    * zip-with-index over md5(epoch ':' id), so the order is reproducible,
    * resumable, and changes completely between epochs. */
  def q115EpochShuffle(s: SparkSession, dir: String): DataFrame =
    Corpus.epochOrder(docs(s, dir), "doc_id", epochs = 2, nShards = 4)
      .orderBy("epoch", "id")

  val q115Sql: String =
    """WITH e AS (SELECT CAST(ep AS BIGINT) AS epoch, doc_id AS id,
      |             md5(CAST(ep AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
      |           FROM documents, UNNEST([0, 1]) AS u(ep)),
      |r AS (SELECT epoch, id,
      |        CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, id) AS BIGINT)
      |          AS position
      |      FROM e)
      |SELECT epoch, id, position, CAST((position - 1) % 4 AS BIGINT) AS shard
      |FROM r ORDER BY epoch, id""".stripMargin

  // ------------------------------------------ q117 streaming source quota

  /** Staged quota stream for q117: documents split into three band files
    * (doc_id mod 3), delivered oldest-band-first one file per micro-batch
    * (the q63 arrival pattern); the batch ordinal rides in the rows. */
  private def stageQuotaSource(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q117:$dir", {
      val src = docs(s, dir).select(col("source").as("stratum"),
        col("doc_id").as("id"), pmod(col("doc_id"), lit(3)).as("batch"))
      graft.sources.Staging.stageParts((0L until 3L).map(b =>
        s"band$b" -> src.filter(col("batch") === b)))
    })

  /** S26 depth — streaming per-source quota
    * ([[graft.streaming.StreamingQuota.admitFirstN]]): the first 10
    * documents of each source in arrival order are admitted, the rest
    * dropped; the running count carries across three micro-batches, so
    * the hash gate proves cross-batch quota state (a stateless engine
    * would admit 10 PER BATCH). */
  def q117StreamQuota(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingQuota
    import s.implicits._
    val srcDir = stageQuotaSource(s, dir)
    val schema = org.apache.spark.sql.Encoders.product[StreamingQuota.QuotaArrival].schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val admitted = StreamingQuota.admitFirstN(
      stream.as[StreamingQuota.QuotaArrival], quota = 10)
    val qn = s"q117_quota_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      admitted.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-quota-ckpt"))
        .start().awaitTermination()
    }
    s.table(qn).orderBy("stratum", "adm_rank")
  }

  val q117Sql: String =
    """WITH d AS (SELECT source AS stratum, doc_id AS id, doc_id % 3 AS batch
      |           FROM documents),
      |r AS (SELECT stratum, id, batch,
      |        CAST(row_number() OVER (PARTITION BY stratum ORDER BY batch, id) AS BIGINT)
      |          AS adm_rank
      |      FROM d)
      |SELECT stratum, id, batch, adm_rank FROM r WHERE adm_rank <= 10
      |ORDER BY stratum, adm_rank""".stripMargin

  // ------------------------------------------- q84 token-budget mixture cap

  /** North star/curation — per-source token budget
    * ([[Corpus.capTokenBudget]]): greedy admission in deterministic hash
    * order until each source has spent its 20k-token quota — the
    * tokens-not-documents form of mixture capping. */
  def q84TokenBudget(s: SparkSession, dir: String): DataFrame =
    Corpus.capTokenBudget(docs(s, dir), "doc_id", "source", "text",
      budget = 20000L).orderBy("stratum", "smp_rank")

  val q84Sql: String =
    """WITH s AS (SELECT source AS stratum, doc_id AS id,
      |    (doc_id * 2654435761 + 40503) % 2147483647 AS h,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (SELECT stratum, id, n_tokens,
      |    row_number() OVER (PARTITION BY stratum ORDER BY h, id) AS smp_rank,
      |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY stratum ORDER BY h, id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM s)
      |SELECT stratum, id, smp_rank, n_tokens, cum_before
      |FROM r WHERE cum_before < 20000 ORDER BY stratum, smp_rank""".stripMargin

  // --------------------------------------- q85 duplicated-span coverage

  /** North star/dedup — substring-level cross-document duplication
    * ([[Dedup.dupSpanCoverage]]): per document, how many token positions
    * sit inside an 8-gram that recurs verbatim in another document. The
    * document-level signal substring dedup acts on. */
  def q85DupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanCoverage(docs(s, dir), "doc_id", "text", n = 8).orderBy("id")

  val q85Sql: String =
    """WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |gr AS (SELECT id, CAST(i AS BIGINT) AS pos, sha256(array_to_string(t[i+1:i+8], ' ')) AS g
      |       FROM tok, UNNEST(range(0, greatest(len(t) - 7, 0))) AS u(i)),
      |df AS (SELECT g, count(DISTINCT id) AS gdf FROM gr GROUP BY 1),
      |cov AS (SELECT DISTINCT gr.id, gr.pos + o AS p
      |        FROM gr JOIN df ON df.g = gr.g, UNNEST(range(0, 8)) AS v(o)
      |        WHERE df.gdf >= 2),
      |nd AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dup_positions FROM cov GROUP BY 1),
      |tot AS (SELECT doc_id AS id,
      |          CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |        FROM documents)
      |SELECT tot.id, tot.n_tokens,
      |  CAST(COALESCE(nd.n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
      |  CAST(CASE WHEN tot.n_tokens > 0
      |            THEN COALESCE(nd.n_dup_positions, 0) * 1000 // tot.n_tokens
      |            ELSE 0 END AS BIGINT) AS dup_permille
      |FROM tot LEFT JOIN nd ON nd.id = tot.id ORDER BY tot.id""".stripMargin

  // ------------------------------------ q204 exact substring dedup

  /** North star/dedup — EXACT substring dedup, Lee et al.'s ExactSubstr
    * ([[Dedup.substringDedup]]): remove every character inside a
    * substring of length ≥ 40 chars occurring twice anywhere in the
    * corpus (any two distinct (doc, offset) positions — cross-doc,
    * within-doc, and overlapping occurrences all count). The operator
    * q85 (8-gram coverage) and q129 (aligned-chunk rewrite) only
    * approximate: arbitrary-offset, arbitrary-length verbatim repetition,
    * detected exactly via the duplicated-L-gram union (see the operator
    * Scaladoc for the equivalence proof; SubstringDedupSpec pins it
    * against a naive all-spans scan). kept_sha digests the rewritten
    * document byte-for-byte, q129-style. */
  def q204SubstringDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(docs(s, dir), "doc_id", "text", minLen = 40)
      .orderBy("id")

  val q204Sql: String =
    """WITH d AS (SELECT doc_id AS id, text FROM documents),
      |g AS (SELECT id, CAST(i AS BIGINT) AS pos, substr(text, i + 1, 40) AS gram
      |      FROM d, UNNEST(range(0, greatest(len(text) - 39, 0))) u(i)),
      |dup AS (SELECT id, pos FROM
      |          (SELECT id, pos, count(*) OVER (PARTITION BY gram) AS n FROM g)
      |        WHERE n >= 2),
      |isl AS (SELECT id, pos,
      |          sum(CASE WHEN pos > prev + 40 THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY id ORDER BY pos) AS grp
      |        FROM (SELECT id, pos,
      |                lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
      |              FROM dup)),
      |sp AS (SELECT id, grp, min(pos) AS s, max(pos) + 40 AS e
      |       FROM isl GROUP BY 1, 2),
      |gaps AS (SELECT id, s, e,
      |           COALESCE(lag(e) OVER (PARTITION BY id ORDER BY s), 0) AS prev_end
      |         FROM sp),
      |agg AS (SELECT gaps.id, CAST(count(*) AS BIGINT) AS n_dup_spans,
      |          CAST(sum(e - s) AS BIGINT) AS dup_chars,
      |          string_agg(substr(d.text, CAST(prev_end + 1 AS BIGINT),
      |            CAST(s - prev_end AS BIGINT)), '' ORDER BY s) AS body,
      |          max(e) AS last_end
      |        FROM gaps JOIN d USING (id) GROUP BY 1),
      |k AS (SELECT agg.id, n_dup_spans, dup_chars,
      |        body || substr(d.text, CAST(last_end + 1 AS BIGINT)) AS kept
      |      FROM agg JOIN d USING (id))
      |SELECT d.id, CAST(len(d.text) AS BIGINT) AS doc_len,
      |  COALESCE(k.n_dup_spans, 0) AS n_dup_spans,
      |  COALESCE(k.dup_chars, 0) AS dup_chars,
      |  sha256(COALESCE(k.kept, d.text)) AS kept_sha
      |FROM d LEFT JOIN k ON k.id = d.id
      |ORDER BY d.id""".stripMargin

  // --------------------------- q209 anchored (sampled) substring dedup

  /** North star/dedup — the PB-scale ANCHORED swap-in for q204
    * ([[Dedup.substringDedupAnchored]]): the same duplicated-L-gram-union
    * ExactSubstr machinery, but only content-defined anchor offsets
    * (md5 of the leading 8 chars starting with one zero hex digit — the
    * q206 FracMinHash keep rule, one position in 16) ever enter the
    * fingerprint shuffle, cutting the wide exchange 16×. Every
    * occurrence of a gram anchors identically, so the removal set is a
    * provable SUBSET of q204's exact set (spec-pinned, with a coverage
    * floor on the fixtures); misses concentrate on short spans and span
    * edges — the documented price of the sampled position stream. q119
    * anchors q46's at-scale swap-in the same way. */
  def q209SubstrAnchored(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedupAnchored(docs(s, dir), "doc_id", "text",
        minLen = 40, anchorK = 8, hexZeros = 1)
      .orderBy("id")

  val q209Sql: String =
    """WITH d AS (SELECT doc_id AS id, text FROM documents),
      |g AS (SELECT id, CAST(i AS BIGINT) AS pos, substr(text, i + 1, 40) AS gram
      |      FROM d, UNNEST(range(0, greatest(len(text) - 39, 0))) u(i)
      |      WHERE substr(md5(substr(text, CAST(i + 1 AS BIGINT), 8)), 1, 1) = '0'),
      |dup AS (SELECT id, pos FROM
      |          (SELECT id, pos, count(*) OVER (PARTITION BY gram) AS n FROM g)
      |        WHERE n >= 2),
      |isl AS (SELECT id, pos,
      |          sum(CASE WHEN pos > prev + 40 THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY id ORDER BY pos) AS grp
      |        FROM (SELECT id, pos,
      |                lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
      |              FROM dup)),
      |sp AS (SELECT id, grp, min(pos) AS s, max(pos) + 40 AS e
      |       FROM isl GROUP BY 1, 2),
      |gaps AS (SELECT id, s, e,
      |           COALESCE(lag(e) OVER (PARTITION BY id ORDER BY s), 0) AS prev_end
      |         FROM sp),
      |agg AS (SELECT gaps.id, CAST(count(*) AS BIGINT) AS n_dup_spans,
      |          CAST(sum(e - s) AS BIGINT) AS dup_chars,
      |          string_agg(substr(d.text, CAST(prev_end + 1 AS BIGINT),
      |            CAST(s - prev_end AS BIGINT)), '' ORDER BY s) AS body,
      |          max(e) AS last_end
      |        FROM gaps JOIN d USING (id) GROUP BY 1),
      |k AS (SELECT agg.id, n_dup_spans, dup_chars,
      |        body || substr(d.text, CAST(last_end + 1 AS BIGINT)) AS kept
      |      FROM agg JOIN d USING (id))
      |SELECT d.id, CAST(len(d.text) AS BIGINT) AS doc_len,
      |  COALESCE(k.n_dup_spans, 0) AS n_dup_spans,
      |  COALESCE(k.dup_chars, 0) AS dup_chars,
      |  sha256(COALESCE(k.kept, d.text)) AS kept_sha
      |FROM d LEFT JOIN k ON k.id = d.id
      |ORDER BY d.id""".stripMargin

  // --------------------------------- q208 keep-first substring dedup

  /** North star/dedup — the keep-FIRST ExactSubstr policy
    * ([[Dedup.substringDedupKeepFirst]]): a character is removed iff its
    * 40-window's content already occurred at a strictly smaller
    * (doc_id, offset) — each document deduped against all PRIOR corpus
    * content, the first copy of every duplicated passage SURVIVING.
    * q204's symmetric remove-all and this keep-first form are the two
    * policies the ExactSubstr literature debates; a trainer that wants
    * to keep one copy of its boilerplate runs this one. */
  def q208SubstrKeepFirst(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedupKeepFirst(docs(s, dir), "doc_id", "text", minLen = 40)
      .orderBy("id")

  val q208Sql: String =
    """WITH d AS (SELECT doc_id AS id, text FROM documents),
      |g AS (SELECT id, CAST(i AS BIGINT) AS pos, substr(text, i + 1, 40) AS gram
      |      FROM d, UNNEST(range(0, greatest(len(text) - 39, 0))) u(i)),
      |dup AS (SELECT id, pos FROM
      |          (SELECT id, pos,
      |             row_number() OVER (PARTITION BY gram ORDER BY id, pos) AS rn
      |           FROM g)
      |        WHERE rn > 1),
      |isl AS (SELECT id, pos,
      |          sum(CASE WHEN pos > prev + 40 THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY id ORDER BY pos) AS grp
      |        FROM (SELECT id, pos,
      |                lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
      |              FROM dup)),
      |sp AS (SELECT id, grp, min(pos) AS s, max(pos) + 40 AS e
      |       FROM isl GROUP BY 1, 2),
      |gaps AS (SELECT id, s, e,
      |           COALESCE(lag(e) OVER (PARTITION BY id ORDER BY s), 0) AS prev_end
      |         FROM sp),
      |agg AS (SELECT gaps.id, CAST(count(*) AS BIGINT) AS n_dup_spans,
      |          CAST(sum(e - s) AS BIGINT) AS dup_chars,
      |          string_agg(substr(d.text, CAST(prev_end + 1 AS BIGINT),
      |            CAST(s - prev_end AS BIGINT)), '' ORDER BY s) AS body,
      |          max(e) AS last_end
      |        FROM gaps JOIN d USING (id) GROUP BY 1),
      |k AS (SELECT agg.id, n_dup_spans, dup_chars,
      |        body || substr(d.text, CAST(last_end + 1 AS BIGINT)) AS kept
      |      FROM agg JOIN d USING (id))
      |SELECT d.id, CAST(len(d.text) AS BIGINT) AS doc_len,
      |  COALESCE(k.n_dup_spans, 0) AS n_dup_spans,
      |  COALESCE(k.dup_chars, 0) AS dup_chars,
      |  sha256(COALESCE(k.kept, d.text)) AS kept_sha
      |FROM d LEFT JOIN k ON k.id = d.id
      |ORDER BY d.id""".stripMargin

  // ------------------------------------ q205 top boilerplate passages

  /** North star/dedup — the top-10 most-repeated maximal duplicated
    * passages ([[Dedup.topBoilerplate]]): q204 says which documents carry
    * duplicated spans; this says WHAT keeps recurring — the report a
    * curation run reads before tuning its knobs. Spans are q204's merged
    * ≥40-char intervals, grouped by verbatim content (as SHA-256 — the
    * text never shuffles), ranked by occurrence count with the digest as
    * the deterministic tie-break. */
  def q205TopBoilerplate(s: SparkSession, dir: String): DataFrame =
    Dedup.topBoilerplate(docs(s, dir), "doc_id", "text", minLen = 40, k = 10)
      .orderBy(col("n_occurrences").desc, col("span_sha"))

  val q205Sql: String =
    """WITH d AS (SELECT doc_id AS id, text FROM documents),
      |g AS (SELECT id, CAST(i AS BIGINT) AS pos, substr(text, i + 1, 40) AS gram
      |      FROM d, UNNEST(range(0, greatest(len(text) - 39, 0))) u(i)),
      |dup AS (SELECT id, pos FROM
      |          (SELECT id, pos, count(*) OVER (PARTITION BY gram) AS n FROM g)
      |        WHERE n >= 2),
      |isl AS (SELECT id, pos,
      |          sum(CASE WHEN pos > prev + 40 THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY id ORDER BY pos) AS grp
      |        FROM (SELECT id, pos,
      |                lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
      |              FROM dup)),
      |sp AS (SELECT id, grp, min(pos) AS s, max(pos) + 40 AS e
      |       FROM isl GROUP BY 1, 2),
      |spans AS (SELECT id, CAST(e - s AS BIGINT) AS span_len,
      |            sha256(substr(d.text, CAST(s + 1 AS BIGINT),
      |              CAST(e - s AS BIGINT))) AS span_sha
      |          FROM sp JOIN d USING (id))
      |SELECT span_sha, span_len,
      |  CAST(count(*) AS BIGINT) AS n_occurrences,
      |  CAST(count(DISTINCT id) AS BIGINT) AS n_docs
      |FROM spans GROUP BY 1, 2
      |ORDER BY n_occurrences DESC, span_sha LIMIT 10""".stripMargin

  // --------------------------------- q206 FracMinHash source containment

  /** North star/dedup — cross-source containment audit over FracMinHash
    * scaled signatures ([[Sketches.fracMinHashContainment]]): per-source
    * 5-gram shingle sets sampled content-defined at 1/16 (md5 first hex
    * digit zero — the sourmash h < H/s rule), pairwise shared-hash
    * counts with BOTH directed containments and the Jaccard estimate in
    * exact integer ppm. The constant-fraction, mergeable-sketch form of
    * q126's exact source matrix — the one that still fits in memory when
    * each source is 10 TB; the estimator arithmetic itself is exact and
    * hash-gated, the sampling relation to the full sets is the stated
    * approximation (like q20). */
  def q206FracMinHash(s: SparkSession, dir: String): DataFrame =
    Sketches.fracMinHashContainment(docs(s, dir), "source", "doc_id", "text",
        n = 5, hexZeros = 1)
      .orderBy("grp_a", "grp_b")

  /** Sketch — KMV distinct-count estimate ([[Sketches.kmvDistinct]],
    * k = 256) of the parts referenced by lineitem, next to the exact
    * distinct count and the signed error in ppm. The sketch answer
    * ("how many distinct keys, from k retained hash values") and its
    * ground truth in one auditable row; below k distinct values the
    * estimator short-circuits to exact (the sf0.001 fixtures pin that
    * branch; the larger SFs pin the estimating branch). */
  def q242KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val est = Sketches.kmvDistinct(
      t(s, dir, "lineitem").select(col("l_partkey")), "l_partkey", k = 256)
    val exact = t(s, dir, "lineitem")
      .agg(countDistinct(col("l_partkey")).as("exact_distinct"))
    est.crossJoin(broadcast(exact))
      .withColumn("err_ppm", expr(graft.operators.Analytics.floorDivScaledSql(
        "est_distinct - exact_distinct", "exact_distinct", 1000000L)))
      .select("n_seen", "kth_hash", "est_distinct", "exact_distinct", "err_ppm")
  }

  val q242Sql: String = {
    val fd = graft.operators.Analytics.floorDivScaledSql(
      "est_distinct - exact_distinct", "exact_distinct", 1000000L, op = "//")
    s"""WITH h AS (SELECT DISTINCT
      |    CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 12)) AS BIGINT) + 1 AS h
      |  FROM lineitem),
      |ks AS (SELECT h FROM h ORDER BY h LIMIT 256),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_seen,
      |          CAST(max(h) AS BIGINT) AS kth_hash FROM ks),
      |ex AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
      |       FROM lineitem),
      |est AS (SELECT n_seen, kth_hash,
      |          CASE WHEN n_seen < 256 THEN n_seen
      |               ELSE (255 * 281474976710656) // kth_hash END AS est_distinct,
      |          exact_distinct
      |        FROM agg CROSS JOIN ex)
      |SELECT n_seen, kth_hash, est_distinct, exact_distinct,
      |  CAST($fd AS BIGINT) AS err_ppm
      |FROM est""".stripMargin
  }

  /** Sketch — count-min point estimates ([[Sketches.countMin]], portable
    * md5 buckets, depth 4 × width 64) for the sampled users
    * (user_id ≡ 0 mod 7) against their exact event counts. The CM
    * guarantee est ≥ exact is emitted per key (`over` = est − exact) and
    * spec-pinned; the sketch's shuffle is FIXED-SIZE (≤ d·w groups per
    * task) no matter how many events flow — the whole point, stated as a
    * query. Estimates are the min over the 4 rows of each key's bucket
    * counters, via one (d, b) equi-join of the 4-row-per-key probe frame
    * against the 256-cell sketch. */
  def q243CountMin(s: SparkSession, dir: String): DataFrame = {
    val depth = 4
    val width = 64
    val ev = t(s, dir, "events").select(col("user_id"))
    val sketch = Sketches.countMin(ev, "user_id", depth, width, portable = true)
    val keys = t(s, dir, "events")
      .filter(pmod(col("user_id"), lit(7)) === 0)
      .groupBy("user_id").agg(count(lit(1)).as("exact"))
    val probes = keys.select(col("user_id"), col("exact"), posexplode(
      array((0 until depth).map(d =>
        Sketches.portableBucket(d, col("user_id"), width)): _*)).as(Seq("d", "b")))
    probes.join(sketch, Seq("d", "b"))
      .groupBy("user_id", "exact").agg(min("c").as("est"))
      .withColumn("over", col("est") - col("exact"))
      .select("user_id", "exact", "est", "over")
      .orderBy("user_id")
  }

  val q243Sql: String =
    """WITH b AS (SELECT user_id, d,
      |    CAST(('0x' || substring(md5(d || ':' || CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
      |      % 64 AS b
      |  FROM events CROSS JOIN (SELECT CAST(x AS VARCHAR) AS d
      |                          FROM UNNEST([0, 1, 2, 3]) AS t(x))),
      |sk AS (SELECT d, b, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
      |keys AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact
      |         FROM events WHERE user_id % 7 = 0 GROUP BY 1),
      |probe AS (SELECT k.user_id, k.exact, s.c
      |          FROM keys k
      |          CROSS JOIN (SELECT CAST(x AS VARCHAR) AS d
      |                      FROM UNNEST([0, 1, 2, 3]) AS t(x)) dd
      |          JOIN sk s ON s.d = dd.d
      |            AND s.b = CAST(('0x' || substring(md5(dd.d || ':' || CAST(k.user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 64)
      |SELECT user_id, exact, CAST(min(c) AS BIGINT) AS est,
      |  CAST(min(c) - exact AS BIGINT) AS over
      |FROM probe GROUP BY 1, 2
      |ORDER BY user_id""".stripMargin

  val q206Sql: String =
    """WITH tok AS (SELECT doc_id AS id, source,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |gr AS (SELECT DISTINCT source, array_to_string(t[i+1:i+5], ' ') AS s
      |       FROM tok, UNNEST(range(0, greatest(len(t) - 4, 0))) u(i)),
      |sig AS (SELECT DISTINCT source AS grp, md5(s) AS h
      |        FROM gr WHERE substr(md5(s), 1, 1) = '0'),
      |grps AS (SELECT DISTINCT source AS grp FROM documents),
      |sz AS (SELECT grps.grp, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
      |       FROM grps LEFT JOIN
      |         (SELECT grp, count(*) AS n FROM sig GROUP BY 1) c USING (grp)),
      |pairs AS (SELECT a.grp AS grp_a, a.n AS sig_a, b.grp AS grp_b, b.n AS sig_b
      |          FROM sz a JOIN sz b ON a.grp < b.grp),
      |shared AS (SELECT a.grp AS grp_a, b.grp AS grp_b,
      |             CAST(count(*) AS BIGINT) AS n_shared
      |           FROM sig a JOIN sig b ON a.h = b.h AND a.grp < b.grp
      |           GROUP BY 1, 2)
      |SELECT grp_a, grp_b, sig_a, sig_b,
      |  COALESCE(n_shared, 0) AS n_shared,
      |  CASE WHEN sig_a = 0 THEN NULL
      |    ELSE (COALESCE(n_shared, 0) * 1000000) // sig_a END AS containment_ab_ppm,
      |  CASE WHEN sig_b = 0 THEN NULL
      |    ELSE (COALESCE(n_shared, 0) * 1000000) // sig_b END AS containment_ba_ppm,
      |  CASE WHEN sig_a + sig_b = 0 THEN NULL
      |    ELSE (COALESCE(n_shared, 0) * 1000000)
      |      // (sig_a + sig_b - COALESCE(n_shared, 0)) END AS jaccard_ppm
      |FROM pairs LEFT JOIN shared USING (grp_a, grp_b)
      |ORDER BY grp_a, grp_b""".stripMargin

  // ------------------------------------- q120 intra-doc repeated spans

  /** North star/dedup — self-repetition coverage
    * ([[Dedup.selfRepeatCoverage]]): per document, how many token positions
    * sit inside a trigram that already occurred earlier in the SAME
    * document — the looping-generation signal q85's cross-document form
    * deliberately ignores. Integer permille, every doc audited. */
  def q120SelfRepeats(s: SparkSession, dir: String): DataFrame =
    Dedup.selfRepeatCoverage(docs(s, dir), "doc_id", "text", n = 3).orderBy("id")

  // --------------------------------------- q129 C4-style chunk dedup

  /** North star/dedup — corpus-REWRITING verbatim chunk dedup
    * ([[Dedup.chunkDedup]]): non-overlapping 16-token chunks, first
    * corpus-wide occurrence wins, documents reassembled from survivors.
    * The mutation C4 applies (q85/q120 only measure); the kept_sha digest
    * hash-gates the rewritten text byte-for-byte. */
  def q129ChunkDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(docs(s, dir), "doc_id", "text", chunkLen = 16)
      .orderBy("id")

  val q129Sql: String =
    """WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |ch AS (SELECT id, CAST(c AS BIGINT) AS cidx,
      |         array_to_string(t[c*16+1:c*16+16], ' ') AS ctext
      |       FROM tok, UNNEST(range(0, (len(t) - 1) // 16 + 1)) AS u(c)
      |       WHERE len(t) > 0),
      |fl AS (SELECT id, cidx, ctext,
      |         row_number() OVER (PARTITION BY sha256(ctext) ORDER BY id, cidx) = 1 AS kept
      |       FROM ch),
      |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_chunks,
      |          CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |          sha256(COALESCE(string_agg(CASE WHEN kept THEN ctext END, ' ' ORDER BY cidx), '')) AS kept_sha
      |        FROM fl GROUP BY 1)
      |SELECT d.doc_id AS id,
      |  COALESCE(agg.n_chunks, 0) AS n_chunks,
      |  COALESCE(agg.n_kept, 0) AS n_kept,
      |  COALESCE(agg.kept_sha, sha256('')) AS kept_sha
      |FROM documents d LEFT JOIN agg ON agg.id = d.doc_id
      |ORDER BY id""".stripMargin

  val q120Sql: String =
    """WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |gr AS (SELECT id, CAST(i AS BIGINT) AS pos, sha256(array_to_string(t[i+1:i+3], ' ')) AS g
      |       FROM tok, UNNEST(range(0, greatest(len(t) - 2, 0))) AS u(i)),
      |f AS (SELECT id, g, min(pos) AS first_pos FROM gr GROUP BY 1, 2),
      |cov AS (SELECT DISTINCT gr.id, gr.pos + o AS p
      |        FROM gr JOIN f ON f.id = gr.id AND f.g = gr.g, UNNEST(range(0, 3)) AS v(o)
      |        WHERE gr.pos > f.first_pos),
      |nd AS (SELECT id, CAST(count(*) AS BIGINT) AS n_repeat_positions FROM cov GROUP BY 1),
      |tot AS (SELECT doc_id AS id,
      |          CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |        FROM documents)
      |SELECT tot.id, tot.n_tokens,
      |  CAST(COALESCE(nd.n_repeat_positions, 0) AS BIGINT) AS n_repeat_positions,
      |  CAST(CASE WHEN tot.n_tokens > 0
      |            THEN COALESCE(nd.n_repeat_positions, 0) * 1000 // tot.n_tokens
      |            ELSE 0 END AS BIGINT) AS repeat_permille
      |FROM tot LEFT JOIN nd ON nd.id = tot.id ORDER BY tot.id""".stripMargin

  // -------------------------------------------- q121/q122 BPE training

  /** Tokenizer prep — distributed BPE merge mining ([[Corpus.bpeMerges]]):
    * 3 rounds of (corpus-weighted adjacent-pair count → merge the top
    * pair), run over the word dictionary so the corpus is scanned exactly
    * once. One row per merge: the learned merge table. */
  def q121BpeMerges(s: SparkSession, dir: String): DataFrame =
    Corpus.bpeMerges(docs(s, dir), "text", iters = 3).orderBy("iter")

  /** The shared 3-iteration BPE CTE chain (dictionary → pairs → top merge
    * → apply, ×3) — mirrored stage-for-stage by [[Corpus.bpeDict]]/
    * [[Corpus.bpePairCounts]]/[[Corpus.bpeStep]]. */
  private val bpeChainSql: String =
    """w AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS wc
      |      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
      |      GROUP BY 1),
      |s0 AS (SELECT word, regexp_replace(word, '(.)', '_\1', 'g') AS syms, wc FROM w),
      |p1 AS (SELECT t[i+1] AS lhs, t[i+2] AS rhs, SUM(wc) AS cnt
      |       FROM (SELECT list_filter(string_split(syms, '_'), x -> x <> '') AS t, wc FROM s0),
      |            UNNEST(range(0, greatest(len(t) - 1, 0))) AS u(i)
      |       GROUP BY 1, 2),
      |m1 AS (SELECT lhs, rhs, cnt FROM p1 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      |s1 AS (SELECT word, replace(syms, '_' || (SELECT lhs FROM m1) || '_' || (SELECT rhs FROM m1),
      |                            '_' || (SELECT lhs FROM m1) || (SELECT rhs FROM m1)) AS syms, wc FROM s0),
      |p2 AS (SELECT t[i+1] AS lhs, t[i+2] AS rhs, SUM(wc) AS cnt
      |       FROM (SELECT list_filter(string_split(syms, '_'), x -> x <> '') AS t, wc FROM s1),
      |            UNNEST(range(0, greatest(len(t) - 1, 0))) AS u(i)
      |       GROUP BY 1, 2),
      |m2 AS (SELECT lhs, rhs, cnt FROM p2 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      |s2 AS (SELECT word, replace(syms, '_' || (SELECT lhs FROM m2) || '_' || (SELECT rhs FROM m2),
      |                            '_' || (SELECT lhs FROM m2) || (SELECT rhs FROM m2)) AS syms, wc FROM s1),
      |p3 AS (SELECT t[i+1] AS lhs, t[i+2] AS rhs, SUM(wc) AS cnt
      |       FROM (SELECT list_filter(string_split(syms, '_'), x -> x <> '') AS t, wc FROM s2),
      |            UNNEST(range(0, greatest(len(t) - 1, 0))) AS u(i)
      |       GROUP BY 1, 2),
      |m3 AS (SELECT lhs, rhs, cnt FROM p3 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      |s3 AS (SELECT word, replace(syms, '_' || (SELECT lhs FROM m3) || '_' || (SELECT rhs FROM m3),
      |                            '_' || (SELECT lhs FROM m3) || (SELECT rhs FROM m3)) AS syms, wc FROM s2)""".stripMargin

  val q121Sql: String =
    s"""WITH $bpeChainSql
       |SELECT CAST(1 AS BIGINT) AS iter, lhs, rhs, CAST(cnt AS BIGINT) AS pair_count,
       |       (SELECT CAST(count(*) AS BIGINT) FROM p1) AS n_pairs FROM m1
       |UNION ALL SELECT 2, lhs, rhs, CAST(cnt AS BIGINT),
       |       (SELECT CAST(count(*) AS BIGINT) FROM p2) FROM m2
       |UNION ALL SELECT 3, lhs, rhs, CAST(cnt AS BIGINT),
       |       (SELECT CAST(count(*) AS BIGINT) FROM p3) FROM m3
       |ORDER BY iter""".stripMargin

  /** Tokenizer prep — post-merge symbol vocabulary ([[Corpus.bpeVocab]]):
    * the corpus as a tokenizer sees it after q121's 3 merges — per symbol,
    * distinct dictionary words containing it and corpus occurrences. */
  def q122BpeVocab(s: SparkSession, dir: String): DataFrame =
    Corpus.bpeVocab(docs(s, dir), "text", iters = 3).orderBy("sym")

  val q122Sql: String =
    s"""WITH $bpeChainSql
       |SELECT sym, CAST(count(DISTINCT word) AS BIGINT) AS n_words,
       |       CAST(SUM(wc) AS BIGINT) AS corpus_count
       |FROM (SELECT word, wc, unnest(list_filter(string_split(syms, '_'), x -> x <> '')) AS sym FROM s3)
       |GROUP BY 1 ORDER BY sym""".stripMargin

  /** North star/curation — per-source unigram drift
    * ([[Corpus.sourceDivergence]]): KL of each source's unigram
    * distribution from the corpus in integer micro-nats — the
    * outlier-domain detector behind mixture weighting. */
  def q124SourceDrift(s: SparkSession, dir: String): DataFrame =
    Corpus.sourceDivergence(docs(s, dir), "source", "text").orderBy("source")

  val q124Sql: String =
    """WITH tall AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |              FROM documents),
      |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cnt_sw FROM tall GROUP BY 1, 2),
      |cw AS (SELECT w, CAST(SUM(cnt_sw) AS BIGINT) AS cnt_w FROM sw GROUP BY 1),
      |ns AS (SELECT source, CAST(SUM(cnt_sw) AS BIGINT) AS n_s,
      |         CAST(count(*) AS BIGINT) AS n_distinct FROM sw GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt_w) AS BIGINT) AS n_tot FROM cw),
      |terms AS (SELECT sw.source, sw.cnt_sw,
      |    CAST(floor(ln((CAST(sw.cnt_sw AS DOUBLE) * CAST(n_tot AS DOUBLE))
      |                  / (CAST(cw.cnt_w AS DOUBLE) * CAST(ns.n_s AS DOUBLE)))
      |               * 1000000 + 0.5) AS BIGINT) AS lq
      |  FROM sw JOIN cw USING (w) JOIN ns USING (source), tot)
      |SELECT t.source, ns.n_tokens, ns.n_distinct,
      |  CAST(SUM(t.cnt_sw * t.lq) // ns.n_tokens AS BIGINT) AS kl_q
      |FROM terms t JOIN (SELECT source, n_s AS n_tokens, n_distinct FROM ns) ns USING (source)
      |GROUP BY 1, 2, 3 ORDER BY source""".stripMargin

  /** Tokenizer prep — segmentation fertility ([[Corpus.bpeFertility]]):
    * symbols per word token under q121's learned merges, per document —
    * the metric that says whether the vocabulary fragments the corpus.
    * Every doc audited, integer permille. */
  def q123BpeFertility(s: SparkSession, dir: String): DataFrame =
    Corpus.bpeFertility(docs(s, dir), "doc_id", "text", iters = 3).orderBy("id")

  val q123Sql: String =
    s"""WITH $bpeChainSql,
       |seg AS (SELECT word, CAST(len(list_filter(string_split(syms, '_'), x -> x <> '')) AS BIGINT) AS nsym
       |        FROM s3),
       |tokd AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
       |         FROM documents),
       |per AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(SUM(nsym) AS BIGINT) AS n_symbols
       |        FROM tokd JOIN seg USING (word) GROUP BY 1)
       |SELECT d.doc_id AS id,
       |  CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(per.n_symbols, 0) AS BIGINT) AS n_symbols,
       |  CAST(CASE WHEN COALESCE(per.n_tokens, 0) > 0
       |            THEN per.n_symbols * 1000 // per.n_tokens ELSE 0 END AS BIGINT) AS fertility_permille
       |FROM documents d LEFT JOIN per ON per.id = d.doc_id ORDER BY id""".stripMargin

  // ------------------------------------------------- q86 HLL sketch

  /** Sketch — HyperLogLog registers ([[Sketches.hllRegisters]]) of
    * distinct users per event type: the fixed-size mergeable cardinality
    * sketch, emitted as its (group, register, max_rho) rows — pure
    * integers, so the oracle checks every register bit-for-bit. */
  def q86HllSketch(s: SparkSession, dir: String): DataFrame =
    Sketches.hllRegisters(t(s, dir, "events"), "user_id", Seq("event_type"))
      .orderBy("event_type", "reg")

  val q86Sql: String =
    """WITH h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
      |r AS (SELECT event_type,
      |        CAST((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
      |           + instr('0123456789abcdef', substr(hx, 2, 1)) - 1 AS BIGINT) AS reg,
      |        substr(hx, 3, 8) AS sfx
      |      FROM h),
      |z AS (SELECT event_type, reg, sfx, ltrim(sfx, '0') AS rest FROM r),
      |rho AS (SELECT event_type, reg,
      |        CASE WHEN rest = '' THEN CAST(33 AS BIGINT)
      |             ELSE CAST((length(sfx) - length(rest)) * 4
      |                  + CASE WHEN instr('0123456789abcdef', substr(rest, 1, 1)) - 1 >= 8 THEN 0
      |                         WHEN instr('0123456789abcdef', substr(rest, 1, 1)) - 1 >= 4 THEN 1
      |                         WHEN instr('0123456789abcdef', substr(rest, 1, 1)) - 1 >= 2 THEN 2
      |                         ELSE 3 END + 1 AS BIGINT) END AS rho
      |        FROM z)
      |SELECT event_type, reg, CAST(max(rho) AS BIGINT) AS max_rho
      |FROM rho GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- q87 Z-order layout

  /** Layout — Morton/Z-order clustering
    * ([[org.apache.spark.sql.graft.InterleaveBits]], native codegen): the
    * zone-map report of z-bucketing lineitem by (partkey, suppkey) — each
    * bucket's tight (part, supp) rectangle is exactly what makes file-level
    * min/max stats prune scans on EITHER key after a z-order rewrite. */
  def q87Zorder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(pmod(col("l_partkey").cast("long"), lit(65536L)).as("px"),
        pmod(col("l_suppkey").cast("long"), lit(65536L)).as("sx"))
      .withColumn("z", GraftFunctions.zorder2(col("px"), col("sx")))
      // 2^16-code buckets: dozens of buckets at sf0.01, ~16k at sf0.1 — each a
      // "file" whose (part, supp) rectangle the zone-map report bounds
      .groupBy(expr("z div 65536").as("zbucket"))
      .agg(count(lit(1)).as("cnt"),
        min("px").as("min_part"), max("px").as("max_part"),
        min("sx").as("min_supp"), max("sx").as("max_supp"))
      .orderBy("zbucket")

  val q87Sql: String =
    """WITH m AS (SELECT l_partkey % 65536 AS px, l_suppkey % 65536 AS sx FROM lineitem),
      |z AS (SELECT px, sx, CAST(list_sum(list_transform(range(0, 16), i ->
      |        (((px >> i) & 1) << (2 * i)) + (((sx >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
      |      FROM m)
      |SELECT z // 65536 AS zbucket, count(*) AS cnt,
      |  min(px) AS min_part, max(px) AS max_part,
      |  min(sx) AS min_supp, max(sx) AS max_supp
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- q88 event funnel

  /** Behavioral — ordered event funnel ([[graft.operators.Temporal.funnel]]):
    * per user, greedy earliest view → click → purchase completion within 7
    * days; one entity-keyed shuffle, k chained conditional-min windows.
    * Epoch-microsecond BIGINTs throughout. */
  def q88Funnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.funnel(t(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        maxSpanUs = 7L * 24 * 3600 * 1000000)
      .orderBy("entity")

  val q88Sql: String =
    """WITH e AS (SELECT user_id AS entity, epoch_us(ts) AS ts_us, event_type FROM events),
      |a AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
      |        OVER (PARTITION BY entity) AS t1_us FROM e),
      |b AS (SELECT *, min(CASE WHEN event_type = 'click' AND t1_us IS NOT NULL
      |          AND ts_us > t1_us THEN ts_us END)
      |        OVER (PARTITION BY entity) AS t2_us FROM a),
      |c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t2_us IS NOT NULL
      |          AND ts_us > t2_us THEN ts_us END)
      |        OVER (PARTITION BY entity) AS t3_us FROM b),
      |d AS (SELECT DISTINCT entity, t1_us, t2_us, t3_us FROM c)
      |SELECT entity, t1_us, t2_us, t3_us,
      |  CAST((CASE WHEN t1_us IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS steps_done,
      |  (t3_us IS NOT NULL AND t3_us - t1_us <= 604800000000) AS completed
      |FROM d ORDER BY entity""".stripMargin

  // ------------------------------------------------- q89 cohort retention

  /** Behavioral — cohort retention triangle
    * ([[graft.operators.Temporal.cohortRetention]]): users bucketed by the
    * week of their first signup event, counted active in each later week
    * they produced any event. */
  def q89Retention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.cohortRetention(t(s, dir, "events"), "user_id",
        "ts", "event_type", anchorType = "signup",
        periodUs = 7L * 24 * 3600 * 1000000)
      .orderBy("cohort_period", "period_offset")

  val q89Sql: String =
    """WITH e AS (SELECT user_id AS entity, epoch_us(ts) AS ts_us, event_type FROM events),
      |coh AS (SELECT entity, min(ts_us) // 604800000000 AS cohort_period
      |        FROM e WHERE event_type = 'signup' GROUP BY 1),
      |act AS (SELECT DISTINCT entity, ts_us // 604800000000 AS period FROM e)
      |SELECT cohort_period, period - cohort_period AS period_offset,
      |  count(*) AS n_active
      |FROM coh JOIN act USING (entity)
      |WHERE period >= cohort_period
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------- q90 zone-map pruned read

  private val zmStores = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Time-sliced ingest store: events committed in three ten-day merges
    * (the append-stream layout streaming ingest produces), zone maps on
    * `ts_us` — each commit's files cover a disjoint time range, which is
    * exactly when file min/max stats prune range reads. */
  private def ensureZmStore(s: SparkSession, dir: String): String =
    zmStores.getOrElseUpdate(s"q90:$dir", {
      val p = java.nio.file.Files.createTempDirectory("graft-zm")
        .resolve("events_tx").toString
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("value_cents"))
      val day11 = Q90Lo - 14L * 86400000000L // 2024-01-11T00:00:00Z
      val day21 = day11 + 10L * 86400000000L
      graft.sources.TxStore.init(ev.filter(col("ts_us") < day11), p,
        "event_id", nBuckets = 8, statsCols = Seq("ts_us"))
      graft.sources.TxStore.merge(s, p,
        ev.filter(col("ts_us") >= day11 && col("ts_us") < day21), "event_id")
      graft.sources.TxStore.merge(s, p, ev.filter(col("ts_us") >= day21), "event_id")
      p
    })

  /** 2024-01-25T00:00:00Z .. 2024-01-29T00:00:00Z (exclusive), in epoch µs. */
  private val Q90Lo = 1706140800000000L
  private val Q90Hi = 1706486400000000L - 1

  /** Engine depth — zone-map data skipping
    * ([[graft.sources.TxStore.readWhere]]): a 4-day range read over the
    * time-sliced store touches ONLY the final commit's files (asserted at
    * run time — the query FAILS if pruning regresses), then aggregates per
    * event type. The file-skipping layer every table format provides,
    * here driven by manifest min/max stats. */
  def q90ZonemapRead(s: SparkSession, dir: String): DataFrame = {
    val path = ensureZmStore(s, dir)
    val (kept, total) = graft.sources.TxStore.pruneCount(path, "ts_us", Q90Lo, Q90Hi)
    require(kept < total, s"zone maps pruned nothing: kept $kept of $total files")
    graft.sources.TxStore.readWhere(s, path, "ts_us", Q90Lo, Q90Hi)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("value_cents").as("value_cents"))
      .orderBy("event_type")
  }

  val q90Sql: String =
    s"""SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events
      |WHERE epoch_us(ts) BETWEEN $Q90Lo AND $Q90Hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- q91 streaming HLL sketch

  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Day-truncated (user_id, ts, cents) events staged ONE FILE PER
    * EVENT-TIME DAY (oldest first), so `maxFilesPerTrigger=1` replays the
    * stream one day per micro-batch — the q285/q295 determinism
    * discipline, shared by every transformWithState path. */
  private def stageDailyEvents(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"dailyevents:$dir", {
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("timestamp_micros((unix_micros(ts) div 86400000000) * 86400000000)")
          .as("ts"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
        // q306/q307 need these; extra columns are invisible to as[In]
        col("event_type"), col("event_id"))
      val days = ev.select(expr("unix_micros(ts) div 86400000000").as("d"))
        .distinct().orderBy("d").collect().map(_.getLong(0)) // ≤ 31 rows
      graft.sources.Staging.stageParts(days.toSeq.map(d =>
        f"day$d%06d" ->
          ev.filter(expr(s"unix_micros(ts) div 86400000000 = ${d}L"))))
    })
  /** Day-truncated events staged ONE FILE PER EVENT-TIME WEEK
    * (⌊day/7⌋, oldest first) — the q295/q306/q307 replay diet: their
    * per-batch folds are order-free (sums; map-entry bumps; appends
    * sorted by event_id, so arrival order is (week, event_id)), which
    * makes every cross-batch state-carry gate exact at ANY batch
    * granularity — coarsening day → week cuts the RocksDB micro-batch
    * floor from 31 to ~5 batches per replay (round-12 verdict task 5:
    * the daily floors were ~45 s of single-sample wall across the
    * transformWithState paths). q304 deliberately stays on
    * [[stageDailyEvents]]: its timer-vs-arrival `closed_by` attribution
    * is DEFINED by the daily cadence (an idle timer fires only when an
    * intermediate batch advances the watermark past it before the next
    * arrival — coarser batches would silently reattribute sessions). */
  private def stageWeeklyEvents(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"weeklyevents:$dir", {
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("timestamp_micros((unix_micros(ts) div 86400000000) * 86400000000)")
          .as("ts"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
        col("event_type"), col("event_id"))
      val weeks = ev.select(expr("unix_micros(ts) div 604800000000").as("w"))
        .distinct().orderBy("w").collect().map(_.getLong(0)) // ≤ 6 rows
      graft.sources.Staging.stageParts(weeks.toSeq.map(w =>
        f"week$w%06d" ->
          ev.filter(expr(s"unix_micros(ts) div 604800000000 = ${w}L"))))
    })

  private def stageOnce(key: String, df: => DataFrame): String =
    staged.getOrElseUpdate(key, {
      val d = java.nio.file.Files.createTempDirectory("graft-scale-src").toString
      df.coalesce(1).write.mode("overwrite").parquet(d)
      d
    })

  /** Streaming sketch — daily distinct-user HLL registers maintained as a
    * WATERMARKED streaming aggregation ([[Sketches.hllTag]] + max-by-
    * (window, reg)): the streaming state IS the sketch — at most 256 rows
    * per day-window regardless of user cardinality, where a streaming
    * `count_distinct` would hold every distinct key. Complete-mode result
    * hash-matches the batch computation (the q44 contract). */
  def q91StreamHll(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = t(s, dir, "events").select(col("ts"), col("user_id"))
    val srcDir = stageOnce(s"q91:$dir", src)
    val stream = Sketches.hllTag(
        s.readStream.schema(src.schema).parquet(srcDir)
          .withWatermark("ts", "1 day"), "user_id")
      .groupBy(window(col("ts"), "1 day").as("w"), col("reg"))
      .agg(max("rho").as("max_rho"))
    val qn = s"q91_hll_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      stream.writeStream.outputMode("complete").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-hllckpt"))
        .start().awaitTermination()
    }
    s.table(qn)
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("reg"), col("max_rho"))
      .orderBy("day", "reg")
  }

  /** Streaming sketch — per-event-type MERGEABLE histogram quantiles
    * (twenty-first streaming path): the streaming aggregation's state is
    * the (event_type, bin) count frame — O(types × bins) rows forever,
    * regardless of event volume — and the p50/p95/p99 walk
    * ([[graft.operators.Analytics.histogramQuantilesFromBins]], the same
    * extraction q154 uses in batch) runs on that materialized state after
    * ingestion. The streaming half is pure map-side-combinable counting;
    * bins merge across micro-batches by addition, the defining property
    * of a mergeable sketch. */
  def q266StreamHistQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = t(s, dir, "events").select(col("ts"), col("event_type"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
    val srcDir = stageOnce(s"q266:$dir", src)
    val stream = s.readStream.schema(src.schema).parquet(srcDir)
      .select(col("event_type").as("g"), expr("v div 1000L").as("bin"))
      .groupBy("g", "bin").agg(count(lit(1)).as("c"))
    val qn = s"q266_histq_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      stream.writeStream.outputMode("complete").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-histqckpt"))
        .start().awaitTermination()
    }
    graft.operators.Analytics
      .histogramQuantilesFromBins(s.table(qn), binWidth = 1000L,
        targetsPct = Seq(50, 95, 99))
      .orderBy("g", "pct")
  }

  /** Streaming sessions via the BUILT-IN `session_window` aggregation
    * (twenty-THIRD streaming path): per-user sessions with a 2-hour
    * inactivity gap as a watermarked APPEND-mode streaming aggregation —
    * the engine-managed complement of q53's flatMapGroupsWithState
    * sessionizer. State is one row per OPEN session per user, merged as
    * overlapping windows arrive and EVICTED once the watermark passes the
    * session end, so state is bounded by concurrently-active users, not
    * event volume. Append mode only emits sessions the watermark has
    * sealed (end ≤ final watermark = max ts − 1 day) — the emission cut
    * itself is part of the gate (q190's protocol). Session end is
    * last-event + gap (Spark's gap-extended end); events exactly `gap`
    * apart MERGE — the extension is end-inclusive on merge, only a
    * strictly larger gap splits (probed + pinned in StreamingSpec). The
    * oracle replicates islands (diff > gap breaks) plus the emission
    * cut. */
  def q284StreamSessionWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = t(s, dir, "events").select(col("ts"), col("user_id"))
    val srcDir = stageOnce(s"q284:$dir", src)
    val stream = s.readStream.schema(src.schema).parquet(srcDir)
      .withWatermark("ts", "1 day")
      .groupBy(session_window(col("ts"), "2 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val qn = s"q284_sesswin_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      stream.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-sesswinckpt"))
        .start().awaitTermination()
    }
    s.table(qn)
      .select(col("user_id"), expr("unix_micros(w.start)").as("start_us"),
        expr("unix_micros(w.end)").as("end_us"), col("n_events"))
      .orderBy("user_id", "start_us")
  }

  val q284Sql: String =
    """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
      |wm AS (SELECT CAST(max(us) AS BIGINT) - 86400000000 AS wmf FROM e),
      |o AS (SELECT user_id, us,
      |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |               OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
      |                    > 7200000000 THEN 1 ELSE 0 END AS brk
      |      FROM e),
      |g AS (SELECT user_id, us, CAST(sum(brk) OVER (PARTITION BY user_id
      |        ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |      FROM o),
      |sess AS (SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
      |           CAST(max(us) + 7200000000 AS BIGINT) AS end_us,
      |           CAST(count(*) AS BIGINT) AS n_events
      |         FROM g GROUP BY user_id, sid)
      |SELECT user_id, start_us, end_us, n_events
      |FROM sess CROSS JOIN wm WHERE end_us <= wmf
      |ORDER BY user_id, start_us""".stripMargin

  /** S26 depth (twenty-FIFTH streaming path) — the `transformWithState`
    * StatefulProcessor API ([[graft.streaming.RunningBalance]]): per-user
    * RUNNING BALANCE (cumulative event count + cumulative cents) carried
    * in an engine-managed typed ValueState, replayed one event-time WEEK
    * per micro-batch ([[stageWeeklyEvents]] — the fold is order-free
    * sums, so the state-carry gate is exact at any batch granularity and
    * the weekly replay pays 5 RocksDB batches instead of 31; one output
    * row per (user, active week), stamped with the user's newest active
    * day). transformWithState requires the
    * RocksDB state store — the provider is scoped to this query and
    * restored after, the same hygiene as state-partition sizing. One
    * fixed-size state row per user forever; one emitted row per
    * (user, active day), hash-matched against the running-sum oracle. */
  def q295RunningBalance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import org.apache.spark.sql.Encoders
    import graft.streaming.RunningBalance
    val srcDir = stageWeeklyEvents(s, dir)
    val schema = s.read.parquet(srcDir).schema
    graft.streaming.StreamConf.withRocksDb(s) {
      import s.implicits._
      val ds = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[RunningBalance.In]
      val out = ds.groupByKey(_.user_id)
        .transformWithState(new RunningBalance.Proc, TimeMode.None(),
          OutputMode.Append(), Encoders.product[RunningBalance.Out])
      val qn = s"q295_balance_${System.identityHashCode(s)}"
      // 2 state partitions, not 8: every micro-batch opens every store
      // (a RocksDB instance each), so per-replay overhead is
      // stores × batches while the key space is only O(users) — sizing
      // to cardinality halved the wall time when measured under the
      // 31-day replay; the weekly replay shrank the batches factor 6x,
      // which only weakens the case for more stores further
      graft.streaming.StreamConf.withStatePartitions(s, 2) {
        out.toDF().writeStream.outputMode("append").format("memory")
          .queryName(qn).trigger(Trigger.AvailableNow())
          .option("checkpointLocation",
            graft.streaming.StreamConf.ckptDir("graft-balanceckpt"))
          .start().awaitTermination()
      }
      s.table(qn).orderBy("user_id", "day_us")
    }
  }

  val q295Sql: String =
    """WITH e AS (SELECT user_id,
      |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |g AS (SELECT user_id, d // 7 AS w, CAST(max(d) AS BIGINT) AS md,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(cents) AS BIGINT) AS c
      |      FROM e GROUP BY 1, 2)
      |SELECT user_id, CAST(md * 86400000000 AS BIGINT) AS day_us,
      |  CAST(sum(n) OVER (PARTITION BY user_id ORDER BY w
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
      |  CAST(sum(c) OVER (PARTITION BY user_id ORDER BY w
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |FROM g ORDER BY user_id, day_us""".stripMargin

  /** S26 depth (twenty-SIXTH streaming path) — EVENT-TIME TIMERS on
    * `transformWithState` ([[graft.streaming.TimerSessions]]): per-user
    * idle-gap sessions where the ENGINE's timer service closes sessions
    * the user abandons. Arriving rows beyond the 1-day gap close the open
    * session immediately (`closed_by = 'arrival'`); idle sessions close
    * when the watermark passes their re-registered last_us + gap timer
    * (`closed_by = 'timer'`). Probed and oracle-encoded semantics under
    * the one-day-per-batch replay (q285's discipline): rows are processed
    * BEFORE expired timers within a batch and eviction uses the
    * START-of-batch watermark (one batch behind), so a gap of exactly
    * 2 days closes on arrival while gaps ≥ 3 days close by timer; each
    * user's FINAL session emits only if its deadline is within the final
    * watermark. One session row + one live timer per user in RocksDB.
    * q304 deliberately KEEPS the daily replay while q295/q306/q307 moved
    * to [[stageWeeklyEvents]]: the closed_by attribution above exists
    * only because intermediate batches advance the watermark past idle
    * timers — a coarser replay would silently collapse the timer path
    * into arrival-closes and un-probe the timer service. */
  def q304TimerSessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import org.apache.spark.sql.Encoders
    import graft.streaming.TimerSessions
    val srcDir = stageDailyEvents(s, dir)
    val schema = s.read.parquet(srcDir).schema
    graft.streaming.StreamConf.withRocksDb(s) {
      import s.implicits._
      val ds = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withWatermark("ts", "0 seconds")
        .as[TimerSessions.In]
      val out = ds.groupByKey(_.user_id)
        .transformWithState(new TimerSessions.Proc, TimeMode.EventTime(),
          OutputMode.Append(), Encoders.product[TimerSessions.Out])
      val qn = s"q304_timersess_${System.identityHashCode(s)}"
      graft.streaming.StreamConf.withStatePartitions(s, 2) {
        out.toDF().writeStream.outputMode("append").format("memory")
          .queryName(qn).trigger(Trigger.AvailableNow())
          .option("checkpointLocation",
            graft.streaming.StreamConf.ckptDir("graft-timersessckpt"))
          .start().awaitTermination()
      }
      s.table(qn).orderBy("user_id", "start_us")
    }
  }

  val q304Sql: String =
    """WITH e AS (SELECT user_id,
      |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |d AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(cents) AS BIGINT) AS c
      |      FROM e GROUP BY 1, 2),
      |o AS (SELECT *, CASE WHEN lag(day) OVER w IS NULL
      |          OR day - lag(day) OVER w >= 2 THEN 1 ELSE 0 END AS brk
      |      FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |g AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY day
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |      FROM o),
      |sess AS (SELECT user_id, sid, CAST(min(day) AS BIGINT) AS sd,
      |           CAST(max(day) AS BIGINT) AS ed,
      |           CAST(sum(n) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS c
      |         FROM g GROUP BY 1, 2),
      |nxt AS (SELECT s.*, lead(sd) OVER (PARTITION BY user_id ORDER BY sd)
      |          AS next_start FROM sess s),
      |wm AS (SELECT CAST(max(day) AS BIGINT) AS wmday FROM d)
      |SELECT user_id,
      |  CAST(sd * 86400000000 AS BIGINT) AS start_us,
      |  CAST(ed * 86400000000 AS BIGINT) AS last_us,
      |  n AS n_events, c AS cents,
      |  CASE WHEN next_start IS NULL THEN 'timer'
      |       WHEN next_start - ed = 2 THEN 'arrival'
      |       ELSE 'timer' END AS closed_by
      |FROM nxt CROSS JOIN wm
      |WHERE next_start IS NOT NULL OR ed + 1 <= wmday
      |ORDER BY user_id, start_us""".stripMargin

  /** S26 depth (twenty-SEVENTH streaming path) — MAP STATE on
    * `transformWithState` ([[graft.streaming.TypeCounts]]): per-user
    * running event-type counters in an engine-managed
    * `MapState[String, Long]` (q295 covers ValueState, q304 timers; this
    * the keyed-sub-state member of the API). Replayed one event-time
    * WEEK per micro-batch ([[stageWeeklyEvents]] — map-entry bumps are
    * order-free, so the cross-batch counter carry is exact at any
    * granularity). Per batch each active user bumps only the touched
    * entries and emits its CURRENT profile — distinct types ever seen
    * and the cumulative top type (ties → the lexicographically
    * smallest, so both engines agree) — stamped with the user's newest
    * active day that week. State is one map entry per
    * (user, type-ever-seen), bounded by the type vocabulary, never
    * event volume. */
  def q306TypeCounts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import org.apache.spark.sql.Encoders
    import graft.streaming.TypeCounts
    val srcDir = stageWeeklyEvents(s, dir)
    val schema = s.read.parquet(srcDir).schema
    graft.streaming.StreamConf.withRocksDb(s) {
      import s.implicits._
      val ds = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[TypeCounts.In]
      val out = ds.groupByKey(_.user_id)
        .transformWithState(new TypeCounts.Proc, TimeMode.None(),
          OutputMode.Append(), Encoders.product[TypeCounts.Out])
      val qn = s"q306_typecounts_${System.identityHashCode(s)}"
      graft.streaming.StreamConf.withStatePartitions(s, 2) {
        out.toDF().writeStream.outputMode("append").format("memory")
          .queryName(qn).trigger(Trigger.AvailableNow())
          .option("checkpointLocation",
            graft.streaming.StreamConf.ckptDir("graft-typecntckpt"))
          .start().awaitTermination()
      }
      s.table(qn).orderBy("user_id", "day_us")
    }
  }

  val q306Sql: String =
    """WITH e AS (SELECT user_id,
      |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
      |    event_type AS t
      |  FROM events),
      |dc AS (SELECT user_id, d // 7 AS w, t, CAST(count(*) AS BIGINT) AS n
      |       FROM e GROUP BY 1, 2, 3),
      |ad AS (SELECT user_id, d // 7 AS w, CAST(max(d) AS BIGINT) AS md
      |       FROM e GROUP BY 1, 2),
      |pairs AS (SELECT ad.user_id, ad.w, ad.md, dc.t,
      |    CAST(sum(dc.n) AS BIGINT) AS cnt
      |  FROM ad JOIN dc ON dc.user_id = ad.user_id AND dc.w <= ad.w
      |  GROUP BY 1, 2, 3, 4),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY user_id, w ORDER BY cnt DESC, t) AS rn,
      |        count(*) OVER (PARTITION BY user_id, w) AS n_types
      |      FROM pairs)
      |SELECT user_id, CAST(md * 86400000000 AS BIGINT) AS day_us,
      |  CAST(n_types AS BIGINT) AS n_types, t AS top_type, cnt AS top_cnt
      |FROM r WHERE rn = 1 ORDER BY user_id, day_us""".stripMargin

  /** S26 depth (twenty-EIGHTH streaming path) — LIST STATE on
    * `transformWithState` ([[graft.streaming.RecentPurchases]]): the
    * per-user LAST-3 purchase window in an engine-managed `ListState`,
    * completing the state-API family (q295 ValueState, q306 MapState,
    * q304 timers). Replayed one event-time WEEK per micro-batch
    * ([[stageWeeklyEvents]]): each batch's purchases append sorted by
    * (day, event_id) inside the fold, so the total arrival order both
    * engines replay is (day, event_id) — identical under daily or weekly
    * staging, and "newest" is always the latest purchase day — and the
    * list trims to the newest 3 on every update: bounded recency state
    * no matter the event volume, the "last transactions" feature shape.
    * Emits one row per (user, active purchase week), stamped with the
    * newest purchase day: window size, window cent sum, newest purchase
    * cents. */
  def q307RecentPurchases(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import org.apache.spark.sql.Encoders
    import graft.streaming.RecentPurchases
    val srcDir = stageWeeklyEvents(s, dir)
    val schema = s.read.parquet(srcDir).schema
    graft.streaming.StreamConf.withRocksDb(s) {
      import s.implicits._
      val ds = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[RecentPurchases.In]
      val out = ds.groupByKey(_.user_id)
        .transformWithState(new RecentPurchases.Proc, TimeMode.None(),
          OutputMode.Append(), Encoders.product[RecentPurchases.Out])
      val qn = s"q307_recent_${System.identityHashCode(s)}"
      graft.streaming.StreamConf.withStatePartitions(s, 2) {
        out.toDF().writeStream.outputMode("append").format("memory")
          .queryName(qn).trigger(Trigger.AvailableNow())
          .option("checkpointLocation",
            graft.streaming.StreamConf.ckptDir("graft-recentckpt"))
          .start().awaitTermination()
      }
      s.table(qn).orderBy("user_id", "day_us")
    }
  }

  val q307Sql: String =
    """WITH p AS (SELECT user_id,
      |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, d // 7 AS w, d, event_id, cents,
      |        CAST(row_number() OVER (PARTITION BY user_id
      |          ORDER BY d, event_id) AS BIGINT) AS rn
      |      FROM p),
      |ad AS (SELECT user_id, w, CAST(max(d) AS BIGINT) AS md,
      |        CAST(max(rn) AS BIGINT) AS mx
      |       FROM r GROUP BY 1, 2),
      |wnd AS (SELECT ad.user_id, ad.md, r.cents, r.rn, ad.mx
      |  FROM ad JOIN r ON r.user_id = ad.user_id
      |    AND r.rn > ad.mx - 3 AND r.rn <= ad.mx)
      |SELECT user_id, CAST(md * 86400000000 AS BIGINT) AS day_us,
      |  CAST(count(*) AS BIGINT) AS n_in_window,
      |  CAST(sum(cents) AS BIGINT) AS window_cents,
      |  CAST(max(CASE WHEN rn = mx THEN cents END) AS BIGINT) AS newest_cents
      |FROM wnd GROUP BY user_id, md ORDER BY user_id, day_us""".stripMargin

  val q266Sql: String =
    """WITH v AS (SELECT event_type AS g,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |b AS (SELECT g, v // 1000 AS bin, CAST(count(*) AS BIGINT) AS c
      |      FROM v GROUP BY 1, 2),
      |c AS (SELECT g, bin, c,
      |        CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY bin
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
      |        CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
      |      FROM b),
      |tr AS (SELECT c.*, CAST(pct AS BIGINT) AS pct,
      |         (n * pct + 99) // 100 AS r
      |       FROM c CROSS JOIN (SELECT unnest([50, 95, 99]) AS pct) p)
      |SELECT g, pct, n, r, bin,
      |  bin * 1000 + ((r - cumb) * 1000) // c AS est_q
      |FROM tr WHERE cumb < r AND r <= cumb + c
      |ORDER BY g, pct""".stripMargin

  val q91Sql: String =
    """WITH h AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |             md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
      |r AS (SELECT day,
      |        CAST((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
      |           + instr('0123456789abcdef', substr(hx, 2, 1)) - 1 AS BIGINT) AS reg,
      |        substr(hx, 3, 8) AS sfx
      |      FROM h),
      |z AS (SELECT day, reg, sfx, ltrim(sfx, '0') AS rest FROM r),
      |rho AS (SELECT day, reg,
      |        CASE WHEN rest = '' THEN CAST(33 AS BIGINT)
      |             ELSE CAST((length(sfx) - length(rest)) * 4
      |                  + CASE WHEN instr('0123456789abcdef', substr(rest, 1, 1)) - 1 >= 8 THEN 0
      |                         WHEN instr('0123456789abcdef', substr(rest, 1, 1)) - 1 >= 4 THEN 1
      |                         WHEN instr('0123456789abcdef', substr(rest, 1, 1)) - 1 >= 2 THEN 2
      |                         ELSE 3 END + 1 AS BIGINT) END AS rho
      |        FROM z)
      |SELECT day, reg, CAST(max(rho) AS BIGINT) AS max_rho
      |FROM rho GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------- q92 incremental aggregation

  private val aggStores = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-user totals maintained INCREMENTALLY across three time-sliced
    * batches: each batch aggregates its own slice, [[graft.sources.TxStore
    * .readFor]] fetches the CURRENT totals of exactly the touched users
    * (bucket-pruned — a delta touching k buckets reads k buckets, not the
    * table), and the summed delta merges back copy-on-write. */
  private def ensureAggStore(s: SparkSession, dir: String): String =
    aggStores.getOrElseUpdate(s"q92:$dir", {
      val p = java.nio.file.Files.createTempDirectory("graft-incagg")
        .resolve("user_totals").toString
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      def aggOf(df: DataFrame): DataFrame = df.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("value_cents"))
      val day11 = Q90Lo - 14L * 86400000000L
      val day21 = day11 + 10L * 86400000000L
      graft.sources.TxStore.init(aggOf(ev.filter(col("ts_us") < day11)), p,
        "user_id", nBuckets = 8)
      Seq(
        ev.filter(col("ts_us") >= day11 && col("ts_us") < day21),
        ev.filter(col("ts_us") >= day21)
      ).foreach { slice =>
        val batch = aggOf(slice)
        val old = graft.sources.TxStore.readFor(s, p, "user_id",
          batch.select("user_id"))
        val delta = old.unionByName(batch).groupBy("user_id")
          .agg(sum("n_events").as("n_events"), sum("value_cents").as("value_cents"))
        graft.sources.TxStore.merge(s, p, delta, "user_id")
      }
      p
    })

  /** Engine depth — incremental view maintenance: the running per-user
    * totals after three incremental batch folds equal the full batch
    * aggregation (the oracle recomputes from scratch; the store never
    * did). Update cost ∝ each batch's bucket footprint. */
  def q92IncrementalAgg(s: SparkSession, dir: String): DataFrame =
    graft.sources.TxStore.read(s, ensureAggStore(s, dir)).orderBy("user_id")

  val q92Sql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- q93 inverted-index lookup

  private val idxStores = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Tall inverted index (term → postings) stored term-bucketed, so a term
    * lookup opens one hash bucket's files — index-backed retrieval instead
    * of a corpus scan. */
  private def ensureIdxStore(s: SparkSession, dir: String): String =
    idxStores.getOrElseUpdate(s"q93:$dir", {
      val p = java.nio.file.Files.createTempDirectory("graft-invidx")
        .resolve("postings").toString
      val postings = docs(s, dir)
        .select(col("doc_id").as("id"),
          explode(graft.llmops.TextOps.tokens(col("text"))).as("w"))
        .groupBy("w", "id").agg(count(lit(1)).as("tf"))
      graft.sources.TxStore.init(postings, p, "w", nBuckets = 16)
      p
    })

  /** Engine depth — index-backed term retrieval
    * ([[graft.sources.TxStore.readFor]]): postings for three query terms
    * fetched via the bucket-pruned multi-key read (≤ 3 of 16 buckets open),
    * where the BM25 query (q59) scans the corpus. At 100 TB the posting
    * store IS how interactive term lookups stay sub-scan. */
  def q93IndexLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = Seq("join", "window", "scan").toDF("w")
    graft.sources.TxStore.readFor(s, ensureIdxStore(s, dir), "w", terms)
      .orderBy("w", "id")
  }

  val q93Sql: String =
    """WITH tok AS (SELECT doc_id AS id,
      |               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |             FROM documents)
      |SELECT w, id, CAST(count(*) AS BIGINT) AS tf
      |FROM tok WHERE w IN ('join', 'window', 'scan')
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- q94 transactional delete

  private val delStores = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Customer store with one committed copy-on-write DELETE (custkey ≡ 1
    * mod 10) — GDPR-shaped erasure: touched buckets rewritten minus the
    * keys, history time-travelable. */
  private def ensureDelStore(s: SparkSession, dir: String): String =
    delStores.getOrElseUpdate(s"q94:$dir", {
      val p = java.nio.file.Files.createTempDirectory("graft-del")
        .resolve("customer").toString
      val base = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal_q"))
      graft.sources.TxStore.init(base, p, "c_custkey", nBuckets = 8)
      graft.sources.TxStore.delete(s, p,
        base.filter(pmod(col("c_custkey"), lit(10)) === 1).select("c_custkey"),
        "c_custkey")
      p
    })

  /** Engine depth — transactional DELETE ([[graft.sources.TxStore.delete]]):
    * the erased rows surfaced as the v0 → v1 anti-join (the CDC view of a
    * deletion), hash-checked against the arithmetic oracle; the current
    * snapshot no longer holds them, the v0 snapshot still does. */
  def q94TxDelete(s: SparkSession, dir: String): DataFrame = {
    val p = ensureDelStore(s, dir)
    val v0 = graft.sources.TxStore.read(s, p, Some(0))
    val v1 = graft.sources.TxStore.read(s, p, Some(1))
    v0.join(v1.select("c_custkey"), Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment", "bal_q")
      .orderBy("c_custkey")
  }

  val q94Sql: String =
    """SELECT c_custkey, c_mktsegment,
      |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_q
      |FROM customer WHERE c_custkey % 10 = 1 ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------- q95 streaming funnel

  /** Deterministic staging of the funnel stream: events split into two
    * half-month files plus a flush-sentinel file, delivered oldest-first
    * one file per micro-batch — partial funnel matches genuinely cross
    * batch boundaries, the flush emits each entity's final row (the q53
    * staging contract). */
  private def stageFunnelSource(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q95:$dir", {
      val split = 1705363200000000L   // 2024-01-16T00:00:00Z, µs
      val flushTs = 1709251200000000L // 2024-03-01T00:00:00Z — beyond every event
      val tall = t(s, dir, "events").select(
        col("user_id").as("entity_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type").as("etype"),
        lit(false).as("flush"))
      val sentinels = tall.select(col("entity_id")).distinct()
        .select(col("entity_id"), lit(flushTs).as("ts_us"),
          lit("flush").as("etype"), lit(true).as("flush"))
      graft.sources.Staging.stageParts(Seq(
        "first" -> tall.filter(col("ts_us") < split),
        "second" -> tall.filter(col("ts_us") >= split),
        "flush" -> sentinels))
    })

  /** Behavioral/streaming — the q88 funnel computed INCREMENTALLY
    * ([[graft.streaming.StreamingFunnel]]): per-entity partial matches
    * carried in flatMapGroupsWithState state across three micro-batches,
    * flush-sentinel emission, output hash-matching the BATCH funnel oracle
    * (same SQL as q88) — live conversion tracking with state ≤ k longs per
    * entity. */
  def q95StreamFunnel(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingFunnel
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val srcDir = stageFunnelSource(s, dir)
    val schema = org.apache.spark.sql.Encoders.product[StreamingFunnel.FunnelEvent].schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val results = StreamingFunnel.funnel(
      stream.as[StreamingFunnel.FunnelEvent],
      Seq("view", "click", "purchase"), maxSpanUs = 7L * 24 * 3600 * 1000000)
    val qn = s"q95_funnel_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      results.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-funnel-ckpt"))
        .start().awaitTermination()
    }
    s.table(qn)
      .select(col("entity_id").as("entity"),
        element_at(col("times"), 1).as("t1_us"),
        element_at(col("times"), 2).as("t2_us"),
        element_at(col("times"), 3).as("t3_us"),
        col("steps_done"), col("completed"))
      .orderBy("entity")
  }

  // q95's oracle IS q88's: the streaming fold must reproduce the batch
  // funnel bit-for-bit (same greedy semantics, same output shape)

  // ------------------------------------------- q96 event-type transitions

  /** Behavioral — first-order Markov transition counts over each user's
    * time-ordered event stream: one (entity)-keyed window for the lag, one
    * (from, to) aggregation; the row-normalized permille gives the
    * transition matrix a behavior model trains on. Ties on ts break by
    * event_id — total order, engine-portable. */
  def q96Transitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    val seq_ = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
    val counts = seq_.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("row_total"))
    counts.join(totals, "from_type")
      .withColumn("permille", expr("(n * 1000) div row_total"))
      .select("from_type", "to_type", "n", "permille")
      .orderBy("from_type", "to_type")
  }

  val q96Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events),
      |p AS (SELECT event_type AS from_type,
      |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type
      |      FROM e),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM p
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n, CAST(c.n * 1000 // t.row_total AS BIGINT) AS permille
      |FROM c JOIN t USING (from_type)
      |ORDER BY c.from_type, c.to_type""".stripMargin

  // ------------------------------------------------- q97 RFM scoring

  /** Behavioral — RFM (recency / frequency / monetary) quartile scores per
    * user: each dimension globally ranked via the DISTRIBUTED zip-with-index
    * ([[graft.operators.Ranks.globalRank]] — no single-partition window
    * anywhere) and bucketed 1–4 by an exact integer cross-multiply
    * (⌈rank·4/n⌉ — no ntile, whose tie placement is engine-specific; ranks
    * tie-break on user_id for a total order). The classic customer-value
    * segmentation, engine-exact at any partition count. */
  def q97Rfm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    val base = t(s, dir, "events").groupBy("user_id").agg(
      max(unix_micros(col("ts"))).as("last_ts_us"),
      count(lit(1)).as("n_events"),
      sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
    val n = broadcast(base.agg(count(lit(1)).as("n_users")))
    val ranked = globalRank(
      globalRank(
        globalRank(base, "r_rank", col("last_ts_us").desc, col("user_id")),
        "f_rank", col("n_events").desc, col("user_id")),
      "m_rank", col("cents").desc, col("user_id"))
    ranked.crossJoin(n)
      .withColumn("r_score", expr("(r_rank * 4 + n_users - 1) div n_users"))
      .withColumn("f_score", expr("(f_rank * 4 + n_users - 1) div n_users"))
      .withColumn("m_score", expr("(m_rank * 4 + n_users - 1) div n_users"))
      .select("user_id", "last_ts_us", "n_events", "cents",
        "r_score", "f_score", "m_score")
      .orderBy("user_id")
  }

  val q97Sql: String =
    """WITH base AS (SELECT user_id, CAST(max(epoch_us(ts)) AS BIGINT) AS last_ts_us,
      |                count(*) AS n_events,
      |                CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |              FROM events GROUP BY 1),
      |n AS (SELECT count(*) AS n_users FROM base),
      |r AS (SELECT user_id, last_ts_us, n_events, cents,
      |        row_number() OVER (ORDER BY last_ts_us DESC, user_id) AS r_rank,
      |        row_number() OVER (ORDER BY n_events DESC, user_id) AS f_rank,
      |        row_number() OVER (ORDER BY cents DESC, user_id) AS m_rank
      |      FROM base)
      |SELECT user_id, last_ts_us, n_events, cents,
      |  CAST((r_rank * 4 + n_users - 1) // n_users AS BIGINT) AS r_score,
      |  CAST((f_rank * 4 + n_users - 1) // n_users AS BIGINT) AS f_score,
      |  CAST((m_rank * 4 + n_users - 1) // n_users AS BIGINT) AS m_score
      |FROM r CROSS JOIN n ORDER BY user_id""".stripMargin

  // --------------------------------------------- q159 time-decayed value

  /** Behavioral depth (q97's recency-weighted refinement) — exponentially
    * time-decayed user value: each event's cents are halved per 3 days of
    * age (age anchored at the corpus max ts — data-derived, no wall
    * clock), then summed per user. The decay is exact-integer: weight =
    * floor-div by 2^(age_days div 3), power computed as CAST(power(2, w)
    * AS BIGINT) (exact in double through 2^52, shifts here cap at ~10).
    * The recency signal a plain RFM rank can't express — two users with
    * equal totals separate by WHEN the value arrived.
    *
    * Scale: one scalar anchor (1-row broadcast crossJoin), one partial-
    * aggregating groupBy — the same two-shuffle shape as q97's base. */
  def q159DecayValue(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val anchor = broadcast(ev.agg(max("ts_us").as("anchor_us")))
    ev.crossJoin(anchor)
      .withColumn("w", expr("((anchor_us - ts_us) div 86400000000) div 3"))
      .withColumn("decayed", expr("cents div CAST(power(2, w) AS BIGINT)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("cents").as("cents"),
        sum("decayed").as("decayed_cents"))
      .orderBy("user_id")
  }

  val q159Sql: String =
    """WITH ev AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |a AS (SELECT CAST(max(ts_us) AS BIGINT) AS anchor_us FROM ev),
      |d AS (SELECT user_id, cents,
      |        cents // CAST(power(2, ((anchor_us - ts_us) // 86400000000) // 3) AS BIGINT) AS decayed
      |      FROM ev CROSS JOIN a)
      |SELECT user_id, count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS cents,
      |  CAST(sum(decayed) AS BIGINT) AS decayed_cents
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- q161 rolling time window

  /** S11 depth — per-event 3-day trailing aggregates via a RANGE-interval
    * frame (not a rows frame: the window is defined by TIME, so gaps and
    * bursts weigh correctly): for every event, the count and cents sum of
    * the same user's events in the trailing 72 h. Per-user partitioned
    * window over µs epochs — ties share a frame, so the result is a pure
    * function of the data at any partition count. The building block of
    * velocity/fraud features ("3 purchases in 10 minutes") q09's rows
    * frames can't express. */
  def q161RollingWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-259200000000L, 0L)
    ev.withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_cents", sum("cents").over(w))
      .orderBy("user_id", "ts_us", "event_id")
  }

  val q161Sql: String =
    """WITH ev AS (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events)
      |SELECT user_id, event_id, ts_us, cents,
      |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_n,
      |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents
      |FROM ev ORDER BY user_id, ts_us, event_id""".stripMargin

  // --------------------------------------------- q162 value drift

  /** MLOps monitoring (q124's numeric counterpart) — value-distribution
    * drift per event type between the corpus's two time halves: cents
    * bucket into fixed $50 bins, and each (type, bin) row carries early/
    * late counts, the per-type totals, and the exact chi-square cross
    * term diff = n_early·tot_late − n_late·tot_early (zero for identical
    * shapes; all integers — the drift DECISION thresholds on |diff|
    * downstream without ever computing a float). Anchor = midpoint of
    * the data's own ts range, so the report is wall-clock-free.
    *
    * Scale: one partial-aggregating groupBy to (type, bin) rows + a
    * broadcast of per-type totals — the same two-shuffle shape as q124. */
  def q162ValueDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val anchor = broadcast(ev.agg(
      expr("(min(ts_us) + max(ts_us)) div 2").as("mid_us")))
    val binned = ev.crossJoin(anchor)
      .withColumn("bin", expr("cents div 5000"))
      .withColumn("early", (col("ts_us") < col("mid_us")).cast("long"))
      .groupBy("event_type", "bin")
      .agg(sum("early").as("n_early"),
        sum(lit(1L) - col("early")).as("n_late"))
    val totals = binned.groupBy("event_type")
      .agg(sum("n_early").as("tot_early"), sum("n_late").as("tot_late"))
    binned.join(broadcast(totals), "event_type")
      .withColumn("diff", expr("n_early * tot_late - n_late * tot_early"))
      .select("event_type", "bin", "n_early", "n_late",
        "tot_early", "tot_late", "diff")
      .orderBy("event_type", "bin")
  }

  val q162Sql: String =
    """WITH ev AS (SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |a AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid_us FROM ev),
      |b AS (SELECT event_type, cents // 5000 AS bin,
      |        CAST(sum(CASE WHEN ts_us < mid_us THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
      |        CAST(sum(CASE WHEN ts_us < mid_us THEN 0 ELSE 1 END) AS BIGINT) AS n_late
      |      FROM ev CROSS JOIN a GROUP BY 1, 2),
      |tt AS (SELECT event_type, CAST(sum(n_early) AS BIGINT) AS tot_early,
      |         CAST(sum(n_late) AS BIGINT) AS tot_late FROM b GROUP BY 1)
      |SELECT b.event_type, bin, n_early, n_late, tot_early, tot_late,
      |  n_early * tot_late - n_late * tot_early AS diff
      |FROM b JOIN tt ON tt.event_type = b.event_type
      |ORDER BY b.event_type, bin""".stripMargin

  // --------------------------------------------- q138 SCD2 interval build

  /** Warehouse/CDC — slowly-changing-dimension type-2 build
    * ([[graft.operators.Temporal.scd2]]): each user's event stream
    * collapses into validity intervals of `event_type` runs — a new
    * interval opens on every change (ties on ts break on event_id),
    * `valid_to_us` is the next interval's start (NULL = current). The
    * dimension-history materialization a CDC feed lands into; q82 diffs
    * snapshots, this one builds the queryable interval table. One
    * entity-keyed shuffle serves every window. */
  def q138Scd2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.scd2(t(s, dir, "events"), "user_id", "ts",
      "event_id", "event_type").orderBy("entity", "run_id")

  val q138Sql: String =
    """WITH e AS (SELECT user_id AS entity, epoch_us(ts) AS ts_us, event_id, event_type
      |           FROM events),
      |c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
      |          OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |      FROM e WINDOW w AS (PARTITION BY entity ORDER BY ts_us, event_id)),
      |r AS (SELECT *, sum(chg) OVER (PARTITION BY entity ORDER BY ts_us, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS run_id FROM c),
      |g AS (SELECT entity, CAST(run_id AS BIGINT) AS run_id, min(event_type) AS attr,
      |        CAST(min(ts_us) AS BIGINT) AS valid_from_us,
      |        CAST(count(*) AS BIGINT) AS n_events
      |      FROM r GROUP BY entity, run_id)
      |SELECT entity, run_id, attr, valid_from_us,
      |  lead(valid_from_us) OVER (PARTITION BY entity ORDER BY run_id) AS valid_to_us,
      |  n_events
      |FROM g ORDER BY entity, run_id""".stripMargin

  // ------------------------------------------ q139 streaming SCD2 build

  private def stageScd2Source(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q139:$dir", {
      val split = 1705363200000000L   // 2024-01-16T00:00:00Z, µs
      val flushTs = 1709251200000000L // 2024-03-01T00:00:00Z — beyond every event
      val tall = t(s, dir, "events").select(
        col("user_id").as("entity_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id").as("eid"),
        col("event_type").as("attr"),
        lit(false).as("flush"))
      val sentinels = tall.select(col("entity_id")).distinct()
        .select(col("entity_id"), lit(flushTs).as("ts_us"), lit(-1L).as("eid"),
          lit("flush").as("attr"), lit(true).as("flush"))
      graft.sources.Staging.stageParts(Seq(
        "first" -> tall.filter(col("ts_us") < split),
        "second" -> tall.filter(col("ts_us") >= split),
        "flush" -> sentinels))
    })

  /** Warehouse/streaming — the q138 SCD2 build computed INCREMENTALLY
    * ([[graft.streaming.StreamingScd2]]): one open run per entity carried
    * in flatMapGroupsWithState state across three micro-batches; closed
    * intervals emit exactly once the moment the attribute changes, the
    * open interval emits on the flush sentinel. Output hash-matches the
    * BATCH oracle (same SQL as q138) — live dimension history with
    * constant-size state per entity. */
  def q139StreamScd2(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingScd2
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val srcDir = stageScd2Source(s, dir)
    val schema = org.apache.spark.sql.Encoders.product[StreamingScd2.Scd2Event].schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val results = StreamingScd2.scd2(stream.as[StreamingScd2.Scd2Event])
    val qn = s"q139_scd2_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      results.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-scd2-ckpt"))
        .start().awaitTermination()
    }
    s.table(qn)
      .select(col("entity_id").as("entity"), col("run_id"), col("attr"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"))
      .orderBy("entity", "run_id")
  }

  // q139's oracle IS q138's: the streaming fold must reproduce the batch
  // SCD2 interval table bit-for-bit (same change detection, same shape)

  // --------------------------------------- q98 media frame dedup coverage

  /** North star/multimodal — cross-media duplicated-frame coverage
    * ([[graft.llmops.Multimodal.frameDupCoverage]]): content-defined chunk
    * dedup over binary payloads — per media object, how many of its
    * 256-byte frames recur verbatim in another object. Frame digests, not
    * bytes, flow through every shuffle. */
  def q98MediaDup(s: SparkSession, dir: String): DataFrame =
    graft.llmops.Multimodal.frameDupCoverage(
      graft.llmops.Multimodal.asMedia(docs(s, dir), "doc_id", "text"),
      frameBytes = 256).orderBy("media_id")

  val q98Sql: String =
    """WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
      |f AS (SELECT media_id, i AS frame_idx,
      |        sha256(substring(text, CAST(i * 256 + 1 AS INT), 256)) AS g
      |      FROM m, UNNEST(range(0, (n - 1) // 256 + 1)) AS u(i) WHERE n > 0),
      |fdf AS (SELECT g, count(DISTINCT media_id) AS c FROM f GROUP BY 1),
      |d AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_dup_frames
      |      FROM f JOIN fdf USING (g) WHERE c >= 2 GROUP BY 1),
      |tot AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames FROM f GROUP BY 1)
      |SELECT tot.media_id, tot.n_frames,
      |  CAST(COALESCE(d.n_dup_frames, 0) AS BIGINT) AS n_dup_frames,
      |  CAST(COALESCE(d.n_dup_frames, 0) * 1000 // tot.n_frames AS BIGINT) AS dup_permille
      |FROM tot LEFT JOIN d ON d.media_id = tot.media_id
      |ORDER BY tot.media_id""".stripMargin

  // ------------------------------------------- q144 media pair near-dup

  /** S25/north star — media-pair near-dup
    * ([[graft.llmops.Multimodal.frameJaccardPairs]]): Jaccard over each
    * item's distinct frame-hash set, candidates from the inverted
    * frame-hash index — the asset-level "these two videos share most of
    * their frames" detector that whole-payload SHA (exact dedup) misses
    * and q98's per-item coverage doesn't pair up. */
  def q144MediaPairDup(s: SparkSession, dir: String): DataFrame =
    graft.llmops.Multimodal.frameJaccardPairs(
      graft.llmops.Multimodal.asMedia(docs(s, dir), "doc_id", "text"),
      frameBytes = 64, minJaccard = 0.3).orderBy("id_a", "id_b")

  val q144Sql: String =
    """WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
      |f AS (SELECT media_id, sha256(substring(text, CAST(i * 64 + 1 AS INT), 64)) AS g
      |      FROM m, UNNEST(range(0, (n - 1) // 64 + 1)) AS u(i) WHERE n > 0),
      |s AS (SELECT DISTINCT media_id AS id, g FROM f),
      |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS n_fr FROM s GROUP BY 1),
      |i AS (SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
      |      FROM s a JOIN s b ON a.g = b.g AND a.id < b.id GROUP BY 1, 2)
      |SELECT i.id_a, i.id_b, i.n_inter, sa.n_fr AS n_a, sb.n_fr AS n_b,
      |  CAST(i.n_inter AS DOUBLE) / (sa.n_fr + sb.n_fr - i.n_inter) AS jaccard
      |FROM i JOIN sz sa ON sa.id = i.id_a JOIN sz sb ON sb.id = i.id_b
      |WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_fr + sb.n_fr - i.n_inter) >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------- q147 CDC chunk dedup

  /** S25/engine depth — content-defined-chunk dup coverage
    * ([[graft.llmops.Multimodal.cdcDupCoverage]], boundaries from the
    * native [[org.apache.spark.sql.graft.CdcChunks]] rolling-hash loop):
    * q98's coverage report with insertion-robust boundaries — a mirror
    * with one inserted line still shares every chunk outside the edit.
    * The oracle recomputes every rolling hash, cut, and chunk digest. */
  def q147CdcDedup(s: SparkSession, dir: String): DataFrame =
    graft.llmops.Multimodal.cdcDupCoverage(docs(s, dir), "doc_id", "text")
      .orderBy("media_id")

  val q147Sql: String =
    """WITH m AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |ch AS (SELECT doc_id, i, ord(substr(text, CAST(i AS INT), 1)) AS c
      |       FROM m, UNNEST(range(1, n + 1)) AS u(i)),
      |pw AS (SELECT j, CAST(p AS BIGINT) AS p FROM (VALUES (0, 1), (1, 31),
      |        (2, 961), (3, 29791), (4, 923521), (5, 28629151),
      |        (6, 887503681), (7, 27512614111)) AS t(j, p)),
      |h AS (SELECT c1.doc_id, c1.i, CAST(SUM(c2.c * pw.p) AS BIGINT) AS h
      |      FROM ch c1 JOIN ch c2 ON c2.doc_id = c1.doc_id
      |                           AND c2.i BETWEEN c1.i - 7 AND c1.i
      |                 JOIN pw ON pw.j = c1.i - c2.i
      |      WHERE c1.i >= 8 GROUP BY 1, 2),
      |bnd AS (SELECT doc_id, i FROM h WHERE h % 64 = 0),
      |cuts AS (SELECT doc_id, i AS en,
      |           coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS st
      |         FROM bnd
      |         UNION ALL
      |         SELECT m.doc_id, m.n AS en, coalesce(mx.mi, 0) + 1 AS st
      |         FROM m LEFT JOIN (SELECT doc_id, max(i) AS mi FROM bnd GROUP BY 1) mx
      |           USING (doc_id)
      |         WHERE m.n > coalesce(mx.mi, 0)),
      |ck AS (SELECT c.doc_id AS media_id,
      |         md5(substr(m.text, CAST(c.st AS INT), CAST(c.en - c.st + 1 AS INT))) AS g
      |       FROM cuts c JOIN m ON m.doc_id = c.doc_id),
      |fdf AS (SELECT g, count(DISTINCT media_id) AS cdf FROM ck GROUP BY 1),
      |d AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_dup_chunks
      |      FROM ck JOIN fdf USING (g) WHERE cdf >= 2 GROUP BY 1),
      |tot AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_chunks FROM ck GROUP BY 1)
      |SELECT tot.media_id, tot.n_chunks,
      |  CAST(coalesce(d.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
      |  CAST(coalesce(d.n_dup_chunks, 0) * 1000 // tot.n_chunks AS BIGINT) AS dup_permille
      |FROM tot LEFT JOIN d ON d.media_id = tot.media_id
      |ORDER BY tot.media_id""".stripMargin

  // ------------------------------------------- q148 split leakage audit

  /** North star/eval hygiene — cross-split leakage audit
    * ([[Corpus.splitLeakageAudit]]): document pairs in DIFFERENT q83-naive
    * splits sharing ≥ 5 distinct trigram shingles — the measured
    * contamination that motivates q104's cluster-canonical split (on which
    * this audit returns zero rows, spec-pinned). Candidates from the
    * inverted gram index restricted to cross-split hits. */
  def q148LeakageAudit(s: SparkSession, dir: String): DataFrame =
    Corpus.splitLeakageAudit(
      Corpus.hashSplit(docs(s, dir), "doc_id")
        .select(col("id").as("doc_id"), col("split"))
        .join(docs(s, dir), "doc_id"),
      "doc_id", "text", "split", n = 3, minShared = 5L)
      .orderBy("id_a", "id_b")

  val q148Sql: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |shl AS (SELECT doc_id AS id, unnest(list_distinct(CASE WHEN len(t) >= 3
      |          THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |          ELSE CAST([] AS VARCHAR[]) END)) AS s FROM tok),
      |gid AS (SELECT id, CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT) AS g FROM shl),
      |sp AS (SELECT doc_id AS id,
      |         CASE WHEN ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |              + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 100 < 80 * 256 THEN 'train'
      |              WHEN ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |              + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 100 < 90 * 256 THEN 'val'
      |              ELSE 'test' END AS split
      |       FROM documents),
      |tg AS (SELECT gid.id, gid.g, sp.split FROM gid JOIN sp USING (id))
      |SELECT a.split AS split_a, b.split AS split_b, a.id AS id_a, b.id AS id_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM tg a JOIN tg b ON a.g = b.g AND a.id < b.id AND a.split <> b.split
      |GROUP BY 1, 2, 3, 4 HAVING count(*) >= 5
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------- q99 quality expectations

  /** Pipeline depth — declarative data-quality expectations
    * ([[graft.operators.Profile.expectations]]): six contract rules over
    * lineitem evaluated in ONE scan (k conditional sums + the row count in
    * the same aggregation); per-rule violation counts and pass flags, the
    * gate a 100 TB ingest runs before promoting a batch. */
  def q99Expectations(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.expectations(t(s, dir, "lineitem"), Seq(
      "qty_range" -> col("l_quantity").between(1, 50),
      "price_positive" -> (col("l_extendedprice") > 0),
      "discount_range" -> col("l_discount").between(0.0, 0.1),
      "shipdate_range" -> col("l_shipdate")
        .between(lit("1992-01-01").cast("date"), lit("1998-12-31").cast("date")),
      "keys_not_null" -> (col("l_orderkey").isNotNull && col("l_partkey").isNotNull),
      "flag_domain" -> col("l_returnflag").isin("A", "N", "R")))

  val q99Sql: String =
    """WITH a AS (SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN COALESCE(l_quantity BETWEEN 1 AND 50, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_qty,
      |  CAST(sum(CASE WHEN COALESCE(l_extendedprice > 0, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_price,
      |  CAST(sum(CASE WHEN COALESCE(l_discount BETWEEN 0.0 AND 0.1, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_disc,
      |  CAST(sum(CASE WHEN COALESCE(l_shipdate BETWEEN DATE '1992-01-01' AND DATE '1998-12-31', false) THEN 0 ELSE 1 END) AS BIGINT) AS v_ship,
      |  CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND l_partkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v_keys,
      |  CAST(sum(CASE WHEN COALESCE(l_returnflag IN ('A', 'N', 'R'), false) THEN 0 ELSE 1 END) AS BIGINT) AS v_flag
      |  FROM lineitem)
      |SELECT r.rule, r.n_violations, a.n_rows, r.n_violations = 0 AS pass
      |FROM a, (VALUES
      |  ('discount_range', (SELECT v_disc FROM a)),
      |  ('flag_domain', (SELECT v_flag FROM a)),
      |  ('keys_not_null', (SELECT v_keys FROM a)),
      |  ('price_positive', (SELECT v_price FROM a)),
      |  ('qty_range', (SELECT v_qty FROM a)),
      |  ('shipdate_range', (SELECT v_ship FROM a))) AS r(rule, n_violations)
      |ORDER BY r.rule""".stripMargin

  // --------------------------------------- q100 training-data manifest

  /** Capstone — the end-to-end training-data manifest, every stage an
    * operator this library already declares singly: Gopher quality gate ∧
    * exact-dedup survivor ∧ near-dup survivor ([[Curation.q61Curation]]) →
    * deterministic md5 train split ([[Corpus.hashSplit]]) → fixed-length
    * sequence packing ([[Corpus.packSequences]], 512 tokens × 4 shards).
    * The output is what a trainer consumes: where every surviving train
    * document's tokens land (shard, sequence, offset). One declared,
    * hash-gated query composing the whole pipeline. */
  def q100TrainManifest(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val kept = Curation.q61Curation(s, dir).filter(col("kept")).select("id")
    val train = Corpus.hashSplit(d, "doc_id")
      .filter(col("split") === "train").select("id")
      .join(kept, "id")
    Corpus.packSequences(
        d.join(train.withColumnRenamed("id", "doc_id"), "doc_id"),
        "doc_id", "text", seqLen = 512, nShards = 4)
      .orderBy("id")
  }

  val q100Sql: String = {
    // kept-set CTEs are q61's oracle verbatim (same semantics, same names)
    val keptCtes = q61CtePrefix
    s"""$keptCtes,
      |kept AS (SELECT q.id FROM qual q JOIN ek ON ek.id = q.id
      |         LEFT JOIN nd ON nd.id = q.id
      |         WHERE q.q_pass AND NOT ek.exact_dup AND nd.id IS NULL),
      |spl AS (SELECT doc_id AS id FROM documents
      |        WHERE ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |             + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 100 < 80 * 256),
      |train AS (SELECT id FROM kept INTERSECT SELECT id FROM spl),
      |td AS (SELECT doc_id AS id, doc_id % 4 AS shard,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |       FROM documents JOIN train ON train.id = documents.doc_id),
      |pk AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS excl
      |       FROM td)
      |SELECT id, shard, excl // 512 AS seq_id, excl % 512 AS "offset", n_tokens
      |FROM pk ORDER BY id""".stripMargin
  }

  /** q61's oracle CTE prefix (everything before its final SELECT) — shared
    * with q100 so the kept-set semantics stay literally identical. */
  private def q61CtePrefix: String = {
    val sql = Curation.q61Sql
    sql.substring(0, sql.lastIndexOf("SELECT q.id, q.q_pass")).stripSuffix("\n")
  }

  // --------------------------------------- q101 per-class centroid state

  /** Embedding analytics — per-label centroid STATE over the embeddings
    * table: for every (label, dimension), the exact ×1e8-quantized
    * coordinate sum and the vector count. Emitting (sum, n) instead of the
    * divided mean keeps the output pure integers (cross-engine integer
    * division disagrees on negative operands) and mergeable — shard states
    * add, the mean is one client-side division. Tall (label, j) aggregation
    * with map-side combine: groups = labels × dim, not rows. */
  def q101ClassCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("j", "x")))
      .withColumn("x_q", expr(
        "CAST(sign(CAST(x AS DOUBLE)) * floor(abs(CAST(x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"))
      .groupBy("label", "j")
      .agg(sum("x_q").as("sum_q"), count(lit(1)).as("n_vecs"))
      .orderBy("label", "j")

  val q101Sql: String =
    """WITH e AS (SELECT label, CAST(j - 1 AS INT) AS j,
      |             CAST(embedding[j] AS DOUBLE) AS x
      |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(j))
      |SELECT label, j,
      |  CAST(sum(CAST(sign(x) * floor(abs(x) * 100000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q,
      |  count(*) AS n_vecs
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------- registry

  // ----------------------------------------- q302 KMV set-op estimates

  /** Sketch — KMV SET-OPERATION estimates between two customer
    * populations (custkeys ordering in 1995 vs 1996): the k-minimum-values
    * union sample (k = 256, q242's portable md5-prefix hash) estimates
    * |A∪B| from its kth hash, and the fraction of the union sample present
    * in BOTH sets estimates Jaccard and |A∩B| (Beyer et al. 2007 — the
    * mergeable-sketch answer to "how much do two cohorts overlap" that
    * never shuffles the cohorts themselves). Exact counterparts ride one
    * conditional rollup; both estimate and truth are gated, so the
    * estimator's bias is itself pinned. At 100 TB each side's sketch is a
    * fixed k-row frame — set algebra on sketches, not on data. */
  def q302KmvSetOps(s: SparkSession, dir: String): DataFrame = {
    def h(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long") + 1L
    val k = 256
    val orders = t(s, dir, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
      .filter(col("y").isin(1995, 1996))
    val a = orders.filter(col("y") === 1995)
      .select(h(col("o_custkey")).as("h")).distinct()
    val b = orders.filter(col("y") === 1996)
      .select(h(col("o_custkey")).as("h")).distinct()
    val sample = a.unionByName(b).distinct().orderBy("h").limit(k)
    val agg = sample
      .join(a.withColumn("in_a", lit(1L)), Seq("h"), "left")
      .join(b.withColumn("in_b", lit(1L)), Seq("h"), "left")
      .agg(count(lit(1)).as("n_seen"), max("h").as("kth_hash"),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L).otherwise(0L))
          .as("n_both"))
    val exact = orders.groupBy("o_custkey")
      .agg(max(when(col("y") === 1995, 1L).otherwise(0L)).as("y95"),
        max(when(col("y") === 1996, 1L).otherwise(0L)).as("y96"))
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("y95") === 1L && col("y96") === 1L, 1L).otherwise(0L))
          .as("exact_intersection"))
    agg.crossJoin(broadcast(exact))
      .withColumn("est_union",
        when(col("n_seen") < k, col("n_seen"))
          .otherwise(expr(s"((${k.toLong} - 1) * 281474976710656L) div kth_hash")))
      .select(col("n_seen"), col("n_both"),
        col("est_union"),
        expr("est_union * n_both div n_seen").as("est_intersection"),
        expr("n_both * 1000000 div n_seen").as("est_jaccard_ppm"),
        col("exact_union"), col("exact_intersection"),
        expr("exact_intersection * 1000000 div exact_union")
          .as("exact_jaccard_ppm"))
  }

  val q302Sql: String =
    """WITH ca AS (SELECT DISTINCT
      |    CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT) + 1 AS h
      |  FROM orders WHERE year(o_orderdate) = 1995),
      |cb AS (SELECT DISTINCT
      |    CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT) + 1 AS h
      |  FROM orders WHERE year(o_orderdate) = 1996),
      |u AS (SELECT h FROM ca UNION SELECT h FROM cb),
      |ks AS (SELECT h FROM u ORDER BY h LIMIT 256),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_seen,
      |    CAST(max(ks.h) AS BIGINT) AS kth_hash,
      |    CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      |  FROM ks LEFT JOIN ca a ON a.h = ks.h LEFT JOIN cb b ON b.h = ks.h),
      |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
      |    CAST(sum(CASE WHEN y95 = 1 AND y96 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_intersection
      |  FROM (SELECT o_custkey,
      |          max(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS y95,
      |          max(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS y96
      |        FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1)),
      |est AS (SELECT n_seen, n_both,
      |    CASE WHEN n_seen < 256 THEN n_seen
      |         ELSE (255 * 281474976710656) // kth_hash END AS est_union,
      |    exact_union, exact_intersection
      |  FROM agg CROSS JOIN ex)
      |SELECT n_seen, n_both, est_union,
      |  CAST(est_union * n_both // n_seen AS BIGINT) AS est_intersection,
      |  CAST(n_both * 1000000 // n_seen AS BIGINT) AS est_jaccard_ppm,
      |  exact_union, exact_intersection,
      |  CAST(exact_intersection * 1000000 // exact_union AS BIGINT) AS exact_jaccard_ppm
      |FROM est""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q302_kmv_setops", q302KmvSetOps, q302Sql),
    Query("q304_timer_sessions", q304TimerSessions, q304Sql, Query.Streaming),
    Query("q306_type_counts", q306TypeCounts, q306Sql, Query.Streaming),
    Query("q307_recent_purchases", q307RecentPurchases, q307Sql, Query.Streaming),
    Query("q83_hash_split", q83HashSplit, q83Sql),
    Query("q104_leakage_safe_split", q104LeakageSafeSplit, q104Sql),
    Query("q106_dsir_weights", q106DsirWeights, q106Sql),
    Query("q107_perplexity_tiers", q107PerplexityTiers, q107Sql),
    Query("q108_pmi_phrases", q108PmiPhrases, q108Sql),
    Query("q109_mixture_schedule", q109MixtureSchedule, q109Sql),
    Query("q110_bigram_logprob", q110BigramLogprob, q110Sql),
    Query("q111_containment", q111Containment, q111Sql),
    Query("q112_stream_decontam", q112StreamDecontam, q112Sql, Query.Streaming),
    Query("q113_source_caps", q113SourceCaps, q113Sql),
    Query("q115_epoch_shuffle", q115EpochShuffle, q115Sql),
    Query("q117_stream_quota", q117StreamQuota, q117Sql, Query.Streaming),
    Query("q120_self_repeats", q120SelfRepeats, q120Sql),
    Query("q129_chunk_dedup", q129ChunkDedup, q129Sql),
    Query("q204_substring_dedup", q204SubstringDedup, q204Sql),
    Query("q209_substr_anchored", q209SubstrAnchored, q209Sql),
    Query("q213_kneser_ney", q213KneserNey, q213Sql),
    Query("q214_item_cooccur", q214ItemCooccur, q214Sql),
    Query("q215_rake_keywords", q215RakeKeywords, q215Sql),
    Query("q217_stream_psi", q217StreamPsi, q217Sql, Query.Streaming),
    Query("q233_stream_cusum", q233StreamCusum, q233Sql, Query.Streaming),
    Query("q205_top_boilerplate", q205TopBoilerplate, q205Sql),
    Query("q206_fracminhash", q206FracMinHash, q206Sql),
    Query("q242_kmv_distinct", q242KmvDistinct, q242Sql),
    Query("q243_countmin", q243CountMin, q243Sql),
    Query("q207_stream_substr", q207StreamSubstr, q207Sql, Query.Streaming),
    Query("q208_substr_keepfirst", q208SubstrKeepFirst, q208Sql),
    Query("q210_stream_substr_late", q210StreamSubstrLate, q210Sql, Query.Streaming),
    Query("q132_cluster_canonical", q132ClusterCanonical, q132Sql),
    Query("q121_bpe_merges", q121BpeMerges, q121Sql),
    Query("q122_bpe_vocab", q122BpeVocab, q122Sql),
    Query("q123_bpe_fertility", q123BpeFertility, q123Sql),
    Query("q124_source_drift", q124SourceDrift, q124Sql),
    Query("q127_stream_ann", q127StreamAnn, q127Sql, Query.Streaming),
    Query("q84_token_budget", q84TokenBudget, q84Sql),
    Query("q85_dup_spans", q85DupSpans, q85Sql),
    Query("q86_hll_sketch", q86HllSketch, q86Sql),
    Query("q87_zorder", q87Zorder, q87Sql),
    Query("q88_funnel", q88Funnel, q88Sql),
    Query("q89_retention", q89Retention, q89Sql),
    Query("q90_zonemap_read", q90ZonemapRead, q90Sql, Query.Staged),
    Query("q91_stream_hll", q91StreamHll, q91Sql, Query.Streaming),
    Query("q266_stream_histq", q266StreamHistQuantiles, q266Sql, Query.Streaming),
    Query("q284_stream_session_window", q284StreamSessionWindow, q284Sql, Query.Streaming),
    Query("q295_running_balance", q295RunningBalance, q295Sql, Query.Streaming),
    Query("q92_incremental_agg", q92IncrementalAgg, q92Sql, Query.Staged),
    Query("q93_index_lookup", q93IndexLookup, q93Sql, Query.Staged),
    Query("q94_tx_delete", q94TxDelete, q94Sql, Query.Staged),
    Query("q95_stream_funnel", q95StreamFunnel, q88Sql, Query.Streaming),
    Query("q96_transitions", q96Transitions, q96Sql),
    Query("q97_rfm", q97Rfm, q97Sql),
    Query("q138_scd2_intervals", q138Scd2, q138Sql),
    Query("q139_stream_scd2", q139StreamScd2, q138Sql, Query.Streaming),
    Query("q98_media_dup", q98MediaDup, q98Sql),
    Query("q144_media_pair_dup", q144MediaPairDup, q144Sql),
    Query("q147_cdc_dedup", q147CdcDedup, q147Sql),
    Query("q148_leakage_audit", q148LeakageAudit, q148Sql),
    Query("q158_group_kfold", q158GroupKfold, q158Sql),
    Query("q159_decay_value", q159DecayValue, q159Sql),
    Query("q161_rolling_window", q161RollingWindow, q161Sql),
    Query("q162_value_drift", q162ValueDrift, q162Sql),
    Query("q99_expectations", q99Expectations, q99Sql),
    Query("q100_train_manifest", q100TrainManifest, q100Sql),
    Query("q101_class_centroids", q101ClassCentroids, q101Sql))
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Analytics => Ops}
import graft.sources.Tables

/** Round-8 continuation: corpus-selection and profiling operators whose
  * value is the SHAPE they impose at 100 TB — Pareto-skyline selection
  * (q153: which documents are undominated on content-vs-noise), one-pass
  * mergeable histogram quantiles (q154: the sketch answer to q80's exact
  * sort), and a one-pass correlation-piece profile (q155: every pairwise
  * Pearson numerator from a single aggregate). Same determinism rules as
  * the rest of the declared surface: every gated column is an integer.
  */
object Analytics {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  // ------------------------------------------------- q153 pareto skyline

  /** North star/curation — Pareto-skyline document selection
    * ([[graft.operators.Analytics.skyline2D]]): the undominated frontier
    * on (content ↑, noise ↓), where content = alphanumeric char count and
    * noise = non-alphanumeric char count. Multi-criteria "which documents
    * are strictly worth keeping" — the frontier no weighted quality score
    * (q56/q143) can express, because it presumes no weighting. One
    * groupBy shuffle + a metadata-scale triangular staircase + one
    * broadcast join back; never n². */
  def q153Skyline(s: SparkSession, dir: String): DataFrame = {
    val alnum = expr(
      "CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '')) AS BIGINT)")
    val m = docs(s, dir).select(
      col("doc_id"),
      alnum.as("m_up"),
      (length(col("text")).cast("long") - alnum).as("m_down"))
    Ops.skyline2D(m, "doc_id", "m_up", "m_down").orderBy("doc_id")
  }

  val q153Sql: String =
    """WITH m AS (SELECT doc_id,
      |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS m_up,
      |    CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS m_down
      |  FROM documents),
      |g AS (SELECT m_up, min(m_down) AS g_min FROM m GROUP BY 1),
      |s AS (SELECT a.m_up, a.g_min, min(b.g_min) AS strict_min
      |      FROM g a LEFT JOIN g b ON b.m_up > a.m_up GROUP BY 1, 2)
      |SELECT m.doc_id, m.m_up, m.m_down
      |FROM m JOIN s USING (m_up)
      |WHERE m.m_down = s.g_min AND (s.strict_min IS NULL OR m.m_down < s.strict_min)
      |ORDER BY m.doc_id""".stripMargin

  // --------------------------------------- q154 histogram quantiles

  /** S8/Ranks counterpart — one-pass mergeable histogram quantiles
    * ([[graft.operators.Analytics.histogramQuantiles]]): P50/P95/P99 of
    * l_extendedprice (integer cents) per return flag from equi-width
    * $1000 bins. Where q80 pays a full per-group sort (exact), this pays
    * one partial-aggregating shuffle of ≤ |groups|·|bins| rows — the
    * shape that still works when a group holds 10¹¹ rows — and the
    * estimate (bin edge + exact-integer linear interpolation at rank
    * ceil(n·pct/100)) is itself hash-gated, not just "close". */
  def q154HistQuantiles(s: SparkSession, dir: String): DataFrame = {
    val v = t(s, dir, "lineitem").select(
      col("l_returnflag").as("g"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
    Ops.histogramQuantiles(v, "g", "v", binWidth = 100000L,
      targetsPct = Seq(50, 95, 99)).orderBy("g", "pct")
  }

  val q154Sql: String =
    """WITH v AS (SELECT l_returnflag AS g,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem),
      |b AS (SELECT g, v // 100000 AS bin, CAST(count(*) AS BIGINT) AS c
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
      |  bin * 100000 + ((r - cumb) * 100000) // c AS est_q
      |FROM tr WHERE cumb < r AND r <= cumb + c
      |ORDER BY g, pct""".stripMargin

  // --------------------------------------- q155 correlation pieces

  /** Profiling (q64's bivariate extension) — every pairwise Pearson
    * correlation numerator over lineitem's four measures from ONE
    * aggregate pass: n, Σx, Σy, Σx², Σxy, Σy² per pair, all exact
    * integers (quantity in units, price in whole dollars, discount/tax in
    * basis points — chosen so Σx² stays in BIGINT through sf≈100; beyond
    * that the same plan swaps DECIMAL(38,0) sums in). The corpus is
    * touched once; the 6-pair reshape is a stack over the single
    * aggregate row. r² = (nΣxy−ΣxΣy)² / ((nΣx²−Σx²)(nΣy²−Σy²)) assembles
    * downstream from these gated pieces without re-reading data. */
  def q155CorrPieces(s: SparkSession, dir: String): DataFrame = {
    val v = t(s, dir, "lineitem").select(
      expr("CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT)").as("q"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,0)) AS BIGINT)").as("p"),
      expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)").as("d"),
      expr("CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT)").as("tx"))
    val a = v.agg(
      count(lit(1)).as("n"),
      sum("q").as("s_q"), sum("p").as("s_p"),
      sum("d").as("s_d"), sum("tx").as("s_t"),
      sum(col("q") * col("q")).as("s_qq"), sum(col("p") * col("p")).as("s_pp"),
      sum(col("d") * col("d")).as("s_dd"), sum(col("tx") * col("tx")).as("s_tt"),
      sum(col("q") * col("p")).as("s_qp"), sum(col("q") * col("d")).as("s_qd"),
      sum(col("q") * col("tx")).as("s_qt"), sum(col("p") * col("d")).as("s_pd"),
      sum(col("p") * col("tx")).as("s_pt"), sum(col("d") * col("tx")).as("s_dt"))
    a.select(expr(
      """stack(6,
        |  'disc_tax',  n, s_d, s_t, s_dd, s_dt, s_tt,
        |  'price_disc', n, s_p, s_d, s_pp, s_pd, s_dd,
        |  'price_tax', n, s_p, s_t, s_pp, s_pt, s_tt,
        |  'qty_disc',  n, s_q, s_d, s_qq, s_qd, s_dd,
        |  'qty_price', n, s_q, s_p, s_qq, s_qp, s_pp,
        |  'qty_tax',   n, s_q, s_t, s_qq, s_qt, s_tt
        |) AS (pair, n, s_x, s_y, s_xx, s_xy, s_yy)""".stripMargin))
      .orderBy("pair")
  }

  val q155Sql: String =
    """WITH v AS (SELECT
      |    CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,0)) AS BIGINT) AS p,
      |    CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS d,
      |    CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT) AS tx
      |  FROM lineitem),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(q) AS BIGINT) AS s_q, CAST(sum(p) AS BIGINT) AS s_p,
      |    CAST(sum(d) AS BIGINT) AS s_d, CAST(sum(tx) AS BIGINT) AS s_t,
      |    CAST(sum(q * q) AS BIGINT) AS s_qq, CAST(sum(p * p) AS BIGINT) AS s_pp,
      |    CAST(sum(d * d) AS BIGINT) AS s_dd, CAST(sum(tx * tx) AS BIGINT) AS s_tt,
      |    CAST(sum(q * p) AS BIGINT) AS s_qp, CAST(sum(q * d) AS BIGINT) AS s_qd,
      |    CAST(sum(q * tx) AS BIGINT) AS s_qt, CAST(sum(p * d) AS BIGINT) AS s_pd,
      |    CAST(sum(p * tx) AS BIGINT) AS s_pt, CAST(sum(d * tx) AS BIGINT) AS s_dt
      |  FROM v)
      |SELECT 'disc_tax' AS pair, n, s_d AS s_x, s_t AS s_y, s_dd AS s_xx, s_dt AS s_xy, s_tt AS s_yy FROM a
      |UNION ALL SELECT 'price_disc', n, s_p, s_d, s_pp, s_pd, s_dd FROM a
      |UNION ALL SELECT 'price_tax', n, s_p, s_t, s_pp, s_pt, s_tt FROM a
      |UNION ALL SELECT 'qty_disc', n, s_q, s_d, s_qq, s_qd, s_dd FROM a
      |UNION ALL SELECT 'qty_price', n, s_q, s_p, s_qq, s_qp, s_pp FROM a
      |UNION ALL SELECT 'qty_tax', n, s_q, s_t, s_qq, s_qt, s_tt FROM a
      |ORDER BY pair""".stripMargin

  // ------------------------------------------------- q166 AUC eval

  /** Shared DuckDB CTE replicating q143's hashed-n-gram classifier score
    * (mirrors [[graft.llmops.TextAnalysis.hashedNgramScore]]); ends with
    * `sc(id, score_raw, score_milli)` covering EVERY document. */
  private val DuckClassifierScore: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |g AS (SELECT doc_id, unnest(t) AS g FROM tok
      |      UNION ALL
      |      SELECT doc_id, unnest(CASE WHEN len(t) >= 2
      |        THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
      |        ELSE CAST([] AS VARCHAR[]) END) AS g FROM tok),
      |w AS (SELECT doc_id,
      |        ((CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT) % 4096)
      |          * 2654435761 + 97) % 4294967296 % 2001 - 1000 AS w
      |      FROM g),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |          CAST(sum(w) AS BIGINT) AS score_raw
      |        FROM w GROUP BY 1),
      |sc AS (SELECT d.doc_id AS id, coalesce(agg.score_raw, 0) AS score_raw,
      |         CASE WHEN coalesce(agg.n_grams, 0) = 0 THEN CAST(0 AS BIGINT)
      |              ELSE CAST((agg.score_raw * 1000
      |                     - ((agg.score_raw * 1000 % agg.n_grams) + agg.n_grams) % agg.n_grams)
      |                   // agg.n_grams AS BIGINT) END AS score_milli
      |       FROM documents d LEFT JOIN agg USING (doc_id))""".stripMargin

  /** Model-eval — exact ROC-AUC of the q143 classifier score against an
    * INDEPENDENT reference label (`lang = 'en'`), by the tie-corrected
    * Mann–Whitney rank-sum: AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) with tied
    * scores taking the average rank of their tie group. Everything stays
    * integer by working in doubled ranks: a tie group's ordinal ranks
    * under the (score, id) total order span exactly [lo, hi], so
    * 2·avg_rank = lo + hi — no fractional ranks, no prefix-sum pass, and
    * no single-partition window ([[graft.operators.Ranks.globalRank]]
    * supplies the ordinal ranks distributively; the tie bounds are one
    * groupBy over distinct scores). u2 = 2U; auc_ppm = ⌊1e6·2U / 2n⁺n⁻⌋.
    * The discrimination number every quality filter gets judged by before
    * its threshold is chosen (q160 turns the same score into percentiles;
    * this grades whether the ORDERING means anything). */
  def q166AucEval(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.llmops.TextAnalysis
      .hashedNgramScore(docs(s, dir), "doc_id", "text")
      .select(col("id"), col("score_milli"))
    val truth = docs(s, dir)
      .select(col("doc_id").as("id"), (col("lang") === "en").as("truth"))
    Ops.aucRankSum(scored.join(truth, "id"), "score_milli", "id", "truth")
  }

  val q166Sql: String = DuckClassifierScore +
    """,
      |r AS (SELECT id, score_milli,
      |        CAST(row_number() OVER (ORDER BY score_milli, id) AS BIGINT) AS rnk
      |      FROM sc),
      |ties AS (SELECT score_milli, min(rnk) AS lo, max(rnk) AS hi FROM r GROUP BY 1),
      |j AS (SELECT r.id, ties.lo, ties.hi, d.lang = 'en' AS truth
      |      FROM r JOIN ties USING (score_milli) JOIN documents d ON d.doc_id = r.id),
      |a AS (SELECT CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |        CAST(sum(CASE WHEN NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
      |        CAST(sum(CASE WHEN truth THEN lo + hi ELSE 0 END) AS BIGINT) AS r2_pos
      |      FROM j)
      |SELECT n_pos, n_neg, r2_pos - n_pos * (n_pos + 1) AS u2,
      |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN -1
      |       ELSE ((r2_pos - n_pos * (n_pos + 1)) * 1000000)
      |         // (2 * n_pos * n_neg) END AS auc_ppm
      |FROM a""".stripMargin

  // ------------------------------------------------- q168 A/B lift

  /** Experimentation — deterministic A/B lift readout over events: users
    * split into arms by id parity (the hash-split q83 applies to docs,
    * applied to experiment units), per-user outcomes (converted = ≥ 1
    * 'purchase', revenue = cent sum) reduced once per user then once per
    * arm. Effects are reported as exact integer CROSS terms
    * (convᵦnₐ − convₐnᵦ, centsᵦnₐ − centsₐnᵦ — sign = direction of lift,
    * zero division anywhere) plus per-arm ppm rates; z-scores assemble
    * downstream from these gated pieces. Two shuffles total (user agg,
    * arm agg of 2 rows) — the shape that reads 100 TB of raw events
    * once. */
  def q168AbLift(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .select(col("user_id"),
        (col("event_type") === "purchase").cast("long").as("is_purchase"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("user_id")
      .agg(sum("is_purchase").as("n_purch"), sum("cents").as("cents"))
      .withColumn("arm", expr("user_id % 2"))
    perUser.groupBy()
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0 && col("n_purch") > 0, 1L).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1 && col("n_purch") > 0, 1L).otherwise(0L)).as("conv_b"),
        sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("cents_a"),
        sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("cents_b"))
      .withColumn("conv_cross", expr("conv_b * n_a - conv_a * n_b"))
      .withColumn("cents_cross", expr("cents_b * n_a - cents_a * n_b"))
      .withColumn("rate_a_ppm", expr("(conv_a * 1000000) div n_a"))
      .withColumn("rate_b_ppm", expr("(conv_b * 1000000) div n_b"))
  }

  val q168Sql: String =
    """WITH pu AS (SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purch,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
      |    user_id % 2 AS arm
      |  FROM events GROUP BY user_id),
      |a AS (SELECT
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN arm = 0 AND n_purch > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN arm = 1 AND n_purch > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b,
      |    CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS cents_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS cents_b
      |  FROM pu)
      |SELECT n_a, n_b, conv_a, conv_b, cents_a, cents_b,
      |  conv_b * n_a - conv_a * n_b AS conv_cross,
      |  cents_b * n_a - cents_a * n_b AS cents_cross,
      |  (conv_a * 1000000) // n_a AS rate_a_ppm,
      |  (conv_b * 1000000) // n_b AS rate_b_ppm
      |FROM a""".stripMargin

  // --------------------------------------------- q171 path trigrams

  /** Sequence mining — the top-20 event-type TRIGRAM paths (q96's
    * transition matrix is the bigram form; three steps expose journeys
    * two can't: view>click>purchase vs view>click>error). Per-user lead
    * window under the (ts, event_id) total order — partitioned by user,
    * never global — then one count shuffle; top-20 under the total order
    * (n DESC, path) so the cut is deterministic. */
  def q171PathTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("b", lead("event_type", 1).over(w))
      .withColumn("c", lead("event_type", 2).over(w))
      .filter(col("c").isNotNull)
      .select(concat_ws(">", col("event_type"), col("b"), col("c")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(20)
  }

  val q171Sql: String =
    """WITH s AS (SELECT user_id, event_type,
      |    lead(event_type, 1) OVER w AS b, lead(event_type, 2) OVER w AS c
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type || '>' || b || '>' || c AS path, CAST(count(*) AS BIGINT) AS n
      |FROM s WHERE c IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin

  // ------------------------------------------------ q173 trend fit

  /** Monitoring — per-event-type OLS trend of daily volume: is this
    * source growing or shrinking, as a NUMBER (slope in events/day ×1e6),
    * not a chart. x = epoch-day minus the corpus's min day (broadcast
    * 1-row anchor keeps Σx² small), y = day count; the five OLS sums come
    * from one aggregate over ≤ |types|·|days| rows, and the slope is the
    * exact floor ⌊1e6·(nΣxy−ΣxΣy)/(nΣx²−(Σx)²)⌋ — negative-safe via the
    * floor-mod identity, because truncating `div` and flooring `//`
    * disagree on negative slopes. q155's regression counterpart over
    * time. */
  def q173TrendFit(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val anchor = broadcast(days.agg(min("day").as("day0")))
    val daily = days.groupBy("event_type", "day").agg(count(lit(1)).as("y"))
      .crossJoin(anchor)
      .withColumn("x", col("day") - col("day0"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("s_x"), sum("y").as("s_y"),
        sum(col("x") * col("x")).as("s_xx"),
        sum(col("x") * col("y")).as("s_xy"))
      .withColumn("slope_num", expr("n_days * s_xy - s_x * s_y"))
      .withColumn("slope_den", expr("n_days * s_xx - s_x * s_x"))
      .withColumn("slope_micro",
        expr(Ops.floorDivScaledSql("slope_num", "slope_den", 1000000L)))
      .orderBy("event_type")
  }

  val q173Sql: String =
    s"""WITH d AS (SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day
      |  FROM events),
      |a AS (SELECT CAST(min(day) AS BIGINT) AS day0 FROM d),
      |daily AS (SELECT event_type, day - day0 AS x, CAST(count(*) AS BIGINT) AS y
      |          FROM d CROSS JOIN a GROUP BY event_type, day - day0),
      |o AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |        CAST(sum(x) AS BIGINT) AS s_x, CAST(sum(y) AS BIGINT) AS s_y,
      |        CAST(sum(x * x) AS BIGINT) AS s_xx, CAST(sum(x * y) AS BIGINT) AS s_xy
      |      FROM daily GROUP BY 1),
      |w AS (SELECT *, n_days * s_xy - s_x * s_y AS slope_num,
      |        n_days * s_xx - s_x * s_x AS slope_den FROM o)
      |SELECT event_type, n_days, s_x, s_y, s_xx, s_xy, slope_num, slope_den,
      |  ${Ops.floorDivScaledSql("slope_num", "slope_den", 1000000L, "//")} AS slope_micro
      |FROM w ORDER BY event_type""".stripMargin

  // ---------------------------------------------- q169 MAD outliers

  /** Profiling/anomaly — robust per-event-type outlier report
    * ([[graft.operators.Analytics.madOutliers]]): median and MAD as exact
    * rank-⌈n/2⌉ order statistics over cents (lower median, event_id
    * tie-break), outliers = |v − med| > 3·MAD. q64's mean/stddev profile
    * breaks exactly when you need it (the outliers drag the fence); the
    * MAD fence is what a 100 TB ingest monitor actually alerts on.
    * Group-partitioned windows only; per-group medians broadcast. */
  def q169MadOutliers(s: SparkSession, dir: String): DataFrame =
    Ops.madOutliers(
      t(s, dir, "events").select(col("event_type"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents")),
      "event_type", "cents", "event_id", k = 3L)
      .orderBy("key")

  val q169Sql: String =
    """WITH v AS (SELECT event_type AS g, event_id AS rid,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY v, rid) AS rn,
      |        CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
      |      FROM v),
      |med AS (SELECT g, v AS med, n FROM r WHERE rn = (n + 1) // 2),
      |d AS (SELECT v.g, v.v, v.rid, med.med, med.n, abs(v.v - med.med) AS dev
      |      FROM v JOIN med USING (g)),
      |rd AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY dev, rid) AS rn
      |       FROM d),
      |mad AS (SELECT g, dev AS mad FROM rd WHERE rn = (n + 1) // 2)
      |SELECT d.g AS key, max(d.n) AS n, max(d.med) AS med, max(mad.mad) AS mad,
      |  CAST(sum(CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN mad USING (g)
      |GROUP BY d.g ORDER BY key""".stripMargin

  // ---------------------------------------------- q174 Cohen's kappa

  /** Label QA — Cohen's κ agreement between two independent weak
    * labelers of document quality: A = the q143 classifier's keep label
    * (score_raw ≥ 0), B = a length rule (n_chars ≥ 500). The
    * chance-corrected agreement that tells you whether stacking the two
    * filters adds signal or redundancy. One confusion-matrix aggregate;
    * κ×1e6 = ⌊1e6·(N·agree − Σrᵢcᵢ)/(N² − Σrᵢcᵢ)⌋ exact-integer,
    * negative-safe via the floor-mod identity (κ < 0 = worse than
    * chance). */
  def q174Kappa(s: SparkSession, dir: String): DataFrame = {
    val a = graft.llmops.TextAnalysis
      .hashedNgramScore(docs(s, dir), "doc_id", "text")
      .select(col("id"), (col("score_raw") >= 0).as("la"))
    val b = docs(s, dir)
      .select(col("doc_id").as("id"), (col("n_chars") >= 500).as("lb"))
    a.join(b, "id")
      .agg(
        sum(when(col("la") && col("lb"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("la") && !col("lb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("la") && col("lb"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("la") && !col("lb"), 1L).otherwise(0L)).as("n00"))
      .withColumn("n_docs", expr("n11 + n10 + n01 + n00"))
      .withColumn("pe_num", expr("(n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)"))
      .withColumn("kappa_num", expr("n_docs * (n11 + n00) - pe_num"))
      .withColumn("kappa_den", expr("n_docs * n_docs - pe_num"))
      .withColumn("kappa_ppm",
        expr(Ops.floorDivScaledSql("kappa_num", "kappa_den", 1000000L)))
      .select("n11", "n10", "n01", "n00", "n_docs", "kappa_num", "kappa_den", "kappa_ppm")
  }

  val q174Sql: String = DuckClassifierScore +
    s""",
      |lab AS (SELECT sc.id, sc.score_raw >= 0 AS la, d.n_chars >= 500 AS lb
      |        FROM sc JOIN documents d ON d.doc_id = sc.id),
      |c AS (SELECT
      |    CAST(sum(CASE WHEN la AND lb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(sum(CASE WHEN NOT la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |  FROM lab),
      |k AS (SELECT *, n11 + n10 + n01 + n00 AS n_docs,
      |        (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS pe_num
      |      FROM c),
      |k2 AS (SELECT *, n_docs * (n11 + n00) - pe_num AS kappa_num,
      |         n_docs * n_docs - pe_num AS kappa_den FROM k)
      |SELECT n11, n10, n01, n00, n_docs, kappa_num, kappa_den,
      |  ${Ops.floorDivScaledSql("kappa_num", "kappa_den", 1000000L, "//")} AS kappa_ppm
      |FROM k2""".stripMargin

  // --------------------------------------- q176 leave-one-out encoding

  /** Feature engineering — leave-one-out target encoding
    * ([[graft.operators.Analytics.looTargetEncode]]): event_type encoded
    * by the mean big-ticket rate (cents ≥ 10000) of its category
    * EXCLUDING the row itself — the standard high-cardinality categorical
    * feature with the self-leak removed (the naive full-group mean hands
    * each row its own label; on rare categories that's memorization, the
    * tabular twin of q104's split leakage). Exact ⌊1e6·(Σy−yᵢ)/(n−1)⌋. */
  def q176TargetEncoding(s: SparkSession, dir: String): DataFrame =
    Ops.looTargetEncode(
      t(s, dir, "events").select(col("event_id"), col("event_type"),
        expr("CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) >= 10000 THEN 1L ELSE 0L END")
          .as("y")),
      "event_type", "event_id", "y")
      .orderBy("event_id")

  val q176Sql: String =
    """WITH e AS (SELECT event_id, event_type,
      |    CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) >= 10000
      |         THEN 1 ELSE 0 END AS y
      |  FROM events),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cat,
      |        CAST(sum(y) AS BIGINT) AS sum_y
      |      FROM e GROUP BY 1)
      |SELECT e.event_id, e.event_type, CAST(e.y AS BIGINT) AS y, g.n_cat,
      |  CASE WHEN g.n_cat = 1 THEN -1
      |       ELSE ((g.sum_y - e.y) * 1000000) // (g.n_cat - 1) END AS loo_ppm
      |FROM e JOIN g USING (event_type) ORDER BY event_id""".stripMargin

  // ------------------------------------------------- q177 Zipf fit

  /** Corpus health — per-source Zipf fit: OLS slope of ln(freq) on
    * ln(rank) over each source's top-200 tokens (milli-quantized logs ⇒
    * exact-integer OLS pieces; slope via the q173 floor-mod identity —
    * it's ≈ −1000 for natural language). A source whose slope drifts far
    * from −1 is template spam (too flat) or a tag vocabulary (too steep) —
    * the one-number version of q72's eyeballed report. Rank windows are
    * source-partitioned; the head cap bounds the fit frame at
    * |sources|·200 rows. */
  def q177ZipfFit(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("freq").desc, col("w"))
    val f = docs(s, dir)
      .select(col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
    f.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 200)
      .select(col("source"),
        floor(log(col("rnk").cast("double")) * 1000.0 + 0.5).cast("long").as("lx"),
        floor(log(col("freq").cast("double")) * 1000.0 + 0.5).cast("long").as("ly"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_ranks"),
        sum("lx").as("s_x"), sum("ly").as("s_y"),
        sum(col("lx") * col("lx")).as("s_xx"),
        sum(col("lx") * col("ly")).as("s_xy"))
      .withColumn("num", expr("n_ranks * s_xy - s_x * s_y"))
      .withColumn("den", expr("n_ranks * s_xx - s_x * s_x"))
      .withColumn("slope_milli",
        expr(Ops.floorDivScaledSql("num", "den", 1000L)))
      .orderBy("source")
  }

  val q177Sql: String =
    s"""WITH tok AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |f AS (SELECT source, w, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1, 2),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY freq DESC, w) AS BIGINT) AS rnk
      |      FROM f),
      |h AS (SELECT source,
      |        CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS lx,
      |        CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS ly
      |      FROM r WHERE rnk <= 200),
      |o AS (SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
      |        CAST(sum(lx) AS BIGINT) AS s_x, CAST(sum(ly) AS BIGINT) AS s_y,
      |        CAST(sum(lx * lx) AS BIGINT) AS s_xx, CAST(sum(lx * ly) AS BIGINT) AS s_xy
      |      FROM h GROUP BY 1),
      |w2 AS (SELECT *, n_ranks * s_xy - s_x * s_y AS num,
      |         n_ranks * s_xx - s_x * s_x AS den FROM o)
      |SELECT source, n_ranks, s_x, s_y, s_xx, s_xy, num, den,
      |  ${Ops.floorDivScaledSql("num", "den", 1000L, "//")} AS slope_milli
      |FROM w2 ORDER BY source""".stripMargin

  // -------------------------------------------- q178 char entropy

  /** Text analysis — per-document character-entropy report
    * ([[graft.llmops.TextAnalysis.charEntropy]]): exact-integer Shannon
    * entropy (quantize-before-sum), the gibberish/boilerplate signal the
    * q56 rule battery lacks — `aaaa…` and base64 blobs both pass length
    * and stopword gates but sit at entropy extremes. */
  def q178CharEntropy(s: SparkSession, dir: String): DataFrame =
    graft.llmops.TextAnalysis.charEntropy(docs(s, dir), "doc_id", "text")
      .orderBy("id")

  val q178Sql: String =
    """WITH ch AS (SELECT doc_id AS id, substr(text, CAST(i AS INT), 1) AS ch
      |  FROM documents, UNNEST(range(1, length(text) + 1)) AS u(i)),
      |c AS (SELECT id, ch, CAST(count(*) AS BIGINT) AS c FROM ch GROUP BY 1, 2),
      |pd AS (SELECT id, CAST(sum(c) AS BIGINT) AS n_chars,
      |         CAST(count(*) AS BIGINT) AS n_distinct_chars FROM c GROUP BY 1),
      |e AS (SELECT c.id, CAST(sum(c.c *
      |         CAST(floor(ln(CAST(pd.n_chars AS DOUBLE) / CAST(c.c AS DOUBLE))
      |           * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ent_q
      |      FROM c JOIN pd USING (id) GROUP BY 1)
      |SELECT d.doc_id AS id, COALESCE(pd.n_chars, 0) AS n_chars,
      |  COALESCE(pd.n_distinct_chars, 0) AS n_distinct_chars,
      |  COALESCE(e.ent_q, 0) AS ent_q,
      |  CASE WHEN COALESCE(pd.n_chars, 0) = 0 THEN 0
      |       ELSE e.ent_q // pd.n_chars END AS ent_ppm_per_char
      |FROM documents d LEFT JOIN pd ON pd.id = d.doc_id LEFT JOIN e ON e.id = d.doc_id
      |ORDER BY id""".stripMargin

  // ------------------------------------------------ q179 KS statistic

  /** Drift — exact two-sample Kolmogorov–Smirnov per event type between
    * the corpus's two time halves ([[graft.operators.Analytics.ksStat]]):
    * D as the integer d_num = max|cumA·n_b − cumB·n_a| over every distinct
    * cent value (q162's $50 bins made exact — the KS answer to "did the
    * value distribution move?", no binning assumption). Time midpoint is
    * a 1-row broadcast anchor. */
  def q179KsStat(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      unix_micros(col("ts")).as("us"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val mid = broadcast(ev.agg(expr("(min(us) + max(us)) div 2").as("tmid")))
    Ops.ksStat(
      ev.crossJoin(mid).withColumn("a", col("us") < col("tmid")),
      "event_type", "cents", "a")
      .orderBy("key")
  }

  val q179Sql: String =
    """WITH ev AS (SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |m AS (SELECT (CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT)) // 2 AS tmid FROM ev),
      |s AS (SELECT event_type AS g, v, us < tmid AS a FROM ev CROSS JOIN m),
      |c AS (SELECT g, v,
      |        CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
      |        CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS c_b
      |      FROM s GROUP BY 1, 2),
      |w AS (SELECT *,
      |        CAST(sum(c_a) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum_a,
      |        CAST(sum(c_b) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum_b,
      |        CAST(sum(c_a) OVER (PARTITION BY g) AS BIGINT) AS n_a,
      |        CAST(sum(c_b) OVER (PARTITION BY g) AS BIGINT) AS n_b
      |      FROM c)
      |SELECT g AS key, max(n_a) AS n_a, max(n_b) AS n_b,
      |  CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
      |  CASE WHEN max(n_a) = 0 OR max(n_b) = 0 THEN -1
      |       ELSE (CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) * 1000000)
      |         // (max(n_a) * max(n_b)) END AS d_ppm
      |FROM w GROUP BY g ORDER BY key""".stripMargin

  // --------------------------------------------- q181 mutual information

  /** Feature selection — mutual information between event_type and the
    * big-ticket outcome (cents ≥ 10000), reported as exact per-cell
    * pieces: term_q = n_xy·⌊1e6·ln(n_xy·N / (n_x·n_y)) + ½⌋ (so
    * Σ term_q = N·1e6·MI up to per-cell rounding — quantize-before-sum,
    * the q71 rule; each log argument ONE integer ratio). The
    * model-agnostic "does this feature carry signal" number behind every
    * filter-style feature ranking — q155/q173 measure LINEAR association,
    * MI catches any dependence. Marginals broadcast (|types| and 2
    * rows). */
  def q181MutualInfo(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      expr("CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) >= 10000 THEN 1L ELSE 0L END")
        .as("y"))
    val cells = e.groupBy("event_type", "y").agg(count(lit(1)).as("n_xy"))
    val margX = cells.groupBy("event_type").agg(sum("n_xy").as("n_x"))
    val margY = cells.groupBy("y").agg(sum("n_xy").as("n_y"))
    val tot = broadcast(cells.agg(sum("n_xy").as("n")))
    cells.join(broadcast(margX), "event_type").join(broadcast(margY), "y")
      .crossJoin(tot)
      .withColumn("term_q", col("n_xy") *
        floor(log((col("n_xy") * col("n")).cast("double") /
          (col("n_x") * col("n_y")).cast("double")) * 1000000.0 + 0.5).cast("long"))
      .select("event_type", "y", "n_xy", "n_x", "n_y", "n", "term_q")
      .orderBy("event_type", "y")
  }

  val q181Sql: String =
    """WITH e AS (SELECT event_type,
      |    CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) >= 10000
      |         THEN 1 ELSE 0 END AS y
      |  FROM events),
      |c AS (SELECT event_type, CAST(y AS BIGINT) AS y, CAST(count(*) AS BIGINT) AS n_xy
      |      FROM e GROUP BY 1, 2),
      |mx AS (SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_x FROM c GROUP BY 1),
      |my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM c GROUP BY 1),
      |n AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM c)
      |SELECT c.event_type, c.y, c.n_xy, mx.n_x, my.n_y, n.n,
      |  c.n_xy * CAST(floor(ln(CAST(c.n_xy * n.n AS DOUBLE)
      |    / CAST(mx.n_x * my.n_y AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS term_q
      |FROM c JOIN mx USING (event_type) JOIN my USING (y) CROSS JOIN n
      |ORDER BY event_type, y""".stripMargin

  // --------------------------------------------- q183 calibration deciles

  /** Model-eval — reliability table of the q143 classifier against the
    * q166 reference label, by combined-rank deciles: per decile the doc
    * count, observed positive rate (×1e6) and the score mass — the
    * calibration companion of q166 (AUC says the ORDER is right;
    * calibration says the LEVEL means something before a threshold is
    * picked on it). Deciles from the same distributed zip-with-index rank
    * as q160 — no single-partition window. */
  def q183Calibration(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    val scored = graft.llmops.TextAnalysis
      .hashedNgramScore(docs(s, dir), "doc_id", "text")
      .select(col("id"), col("score_milli"))
    val truth = docs(s, dir)
      .select(col("doc_id").as("id"),
        (col("lang") === "en").cast("long").as("pos"))
    // one row per doc by construction — count the plain scan, not the
    // scored frame, so the ngram scorer runs once (q196 rule; r13 opt)
    val n = broadcast(docs(s, dir).agg(count(lit(1)).as("n_docs")))
    globalRank(scored, "rnk", col("score_milli"), col("id"))
      .join(truth, "id").crossJoin(n)
      .withColumn("decile", expr("((rnk - 1) * 10) div n_docs"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
        sum("score_milli").as("sum_score_milli"))
      .withColumn("obs_ppm", expr("(n_pos * 1000000) div n"))
      .orderBy("decile")
  }

  val q183Sql: String = DuckClassifierScore +
    """,
      |r AS (SELECT id, score_milli,
      |        CAST(row_number() OVER (ORDER BY score_milli, id) AS BIGINT) AS rnk
      |      FROM sc),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sc),
      |j AS (SELECT r.rnk, r.score_milli,
      |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos,
      |        ((r.rnk - 1) * 10) // n.n_docs AS decile
      |      FROM r JOIN documents d ON d.doc_id = r.id CROSS JOIN n)
      |SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
      |  CAST(sum(score_milli) AS BIGINT) AS sum_score_milli,
      |  (CAST(sum(pos) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS obs_ppm
      |FROM j GROUP BY 1 ORDER BY decile""".stripMargin

  // ------------------------------------------------- q184 PSI drift

  /** Model monitoring — population stability index pieces of the q143
    * score between the corpus's two id-parity halves, over combined-rank
    * decile bins with +1 Laplace smoothing (the standard PSI recipe —
    * smoothing makes empty bins finite and is stated, not hidden): per
    * bin the halves' counts, the exact integer difference numerator
    * (sₐ·(t_b+10) − s_b·(tₐ+10)) and the ×1e6-quantized log-ratio —
    * PSI assembles downstream as Σ num·lr_q / ((tₐ+10)(t_b+10)·1e6).
    * Exchangeable halves pin the expectation near zero; a real
    * train-vs-serve drift swaps the halves for the two time periods
    * without touching the plan. */
  def q184PsiDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    val scored = graft.llmops.TextAnalysis
      .hashedNgramScore(docs(s, dir), "doc_id", "text")
      .select(col("id"), col("score_milli"))
    // one row per doc by construction — count the plain scan, not the
    // scored frame, so the ngram scorer runs once (q196 rule; r13 opt)
    val n = broadcast(docs(s, dir).agg(count(lit(1)).as("n_docs")))
    val bins = globalRank(scored, "rnk", col("score_milli"), col("id"))
      .crossJoin(n)
      .withColumn("bin", expr("((rnk - 1) * 10) div n_docs"))
      .groupBy("bin")
      .agg(sum(when(pmod(col("id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(pmod(col("id"), lit(2)) =!= 0, 1L).otherwise(0L)).as("n_b"))
    val tot = broadcast(bins.agg(sum("n_a").as("t_a"), sum("n_b").as("t_b")))
    bins.crossJoin(tot)
      .withColumn("diff_num",
        expr("(n_a + 1) * (t_b + 10) - (n_b + 1) * (t_a + 10)"))
      .withColumn("lr_q",
        floor(log(((col("n_a") + 1) * (col("t_b") + 10)).cast("double") /
          ((col("n_b") + 1) * (col("t_a") + 10)).cast("double")) * 1000000.0 + 0.5)
          .cast("long"))
      .select("bin", "n_a", "n_b", "t_a", "t_b", "diff_num", "lr_q")
      .orderBy("bin")
  }

  val q184Sql: String = DuckClassifierScore +
    """,
      |r AS (SELECT id, score_milli,
      |        CAST(row_number() OVER (ORDER BY score_milli, id) AS BIGINT) AS rnk
      |      FROM sc),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sc),
      |b AS (SELECT ((rnk - 1) * 10) // n_docs AS bin,
      |        CAST(sum(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |        CAST(sum(CASE WHEN id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |      FROM r CROSS JOIN n GROUP BY 1),
      |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a, CAST(sum(n_b) AS BIGINT) AS t_b FROM b)
      |SELECT bin, n_a, n_b, t_a, t_b,
      |  (n_a + 1) * (t_b + 10) - (n_b + 1) * (t_a + 10) AS diff_num,
      |  CAST(floor(ln(CAST((n_a + 1) * (t_b + 10) AS DOUBLE)
      |    / CAST((n_b + 1) * (t_a + 10) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lr_q
      |FROM b CROSS JOIN t ORDER BY bin""".stripMargin

  // --------------------------------------------- q185 last-touch attribution

  /** Attribution — every purchase credited to the SAME user's most recent
    * preceding non-purchase event (last-touch): per touch type the
    * purchase count and cent sum, `none` for purchases with no prior
    * touch. One user-partitioned `last(..., ignoreNulls)` window under
    * the (ts, event_id) total order — the as-of lookup q51 does across
    * tables, applied within one stream; the report every campaign
    * dashboard starts from. */
  def q185Attribution(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("cents"))
      .orderBy("touch")
  }

  val q185Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, ts,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |a AS (SELECT *,
      |        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |          OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |      FROM e)
      |SELECT COALESCE(touch, 'none') AS touch, CAST(count(*) AS BIGINT) AS n_purchases,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM a WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY touch""".stripMargin

  // --------------------------------------------- q188 per-group AUC

  /** Model-eval — the q166 AUC stratified per SOURCE: the subgroup
    * discrimination audit ("the filter works globally — does it work on
    * every domain?") that catches a classifier riding one domain's
    * artifacts. Same doubled-rank tie algebra as q166, but ranks come
    * from source-PARTITIONED windows (no global rank needed — each
    * group's AUC only orders within the group); one-class sources report
    * the −1 sentinel instead of a divide-by-zero. */
  def q188AucByGroup(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("score_milli", "id")
    val scored = graft.llmops.TextAnalysis
      .hashedNgramScore(docs(s, dir), "doc_id", "text")
      .select(col("id"), col("score_milli"))
    val d = docs(s, dir).select(col("doc_id").as("id"), col("source").as("g"),
      (col("lang") === "en").as("truth"))
    val ranked = scored.join(d, "id")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .localCheckpoint() // feeds the tie bounds AND the join-back — the
                         // scorer + window would otherwise run twice
    val ties = ranked.groupBy("g", "score_milli")
      .agg(min("rnk").as("lo"), max("rnk").as("hi"))
    ranked.join(ties, Seq("g", "score_milli"))
      .groupBy(col("g").as("source"))
      .agg(
        sum(when(col("truth"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("truth"), 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("truth"), col("lo") + col("hi")).otherwise(0L)).as("r2_pos"))
      .withColumn("u2", expr("r2_pos - n_pos * (n_pos + 1)"))
      .withColumn("auc_ppm", expr(
        "CASE WHEN n_pos = 0 OR n_neg = 0 THEN -1L ELSE (u2 * 1000000) div (2 * n_pos * n_neg) END"))
      .select("source", "n_pos", "n_neg", "u2", "auc_ppm")
      .orderBy("source")
  }

  val q188Sql: String = DuckClassifierScore +
    """,
      |j AS (SELECT sc.id, sc.score_milli, d.source AS g, d.lang = 'en' AS truth
      |      FROM sc JOIN documents d ON d.doc_id = sc.id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY g ORDER BY score_milli, id) AS BIGINT) AS rnk
      |      FROM j),
      |ties AS (SELECT g, score_milli, min(rnk) AS lo, max(rnk) AS hi
      |         FROM r GROUP BY 1, 2),
      |a AS (SELECT r.g AS source,
      |        CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |        CAST(sum(CASE WHEN NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
      |        CAST(sum(CASE WHEN truth THEN lo + hi ELSE 0 END) AS BIGINT) AS r2_pos
      |      FROM r JOIN ties USING (g, score_milli) GROUP BY 1)
      |SELECT source, n_pos, n_neg, r2_pos - n_pos * (n_pos + 1) AS u2,
      |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN -1
      |       ELSE ((r2_pos - n_pos * (n_pos + 1)) * 1000000) // (2 * n_pos * n_neg) END AS auc_ppm
      |FROM a ORDER BY source""".stripMargin

  // --------------------------------------------- q189 best F1 threshold

  /** Model-eval — optimal decision threshold for the q143 classifier
    * against the q166 reference label: sweep EVERY distinct score as the
    * "predict positive if score ≥ t" cut, compute exact (tp, fp, fn) from
    * a distributed prefix sum over the descending score order
    * ([[graft.operators.Ranks.prefixSum]] — the scan primitive, no
    * single-partition window), and keep the cut maximizing the floored
    * F1×1e6 (ties → lowest threshold). The step q160's percentile rule
    * skips: it picks the cut the DATA justifies rather than a quota.
    * Sweep frame is ≤ |distinct scores| rows. */
  /** The classifier score joined with the q166 reference label (and the
    * doc's source) — the one expensive frame q189 sweeps and q195 applies;
    * callers that consume it twice persist it so the scorer runs once. */
  private def scoredTruth(s: SparkSession, dir: String): DataFrame =
    graft.llmops.TextAnalysis
      .hashedNgramScore(docs(s, dir), "doc_id", "text")
      .select(col("id"), col("score_milli"))
      .join(docs(s, dir).select(col("doc_id").as("id"), col("source"),
        (col("lang") === "en").as("truth")), "id")

  /** The q189 sweep over a pre-scored (score_milli, truth) frame — shared
    * with q195 so the apply pass reuses the same scored relation. */
  private def bestThresholdOf(st: DataFrame): DataFrame = {
    import graft.operators.Ranks.prefixSums
    val g = st.groupBy("score_milli")
      .agg(sum(when(col("truth"), 1L).otherwise(0L)).as("pos_s"),
        sum(when(!col("truth"), 1L).otherwise(0L)).as("neg_s"))
      .localCheckpoint() // ≤ |distinct scores| rows, feeds the n_pos total
                         // AND the sweep — the scorer ran once per consumer
    val n = broadcast(g.agg(sum("pos_s").as("n_pos")))
    val swept = prefixSums(g, Seq("pos_s" -> "tp", "neg_s" -> "fp"),
      col("score_milli").desc)
    swept.crossJoin(n)
      .withColumn("fn", col("n_pos") - col("tp"))
      .withColumn("f1_ppm", expr(
        "CASE WHEN tp = 0 THEN 0L ELSE (2 * tp * 1000000) div (2 * tp + fp + fn) END"))
      .select(col("score_milli").as("threshold_milli"),
        col("tp"), col("fp"), col("fn"), col("f1_ppm"))
      .orderBy(col("f1_ppm").desc, col("threshold_milli"))
      .limit(1)
  }

  def q189BestThreshold(s: SparkSession, dir: String): DataFrame =
    bestThresholdOf(scoredTruth(s, dir))

  /** Shared DuckDB CTE: the classifier score with truth/source (`tr`), the
    * per-score class counts (`gp`) and the descending cumulative sweep
    * (`c`) — appended after [[DuckClassifierScore]]; q189 reads the best
    * row, q195 re-applies the best cut per source. One definition, so the
    * tie-break and F1 formula cannot drift between the two oracles. */
  private val DuckThresholdSweep: String =
    """,
      |tr AS (SELECT sc.id, sc.score_milli, d.source, d.lang = 'en' AS truth
      |       FROM sc JOIN documents d ON d.doc_id = sc.id),
      |gp AS (SELECT score_milli,
      |        CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS pos_s,
      |        CAST(sum(CASE WHEN NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS neg_s
      |      FROM tr GROUP BY 1),
      |c AS (SELECT score_milli,
      |        CAST(sum(pos_s) OVER (ORDER BY score_milli DESC) AS BIGINT) AS tp,
      |        CAST(sum(neg_s) OVER (ORDER BY score_milli DESC) AS BIGINT) AS fp,
      |        CAST((SELECT sum(pos_s) FROM gp) AS BIGINT) AS n_pos
      |      FROM gp)""".stripMargin

  val q189Sql: String = DuckClassifierScore + DuckThresholdSweep +
    """,
      |f AS (SELECT score_milli AS threshold_milli, tp, fp, n_pos - tp AS fn,
      |        CASE WHEN tp = 0 THEN 0
      |             ELSE (2 * tp * 1000000) // (2 * tp + fp + n_pos - tp) END AS f1_ppm
      |      FROM c)
      |SELECT threshold_milli, tp, fp, fn, f1_ppm
      |FROM f ORDER BY f1_ppm DESC, threshold_milli LIMIT 1""".stripMargin

  // ------------------------------------- q191 multi-touch attribution

  /** Attribution — LINEAR multi-touch: each purchase's cents split evenly
    * across ALL the user's non-purchase events in the trailing 7 days
    * (q185 gives the last touch everything; linear is the other standard
    * model). ZERO self-joins: per purchase, the trailing touch counts per
    * type come from five conditional RANGE-window sums over the same
    * user-partitioned frame (q161's shape), and each type's credit is the
    * exact floor cents·cnt_t div n_touches — remainders deliberately
    * unassigned (stated), so credits never exceed revenue. */
  def q191LinearAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-604800000000L, -1L) // (ts − 7 d, ts)
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val types = Seq("click", "error", "signup", "view")
    val withCounts = types.foldLeft(
      ev.withColumn("n_touches",
        count(when(col("event_type") =!= "purchase", 1)).over(w))) {
      case (df, tpe) => df.withColumn(s"cnt_$tpe",
        count(when(col("event_type") === tpe, 1)).over(w))
    }
    val purchases = withCounts
      .filter(col("event_type") === "purchase" && col("n_touches") > 0)
    // unpivot with stack(): the window pipeline evaluates ONCE; a per-type
    // filter+union would re-run the six window aggregates four times
    purchases
      .select(expr(types.map(t =>
          s"'$t', cnt_$t, (cents * cnt_$t) div n_touches")
        .mkString(s"stack(${types.length}, ", ", ", ") AS (touch, n_credits, credited)")))
      .groupBy("touch")
      .agg(sum("n_credits").as("n_credits"),
        sum("credited").as("credited_cents"))
      .orderBy("touch")
  }

  val q191Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |p AS (SELECT *,
      |    count(CASE WHEN event_type <> 'purchase' THEN 1 END)
      |      OVER tw AS n_touches,
      |    count(CASE WHEN event_type = 'click' THEN 1 END) OVER tw AS cnt_click,
      |    count(CASE WHEN event_type = 'error' THEN 1 END) OVER tw AS cnt_error,
      |    count(CASE WHEN event_type = 'signup' THEN 1 END) OVER tw AS cnt_signup,
      |    count(CASE WHEN event_type = 'view' THEN 1 END) OVER tw AS cnt_view
      |  FROM e
      |  WINDOW tw AS (PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)),
      |pur AS (SELECT * FROM p WHERE event_type = 'purchase' AND n_touches > 0),
      |c AS (SELECT 'click' AS touch, CAST(cnt_click AS BIGINT) AS n_credits,
      |        (cents * cnt_click) // n_touches AS credited FROM pur
      |      UNION ALL SELECT 'error', CAST(cnt_error AS BIGINT),
      |        (cents * cnt_error) // n_touches FROM pur
      |      UNION ALL SELECT 'signup', CAST(cnt_signup AS BIGINT),
      |        (cents * cnt_signup) // n_touches FROM pur
      |      UNION ALL SELECT 'view', CAST(cnt_view AS BIGINT),
      |        (cents * cnt_view) // n_touches FROM pur)
      |SELECT touch, CAST(sum(n_credits) AS BIGINT) AS n_credits,
      |  CAST(sum(credited) AS BIGINT) AS credited_cents
      |FROM c GROUP BY 1 ORDER BY touch""".stripMargin

  // ------------------------------------------- q192 session statistics

  /** Behavioral profile — BATCH sessionization report: gap-based 12 h
    * sessions (the q53 streaming path's batch twin, islands via one lag +
    * one cumulative-flag window per user — both user-partitioned), rolled
    * into a session-length histogram: events-per-session bucket → session
    * count, total events, cent volume. The "how do visits look" readout
    * every engagement dashboard opens with. */
  def q192SessionStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wcum = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("new_sess",
        when(col("ts_us") - lag("ts_us", 1).over(wo) <= 43200000000L, 0L)
          .otherwise(1L))
      .withColumn("sess_no", sum("new_sess").over(wcum))
      .groupBy("user_id", "sess_no")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
    sessions.groupBy(least(col("n_events"), lit(10L)).as("len_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"), sum("cents").as("cents"))
      .orderBy("len_bucket")
  }

  val q192Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |f AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w <= 43200000000
      |        THEN 0 ELSE 1 END AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |g AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
      |        ORDER BY ts_us, event_id) AS BIGINT) AS sess_no FROM f),
      |sess AS (SELECT user_id, sess_no, CAST(count(*) AS BIGINT) AS n_events,
      |           CAST(sum(cents) AS BIGINT) AS cents
      |         FROM g GROUP BY 1, 2)
      |SELECT least(n_events, 10) AS len_bucket,
      |  CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM sess GROUP BY 1 ORDER BY len_bucket""".stripMargin

  // ------------------------------------------ q193 conversion hazard

  /** Lifecycle — discrete conversion-hazard table (Kaplan–Meier shape,
    * day granularity): for day offset k, how many users were observable
    * for ≥ k days after their first event (at risk) and how many
    * converted (first purchase) EXACTLY k days in. hazard_ppm =
    * ⌊1e6·converted/at_risk⌋ — the time-to-convert curve a funnel (q88)
    * flattens away. Two aggregates (per-user firsts, per-k rollup)
    * against a 1-row broadcast horizon; the k frame is ≤ |days| rows. */
  def q193ConversionHazard(s: SparkSession, dir: String): DataFrame =
    hazardTable(s, dir)
      .withColumn("hazard_ppm", expr("(converted * 1000000) div at_risk"))
      .orderBy("k")

  /** Shared day-offset risk table behind q193/q211: per k, users
    * observable ≥ k days after their first event and users converting
    * exactly k days in. The k frame is ≤ |calendar days| rows. */
  private def hazardTable(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
    val users = ev.groupBy("user_id")
      .agg(min("day").as("first_day"),
        min(when(col("event_type") === "purchase", col("day"))).as("first_purchase"))
    val horizon = broadcast(ev.agg(max("day").as("last_day")))
    val grid = users.crossJoin(horizon)
      .select(col("user_id"), col("first_day"), col("first_purchase"),
        explode(expr("sequence(0L, last_day - first_day)")).as("k"))
    grid
      .filter(col("first_purchase").isNull ||
        col("first_purchase") - col("first_day") >= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("at_risk"),
        sum(when(col("first_purchase") - col("first_day") === col("k"), 1L)
          .otherwise(0L)).as("converted"))
  }

  val q193Sql: String =
    """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
      |    event_type
      |  FROM events),
      |u AS (SELECT user_id, CAST(min(day) AS BIGINT) AS first_day,
      |        min(CASE WHEN event_type = 'purchase' THEN day END) AS first_purchase
      |      FROM e GROUP BY 1),
      |h AS (SELECT CAST(max(day) AS BIGINT) AS last_day FROM e),
      |grid AS (SELECT u.*, CAST(k AS BIGINT) AS k
      |         FROM u CROSS JOIN h, UNNEST(range(0, last_day - first_day + 1)) AS t(k)),
      |r AS (SELECT k, CAST(count(*) AS BIGINT) AS at_risk,
      |        CAST(sum(CASE WHEN first_purchase - first_day = k THEN 1 ELSE 0 END) AS BIGINT)
      |          AS converted
      |      FROM grid
      |      WHERE first_purchase IS NULL OR first_purchase - first_day >= k
      |      GROUP BY 1)
      |SELECT k, at_risk, converted, (converted * 1000000) // at_risk AS hazard_ppm
      |FROM r ORDER BY k""".stripMargin

  // --------------------------------------- q194 exact-dup histogram

  /** Dedup monitoring — exact-duplicate cluster-size histogram: SHA-256
    * content groups (q18's keys) rolled into (copies, n_groups, n_docs) —
    * the one-glance "how duplicated is this corpus" shape a curation run
    * reads before choosing dedup aggressiveness. Two count shuffles,
    * digests only. */
  def q194DupHistogram(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(sha2(col("text").cast("binary"), 256).as("text_sha"))
      .agg(count(lit(1)).as("copies"))
      .groupBy("copies")
      .agg(count(lit(1)).as("n_groups"),
        sum("copies").as("n_docs"))
      .orderBy("copies")

  val q194Sql: String =
    """WITH g AS (SELECT sha256(text) AS text_sha, CAST(count(*) AS BIGINT) AS copies
      |  FROM documents GROUP BY 1)
      |SELECT copies, CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(copies) AS BIGINT) AS n_docs
      |FROM g GROUP BY 1 ORDER BY copies""".stripMargin

  // ----------------------------------------- q195 per-source F1 at cut

  /** Model-eval — the q189 best-F1 cut APPLIED, stratified per source:
    * confusion counts and F1 pieces of "keep if score ≥ t*" against the
    * q166 reference label, per source, with t* the globally swept
    * threshold (a 1-row broadcast). Closes the eval loop q188 (per-source
    * AUC) opens: AUC says the ordering works per domain; this says what
    * the DEPLOYED cut actually does to each domain. Sources where the cut
    * keeps nothing or misses every positive report the −1 sentinel. */
  def q195SourceF1(s: SparkSession, dir: String): DataFrame = {
    // persisted: the sweep and the apply pass share ONE scored relation —
    // without the pin the tokenize+hash scorer would execute twice
    // (released by the harness's clearCache discipline)
    val st = scoredTruth(s, dir).persist()
    val cut = broadcast(bestThresholdOf(st).select("threshold_milli"))
    st.crossJoin(cut)
      .withColumn("pred", col("score_milli") >= col("threshold_milli"))
      .groupBy("source")
      .agg(
        sum(when(col("pred") && col("truth"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("truth"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("truth"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("truth"), 1L).otherwise(0L)).as("tn"))
      .withColumn("f1_ppm", expr(
        "CASE WHEN 2 * tp + fp + fn = 0 THEN -1L ELSE (2 * tp * 1000000) div (2 * tp + fp + fn) END"))
      .orderBy("source")
  }

  val q195Sql: String = DuckClassifierScore + DuckThresholdSweep +
    """,
      |best AS (SELECT score_milli AS t FROM (
      |           SELECT score_milli,
      |             CASE WHEN tp = 0 THEN 0
      |                  ELSE (2 * tp * 1000000) // (2 * tp + fp + n_pos - tp) END AS f1_ppm
      |           FROM c) ORDER BY f1_ppm DESC, score_milli LIMIT 1),
      |conf AS (SELECT source,
      |    CAST(sum(CASE WHEN score_milli >= t AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN score_milli >= t AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(sum(CASE WHEN score_milli < t AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN score_milli < t AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM tr CROSS JOIN best GROUP BY 1)
      |SELECT source, tp, fp, fn, tn,
      |  CASE WHEN 2 * tp + fp + fn = 0 THEN -1
      |       ELSE (2 * tp * 1000000) // (2 * tp + fp + fn) END AS f1_ppm
      |FROM conf ORDER BY source""".stripMargin

  // ------------------------------------------------- q196 gains table

  /** Model-eval — cumulative-gains table: rank the corpus by classifier
    * score DESC, cut into deciles, and report how many reference
    * positives the top-k deciles capture (gain_ppm = cum_pos·1e6 /
    * total_pos; the random baseline captures (d+1)/10). q183 reads the
    * calibration LEVEL per decile; this reads the TARGETING power — "how
    * much of the good data do I keep if I take the top 30%?", the
    * question a token-budgeted curation run actually asks. Decile
    * cumulative via [[graft.operators.Ranks.prefixSum]] over the 10-row
    * decile frame — no single-partition window even here. */
  def q196GainsTable(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    val scored = graft.llmops.TextAnalysis
      .hashedNgramScore(docs(s, dir), "doc_id", "text")
      .select(col("id"), col("score_milli"))
    val truth = docs(s, dir)
      .select(col("doc_id").as("id"), (col("lang") === "en").cast("long").as("pos"))
    // n_docs from the plain parquet scan — the scorer need not run for a
    // row count; deciles persisted so the total and the prefix scan share
    // one evaluation of the rank+join lineage (10-row cache)
    val n = broadcast(docs(s, dir).agg(count(lit(1)).as("n_docs")))
    val deciles = globalRank(scored, "rnk",
        col("score_milli").desc, col("id"))
      .join(truth, "id").crossJoin(n)
      .withColumn("decile", expr("((rnk - 1) * 10) div n_docs"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
      .persist()
    val tot = broadcast(deciles.agg(sum("n_pos").as("total_pos")))
    // the decile frame is ≤ 10 rows BY CONSTRUCTION (decile ∈ 0..9) — a
    // constant-bounded running sum, so a plain window replaces the
    // distributed prefixSum machinery (range sort + offset broadcast =
    // ~5 jobs for ten rows; r13 opt — same bounded-k argument as q187)
    deciles
      .withColumn("cum_pos", sum("n_pos").over(
        org.apache.spark.sql.expressions.Window.orderBy("decile")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .crossJoin(tot)
      .withColumn("gain_ppm", expr(
        "CASE WHEN total_pos = 0 THEN -1L ELSE (cum_pos * 1000000) div total_pos END"))
      .select("decile", "n", "n_pos", "cum_pos", "gain_ppm")
      .orderBy("decile")
  }

  val q196Sql: String = DuckClassifierScore +
    """,
      |r AS (SELECT id, score_milli,
      |        CAST(row_number() OVER (ORDER BY score_milli DESC, id) AS BIGINT) AS rnk
      |      FROM sc),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sc),
      |j AS (SELECT ((r.rnk - 1) * 10) // n.n_docs AS decile,
      |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
      |      FROM r JOIN documents d ON d.doc_id = r.id CROSS JOIN n),
      |dec AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
      |          CAST(sum(pos) AS BIGINT) AS n_pos
      |        FROM j GROUP BY 1),
      |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS total_pos FROM dec)
      |SELECT decile, n, n_pos,
      |  CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
      |  CASE WHEN total_pos = 0 THEN -1
      |       ELSE (CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) * 1000000) // total_pos
      |  END AS gain_ppm
      |FROM dec CROSS JOIN t ORDER BY decile""".stripMargin

  // -------------------------------------- q197 weighted sample (A-ES)

  /** Sampling — weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006), derandomized: doc i gets priority ln(uᵢ)/wᵢ with
    * uᵢ ∈ (0,1) derived from md5(doc_id) (the corpus-wide no-RNG rule)
    * and weight wᵢ = n_chars; the top-20 priorities ARE a
    * weight-proportional sample without replacement. Complements q57
    * (stratified, uniform within stratum) and q76 (temperature over
    * sources): this weights every INDIVIDUAL row. The log rides the
    * quantize-once rule (×1e12 before ranking), so the selected set and
    * order hash-gate. */
  def q197WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    val prio = docs(s, dir).select(col("doc_id"), col("n_chars"))
      .withColumn("u_num",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT) + 1"))
      // u = u_num / 2^48 ∈ (0, 1]; priority_q = ⌊1e12 · ln(u) / w + ½⌋
      .withColumn("priority_q",
        when(col("n_chars") === 0, lit(null).cast("long"))
          .otherwise(
            floor(log(col("u_num").cast("double") / lit(281474976710656.0)) /
              col("n_chars").cast("double") * 1000000000000.0 + 0.5).cast("long")))
    globalRank(prio, "rnk", col("priority_q").desc, col("doc_id"))
      .filter(col("rnk") <= 20)
      .select(col("rnk"), col("doc_id"), col("n_chars"), col("priority_q"))
      .orderBy("rnk")
  }

  val q197Sql: String =
    """WITH p AS (SELECT doc_id, n_chars,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1 AS u_num
      |  FROM documents),
      |q AS (SELECT doc_id, n_chars,
      |        CASE WHEN n_chars = 0 THEN CAST(NULL AS BIGINT)
      |             ELSE CAST(floor(ln(CAST(u_num AS DOUBLE) / 281474976710656.0)
      |               / CAST(n_chars AS DOUBLE) * 1000000000000.0 + 0.5) AS BIGINT)
      |        END AS priority_q
      |      FROM p),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY priority_q DESC, doc_id) AS BIGINT) AS rnk
      |      FROM q)
      |SELECT rnk, doc_id, n_chars, priority_q
      |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  // --------------------------------- q198 referential-integrity audit

  /** Data quality — cross-table referential-integrity audit over the
    * TPC-H-ish FK chain (lineitem→orders, orders→customer,
    * customer→nation, part/supplier spot FKs): orphan counts (child rows
    * whose FK matches no parent — anti-join semantics, dims broadcast)
    * and parent coverage (distinct FK values used vs parent size). q99's
    * expectations audit single-table invariants; this is the BETWEEN-
    * tables contract every join in the suite silently assumes. One row
    * per edge. */
  def q198RefIntegrity(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.join(broadcast(parent),
        child(fk) === parent(pk), "left_anti")
      val stats = child.agg(count(lit(1)).as("n_child"),
        count_distinct(col(fk)).as("n_fk_distinct"))
      val np = broadcast(parent.agg(count(lit(1)).as("n_parent")))
      val no = broadcast(orphans.agg(count(lit(1)).as("n_orphans")))
      stats.crossJoin(np).crossJoin(no)
        .select(lit(name).as("edge"), col("n_child"), col("n_orphans"),
          col("n_fk_distinct"), col("n_parent"),
          expr("(n_fk_distinct * 1000000) div n_parent").as("coverage_ppm"))
    }
    Seq(
      edge("lineitem.orderkey", t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders").select("o_orderkey"), "o_orderkey"),
      edge("orders.custkey", t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer").select("c_custkey"), "c_custkey"),
      edge("customer.nationkey", t(s, dir, "customer"), "c_nationkey",
        t(s, dir, "nation").select("n_nationkey"), "n_nationkey"),
      edge("lineitem.partkey", t(s, dir, "lineitem"), "l_partkey",
        t(s, dir, "part").select("p_partkey"), "p_partkey"),
      edge("lineitem.suppkey", t(s, dir, "lineitem"), "l_suppkey",
        t(s, dir, "supplier").select("s_suppkey"), "s_suppkey"))
      .reduce(_ union _)
      .orderBy("edge")
  }

  val q198Sql: String = {
    def edge(name: String, child: String, fk: String,
        parent: String, pk: String): String =
      s"""SELECT '$name' AS edge,
         |  CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_child,
         |  CAST((SELECT count(*) FROM $child c LEFT JOIN $parent p ON c.$fk = p.$pk
         |        WHERE p.$pk IS NULL) AS BIGINT) AS n_orphans,
         |  CAST((SELECT count(DISTINCT $fk) FROM $child) AS BIGINT) AS n_fk_distinct,
         |  CAST((SELECT count(*) FROM $parent) AS BIGINT) AS n_parent,
         |  ((SELECT count(DISTINCT $fk) FROM $child) * 1000000)
         |    // (SELECT count(*) FROM $parent) AS coverage_ppm""".stripMargin
    Seq(
      edge("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
      edge("customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  }

  // ---------------------------------------- q201 repurchase cadence

  /** Lifecycle — per-user repurchase cadence: the exact lower-median gap
    * (hours) between a user's consecutive purchases, rolled into a
    * cadence histogram (median-gap day bucket → user count). q193 reads
    * time-to-FIRST-purchase; this reads the rhythm AFTER it — the number
    * behind "weekly shopper vs one-off". Gaps via one user-partitioned
    * lag; the median is the rank-⌈n/2⌉ order statistic under (gap, order)
    * — windows stay user-partitioned throughout. */
  def q201RepurchaseCadence(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gaps = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(wo))
      .filter(col("gap_us").isNotNull)
    val wg = Window.partitionBy("user_id").orderBy("gap_us", "event_id")
    val med = gaps
      .withColumn("rn", row_number().over(wg))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("user_id"), col("n").as("n_gaps"),
        col("gap_us").as("median_gap_us"))
    med.groupBy(expr("median_gap_us div 86400000000").as("gap_days"))
      .agg(count(lit(1)).as("n_users"), sum("n_gaps").as("n_gaps"))
      .orderBy("gap_days")
  }

  val q201Sql: String =
    """WITH p AS (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT user_id, event_id,
      |        ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
      |      FROM p),
      |gg AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY gap_us, event_id) AS rn,
      |        CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      |      FROM gg),
      |med AS (SELECT user_id, n AS n_gaps, gap_us AS median_gap_us
      |        FROM r WHERE rn = (n + 1) // 2)
      |SELECT median_gap_us // 86400000000 AS gap_days,
      |  CAST(count(*) AS BIGINT) AS n_users, CAST(sum(n_gaps) AS BIGINT) AS n_gaps
      |FROM med GROUP BY 1 ORDER BY gap_days""".stripMargin

  // ------------------------------------------------ q202 revenue Gini

  /** Concentration — exact Gini coefficient of per-user revenue: how
    * concentrated is spend across users, as the closed-form rank sum
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the ascending (cents,
    * user_id) order — every term an exact integer, the ranks from the
    * distributed zip-with-index. The one-number inequality readout
    * (0 = uniform, →1 = one whale) behind every "top 1% of users" claim;
    * the same arithmetic applied to per-source token counts reads corpus
    * concentration. */
  def q202RevenueGini(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    val perUser = t(s, dir, "events")
      .select(col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("user_id").agg(sum("cents").as("cents"))
    globalRank(perUser, "rnk", col("cents"), col("user_id"))
      .agg(count(lit(1)).as("n_users"), sum("cents").as("total_cents"),
        sum(col("rnk") * col("cents")).as("rank_weighted"))
      .withColumn("g_num", expr("2 * rank_weighted - (n_users + 1) * total_cents"))
      .withColumn("g_den", expr("n_users * total_cents"))
      // g_num·1e6 overflows int64 past ~SF1 (n_users·total_cents ≳ 9.2e12),
      // so the ppm scale rides DECIMAL(38,0) — `div` truncates identically
      // to DuckDB's HUGEINT `//` on these nonnegative operands.
      .withColumn("gini_ppm", expr(
        "CASE WHEN g_den = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST((CAST(g_num AS DECIMAL(38,0)) * 1000000) div g_den AS BIGINT) END"))
      .select("n_users", "total_cents", "g_num", "g_den", "gini_ppm")
  }

  val q202Sql: String =
    """WITH u AS (SELECT user_id,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS rnk
      |      FROM u),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
      |        CAST(sum(cents) AS BIGINT) AS total_cents,
      |        CAST(sum(rnk * cents) AS BIGINT) AS rank_weighted
      |      FROM r)
      |SELECT n_users, total_cents,
      |  2 * rank_weighted - (n_users + 1) * total_cents AS g_num,
      |  n_users * total_cents AS g_den,
      |  CASE WHEN n_users * total_cents = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST((CAST(2 * rank_weighted - (n_users + 1) * total_cents AS HUGEINT)
      |           * 1000000) // (n_users * total_cents) AS BIGINT) END AS gini_ppm
      |FROM a""".stripMargin

  // -------------------------------------- q203 corpus-concentration Gini

  /** Concentration — q202's exact Gini rank-sum applied to the CORPUS:
    * inequality of per-source token counts (0 = every source contributes
    * evenly, →1 = one source dominates). The one-number mixture-health
    * check behind q76/q109's balancing knobs — if it trends up, the
    * temperature/caps aren't holding. Identical closed-form arithmetic
    * over the distributed zip-with-index order. */
  def q203CorpusGini(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    val perSource = docs(s, dir)
      .select(col("source"),
        size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .cast("long").as("toks"))
      .groupBy("source").agg(sum("toks").as("toks"))
    globalRank(perSource, "rnk", col("toks"), col("source"))
      .agg(count(lit(1)).as("n_sources"), sum("toks").as("total_tokens"),
        sum(col("rnk") * col("toks")).as("rank_weighted"))
      .withColumn("g_num", expr("2 * rank_weighted - (n_sources + 1) * total_tokens"))
      .withColumn("g_den", expr("n_sources * total_tokens"))
      // same DECIMAL(38,0) routing as q202 — see the overflow note there
      .withColumn("gini_ppm", expr(
        "CASE WHEN g_den = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST((CAST(g_num AS DECIMAL(38,0)) * 1000000) div g_den AS BIGINT) END"))
      .select("n_sources", "total_tokens", "g_num", "g_den", "gini_ppm")
  }

  val q203Sql: String =
    """WITH src AS (SELECT source,
      |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS toks
      |  FROM documents GROUP BY 1),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY toks, source) AS BIGINT) AS rnk
      |      FROM src),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
      |        CAST(sum(toks) AS BIGINT) AS total_tokens,
      |        CAST(sum(rnk * toks) AS BIGINT) AS rank_weighted
      |      FROM r)
      |SELECT n_sources, total_tokens,
      |  2 * rank_weighted - (n_sources + 1) * total_tokens AS g_num,
      |  n_sources * total_tokens AS g_den,
      |  CASE WHEN n_sources * total_tokens = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST((CAST(2 * rank_weighted - (n_sources + 1) * total_tokens AS HUGEINT)
      |           * 1000000) // (n_sources * total_tokens) AS BIGINT) END AS gini_ppm
      |FROM a""".stripMargin

  // ------------------------------------------- q211 Kaplan–Meier survival

  /** Lifecycle — the Kaplan–Meier survival curve over q193's risk table:
    * S(k) = Π_{j≤k} (at_risk_j − converted_j)/at_risk_j, carried as the
    * EXACT integer recurrence surv_k = (surv_{k−1}·(at_risk_k −
    * converted_k)) div at_risk_k from surv = 1e6 — no float product, no
    * ln, so the whole curve hash-gates. The fold runs as a single
    * `aggregate()` higher-order function over the sorted risk rows: the
    * risk table is calendar-bounded (≤ |days| rows — metadata scale at
    * any corpus size; the 100 TB work is the two user-level aggregates
    * underneath it, which stay distributed), so packing it into one
    * array row costs nothing and keeps the inherently sequential product
    * out of driver code AND out of any window. The oracle replays the
    * identical recurrence as a recursive CTE keyed on row order. */
  def q211KaplanMeier(s: SparkSession, dir: String): DataFrame =
    hazardTable(s, dir)
      .agg(sort_array(collect_list(struct(col("k"), col("at_risk"),
        col("converted")))).as("rows"))
      .select(explode(expr(
        """aggregate(rows,
          |  named_struct('surv', CAST(1000000 AS BIGINT),
          |    'out', CAST(array() AS
          |      ARRAY<STRUCT<k: BIGINT, at_risk: BIGINT,
          |                   converted: BIGINT, surv_ppm: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'surv', (acc.surv * (x.at_risk - x.converted)) div x.at_risk,
          |    'out', array_append(acc.out, named_struct(
          |      'k', x.k, 'at_risk', x.at_risk, 'converted', x.converted,
          |      'surv_ppm',
          |      (acc.surv * (x.at_risk - x.converted)) div x.at_risk))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.k").as("k"), col("r.at_risk").as("at_risk"),
        col("r.converted").as("converted"), col("r.surv_ppm").as("surv_ppm"))
      .orderBy("k")

  val q211Sql: String =
    """WITH RECURSIVE e AS (SELECT user_id,
      |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day, event_type
      |  FROM events),
      |u AS (SELECT user_id, CAST(min(day) AS BIGINT) AS first_day,
      |        min(CASE WHEN event_type = 'purchase' THEN day END) AS first_purchase
      |      FROM e GROUP BY 1),
      |h AS (SELECT CAST(max(day) AS BIGINT) AS last_day FROM e),
      |grid AS (SELECT u.*, CAST(k AS BIGINT) AS k
      |         FROM u CROSS JOIN h, UNNEST(range(0, last_day - first_day + 1)) AS t(k)),
      |r AS (SELECT k, CAST(count(*) AS BIGINT) AS at_risk,
      |        CAST(sum(CASE WHEN first_purchase - first_day = k THEN 1 ELSE 0 END) AS BIGINT)
      |          AS converted
      |      FROM grid
      |      WHERE first_purchase IS NULL OR first_purchase - first_day >= k
      |      GROUP BY 1),
      |rr AS (SELECT k, at_risk, converted,
      |         CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS rn FROM r),
      |km AS (SELECT rn, k, at_risk, converted,
      |         (1000000 * (at_risk - converted)) // at_risk AS surv_ppm
      |       FROM rr WHERE rn = 1
      |       UNION ALL
      |       SELECT rr.rn, rr.k, rr.at_risk, rr.converted,
      |         (km.surv_ppm * (rr.at_risk - rr.converted)) // rr.at_risk
      |       FROM rr JOIN km ON rr.rn = km.rn + 1)
      |SELECT k, at_risk, converted, surv_ppm FROM km ORDER BY k""".stripMargin

  // ------------------------------------------- q212 revenue autocorrelation

  /** Time series — lag-1…7 autocorrelation of daily order revenue:
    * acf_ppm(k) = ⌊1e6·Σ_t dev_t·dev_{t+k} / Σ_t dev_t²⌋ with
    * dev_t = n·x_t − Σx (the mean cleared by n-scaling, so every term is
    * an integer — no float mean, no tolerance). Products ride
    * DECIMAL(38,0) (dev² ≈ 1e22 at sf0.1 — past int64). The daily frame
    * is calendar-bounded; its distributed rank comes from
    * [[graft.operators.Ranks.globalRank]] (never a global window), lags
    * are an equi-join on rank+k. The seasonality probe behind deciding
    * q173's trend fit isn't just autocorrelated noise. */
  def q212Autocorr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    val daily = t(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("x"))
    val stats = broadcast(daily.agg(count(lit(1)).as("n"), sum("x").as("sx")))
    // no extra persist: globalRank pins the one materialized partitioning
    // inside itself; the dev projection re-derives from it deterministically
    val dev = globalRank(daily, "rn", col("day"))
      .crossJoin(stats)
      .select(col("rn"), expr("n * x - sx").as("dev"))
    val den = broadcast(dev.agg(
      sum(expr("CAST(dev AS DECIMAL(38,0)) * CAST(dev AS DECIMAL(38,0))")).as("den")))
    val a = dev.select(col("rn"), col("dev").as("dev_a"))
    val b = dev.select(col("rn").as("rn_b"), col("dev").as("dev_b"))
    val lags = broadcast(s.range(1, 8).select(col("id").as("lag")))
    a.crossJoin(lags)
      .withColumn("rn_b", col("rn") + col("lag"))
      .join(b, "rn_b")
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("CAST(dev_a AS DECIMAL(38,0)) * CAST(dev_b AS DECIMAL(38,0))")).as("num"))
      .crossJoin(den)
      .withColumn("acf_ppm", expr(
        Ops.floorDivScaledSql("num", "den", 1000000L)))
      .select("lag", "n_pairs", "acf_ppm")
      .orderBy("lag")
  }

  val q212Sql: String = {
    val fd = Ops.floorDivScaledSql("num", "den", 1000000L, op = "//")
    s"""WITH daily AS (SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM daily),
      |dev AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
      |          n * x - sx AS dev
      |        FROM daily CROSS JOIN st),
      |dn AS (SELECT sum(CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT)) AS den FROM dev),
      |pr AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
      |         sum(CAST(a.dev AS HUGEINT) * CAST(b.dev AS HUGEINT)) AS num
      |       FROM dev a CROSS JOIN (SELECT CAST(x AS BIGINT) AS lag
      |                              FROM UNNEST(range(1, 8)) u(x)) l
      |       JOIN dev b ON b.rn = a.rn + l.lag
      |       GROUP BY 1)
      |SELECT lag, n_pairs, CAST($fd AS BIGINT) AS acf_ppm
      |FROM pr CROSS JOIN dn ORDER BY lag""".stripMargin
  }

  // ------------------------------------------------ q216 CUPED adjustment

  /** Experimentation — CUPED variance reduction (Deng et al., WSDM'13)
    * over the q168 A/B split: pre-period revenue X (days before the
    * calendar midpoint) regresses out of post-period revenue Y via
    * θ = cov(X,Y)/var(X) pooled across arms, and each arm reports its
    * raw and adjusted mean. All moments are n-scaled integer pieces
    * (cov_num = n·Σxy − Σx·Σy on DECIMAL(38,0) — per-user products pass
    * 1e14, their sums pass int64 at sf≳1); θ and the means quantize to
    * ppm/micro with the shared floor-div identity, and the adjustment
    * composes those quantized integers, so the oracle replays it
    * digit-for-digit. Two user-level aggregates + metadata-scale
    * finishing — the q168 lift readout with the pre-period noise
    * removed. */
  def q216Cuped(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val split = broadcast(ev.agg(
      expr("(min(day) + max(day) + 1) div 2").as("mid")))
    val perUser = ev.crossJoin(split).groupBy("user_id")
      .agg(sum(when(col("day") < col("mid"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("grp", pmod(col("user_id"), lit(2)))
    // two aggregates over the user frame = two distributed scans; no
    // session-lifetime persist of a user-scale frame (cache-leak rule)
    val pooled = broadcast(perUser.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))")).as("sxx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("sxy")))
    perUser.groupBy("grp")
      .agg(count(lit(1)).as("n_users"), sum("x").as("sum_x_cents"),
        sum("y").as("sum_y_cents"))
      .crossJoin(pooled)
      .withColumn("cov_num", expr("n * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("var_num", expr("n * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("theta_ppm", expr(
        Ops.floorDivScaledSql("cov_num", "var_num", 1000000L)))
      .withColumn("mean_y_micro", expr(
        Ops.floorDivScaledSql("sum_y_cents", "n_users", 1000000L)))
      .withColumn("mean_x_micro", expr(
        Ops.floorDivScaledSql("sum_x_cents", "n_users", 1000000L)))
      .withColumn("gmean_x_micro", expr(
        Ops.floorDivScaledSql("sx", "n", 1000000L)))
      .withColumn("adj_mean_y_micro", expr(
        "mean_y_micro - " + Ops.floorDivScaledSql(
          "CAST(theta_ppm AS DECIMAL(38,0)) * (mean_x_micro - gmean_x_micro)",
          "1000000", 1L)))
      .select("grp", "n_users", "sum_x_cents", "sum_y_cents", "theta_ppm",
        "mean_y_micro", "adj_mean_y_micro")
      .orderBy("grp")
  }

  val q216Sql: String = {
    def fd(num: String, den: String, scale: Long) =
      Ops.floorDivScaledSql(num, den, scale, op = "//")
    s"""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |sp AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e),
      |pu AS (SELECT user_id,
      |         CAST(sum(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS y,
      |         user_id % 2 AS grp
      |       FROM e CROSS JOIN sp GROUP BY user_id),
      |pool AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |           CAST(sum(y) AS BIGINT) AS sy,
      |           sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |           sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
      |         FROM pu),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_users,
      |        CAST(sum(x) AS BIGINT) AS sum_x_cents,
      |        CAST(sum(y) AS BIGINT) AS sum_y_cents
      |      FROM pu GROUP BY 1),
      |j AS (SELECT g.*, n * sxy - CAST(sx AS HUGEINT) * sy AS cov_num,
      |        n * sxx - CAST(sx AS HUGEINT) * sx AS var_num, sx, n
      |      FROM g CROSS JOIN pool),
      |q AS (SELECT grp, n_users, sum_x_cents, sum_y_cents,
      |        CAST(${fd("cov_num", "var_num", 1000000L)} AS BIGINT) AS theta_ppm,
      |        CAST(${fd("sum_y_cents", "n_users", 1000000L)} AS BIGINT) AS mean_y_micro,
      |        CAST(${fd("sum_x_cents", "n_users", 1000000L)} AS BIGINT) AS mean_x_micro,
      |        CAST(${fd("sx", "n", 1000000L)} AS BIGINT) AS gmean_x_micro
      |      FROM j)
      |SELECT grp, n_users, sum_x_cents, sum_y_cents, theta_ppm, mean_y_micro,
      |  mean_y_micro - CAST(${fd(
        "CAST(theta_ppm AS HUGEINT) * (mean_x_micro - gmean_x_micro)",
        "1000000", 1L)} AS BIGINT) AS adj_mean_y_micro
      |FROM q ORDER BY grp""".stripMargin
  }

  // ------------------------------------------ q219 exponential smoothing

  /** Time series — simple exponential smoothing of daily order revenue
    * at α = 0.3, as the exact integer recurrence ses_t = (3·x_t +
    * 7·ses_{t−1}) div 10 seeded with ses_0 = x_0 — the one-number
    * forecast/denoise companion to q173 (trend) and q212 (seasonality).
    * Same machinery as q211: the recurrence is inherently sequential but
    * its input is the calendar-bounded daily frame, so it folds inside
    * one `aggregate()` over the sorted rows (the heavy work — the daily
    * rollup — stays distributed), and the oracle replays the identical
    * recurrence as a recursive CTE. Negative-free: cents ≥ 0, so the −1
    * seed sentinel is unambiguous. */
  def q219Ses(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents"))
      .agg(sort_array(collect_list(struct(col("day"), col("cents")))).as("rows"))
      .select(explode(expr(
        """aggregate(rows,
          |  named_struct('prev', CAST(-1 AS BIGINT),
          |    'out', CAST(array() AS
          |      ARRAY<STRUCT<day: BIGINT, cents: BIGINT, ses_cents: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'prev', IF(acc.prev < 0, x.cents,
          |               (3 * x.cents + 7 * acc.prev) div 10),
          |    'out', array_append(acc.out, named_struct(
          |      'day', x.day, 'cents', x.cents,
          |      'ses_cents', IF(acc.prev < 0, x.cents,
          |                      (3 * x.cents + 7 * acc.prev) div 10)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.cents").as("cents"),
        col("r.ses_cents").as("ses_cents"))
      .orderBy("day")

  val q219Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |rr AS (SELECT day, cents,
      |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM daily),
      |ses AS (SELECT rn, day, cents, cents AS ses_cents FROM rr WHERE rn = 1
      |        UNION ALL
      |        SELECT rr.rn, rr.day, rr.cents,
      |          (3 * rr.cents + 7 * ses.ses_cents) // 10
      |        FROM rr JOIN ses ON rr.rn = ses.rn + 1)
      |SELECT day, cents, ses_cents FROM ses ORDER BY day""".stripMargin

  // ---------------------------------------------- q220 SPRT sequential A/B

  /** Experimentation — Wald's sequential probability ratio test over the
    * q168 arms: H0 "the treatment converts at the control's pooled rate
    * p0" vs H1 "at 1.25·p0", tracked day by day as the exact integer
    * LLR_micro = cum_s·lr1 + (cum_n − cum_s)·lr0, where lr1/lr0 are the
    * ×1e6-quantized log-ratios of the two hypotheses' success/failure
    * odds (each ln argument ONE integer ratio — the q71 rule) and the
    * cumulative trial/success counts fold over the calendar-bounded
    * daily frame (q211's machinery). Verdict crosses at ±ln(19)·1e6
    * (α = β = 0.05). The "stop the A/B early" decision as a query —
    * q168 reports the end-state lift, this reports WHEN you could have
    * stopped. */
  def q220Sprt(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
    val rates = broadcast(
      ev.filter(pmod(col("user_id"), lit(2)) === 0)
        .agg(count(lit(1)).as("n_a"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("s_a"))
        .select(expr("(s_a * 1000000) div n_a").as("p0_ppm"))
        .withColumn("p1_ppm", expr("least((p0_ppm * 5) div 4, 999999L)"))
        .withColumn("lr1_micro",
          floor(log(col("p1_ppm").cast("double") / col("p0_ppm").cast("double"))
            * 1000000.0 + 0.5).cast("long"))
        .withColumn("lr0_micro",
          floor(log((lit(1000000L) - col("p1_ppm")).cast("double") /
            (lit(1000000L) - col("p0_ppm")).cast("double"))
            * 1000000.0 + 0.5).cast("long")))
    ev.filter(pmod(col("user_id"), lit(2)) === 1)
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("s"))
      .agg(sort_array(collect_list(struct(col("day"), col("n"), col("s"))))
        .as("rows"))
      .crossJoin(rates)
      .select(col("lr1_micro"), col("lr0_micro"), explode(expr(
        """aggregate(rows,
          |  named_struct('cn', CAST(0 AS BIGINT), 'cs', CAST(0 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<day: BIGINT, n: BIGINT,
          |      s: BIGINT, cum_n: BIGINT, cum_s: BIGINT>>)),
          |  (acc, x) -> named_struct('cn', acc.cn + x.n, 'cs', acc.cs + x.s,
          |    'out', array_append(acc.out, named_struct('day', x.day,
          |      'n', x.n, 's', x.s, 'cum_n', acc.cn + x.n,
          |      'cum_s', acc.cs + x.s))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.n").as("n"), col("r.s").as("s"),
        col("r.cum_n").as("cum_n"), col("r.cum_s").as("cum_s"),
        (col("r.cum_s") * col("lr1_micro") +
          (col("r.cum_n") - col("r.cum_s")) * col("lr0_micro")).as("llr_micro"))
      .withColumn("verdict",
        when(col("llr_micro") >= 2944439L, "reject_h0")
          .when(col("llr_micro") <= -2944439L, "accept_h0")
          .otherwise("continue"))
      .orderBy("day")
  }

  val q220Sql: String =
    """WITH e AS (SELECT user_id,
      |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day, event_type
      |  FROM events),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
      |        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS s_a
      |      FROM e WHERE user_id % 2 = 0),
      |r1 AS (SELECT p0_ppm, least((p0_ppm * 5) // 4, 999999) AS p1_ppm
      |       FROM (SELECT (s_a * 1000000) // n_a AS p0_ppm FROM a)),
      |r2 AS (SELECT CAST(floor(ln(CAST(p1_ppm AS DOUBLE) / CAST(p0_ppm AS DOUBLE))
      |           * 1000000.0 + 0.5) AS BIGINT) AS lr1,
      |         CAST(floor(ln(CAST(1000000 - p1_ppm AS DOUBLE)
      |           / CAST(1000000 - p0_ppm AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lr0
      |       FROM r1),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS s
      |      FROM e WHERE user_id % 2 = 1 GROUP BY 1),
      |c AS (SELECT day, n, s,
      |        CAST(sum(n) OVER (ORDER BY day) AS BIGINT) AS cum_n,
      |        CAST(sum(s) OVER (ORDER BY day) AS BIGINT) AS cum_s
      |      FROM d)
      |SELECT day, n, s, cum_n, cum_s,
      |  cum_s * lr1 + (cum_n - cum_s) * lr0 AS llr_micro,
      |  CASE WHEN cum_s * lr1 + (cum_n - cum_s) * lr0 >= 2944439 THEN 'reject_h0'
      |       WHEN cum_s * lr1 + (cum_n - cum_s) * lr0 <= -2944439 THEN 'accept_h0'
      |       ELSE 'continue' END AS verdict
      |FROM c CROSS JOIN r2 ORDER BY day""".stripMargin

  // --------------------------------------------- q222 Holt linear trend

  /** Time series — Holt's double exponential smoothing (level + trend) of
    * daily order revenue at α = 0.3, β = 0.1, as coupled exact integer
    * recurrences over the q219 fold: l_t = (3·x_t + 7·(l+b)) div 10,
    * b_t = ((l_t − l) + 9·b) div 10 (seeded l_0 = x_0, b_0 = 0); the
    * one-step forecast l+b rides along. The trend-aware upgrade of q219
    * for drifting series; Spark `div` and DuckDB `//` truncate
    * identically on the possibly-negative trend. The oracle replays the
    * recurrence as a recursive CTE with lateral aliases. */
  def q222Holt(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents"))
      .agg(sort_array(collect_list(struct(col("day"), col("cents")))).as("rows"))
      .select(explode(expr(
        """aggregate(rows,
          |  named_struct('l', CAST(-1 AS BIGINT), 'b', CAST(0 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<day: BIGINT, cents: BIGINT,
          |      level: BIGINT, trend: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'l', IF(acc.l < 0, x.cents,
          |            (3 * x.cents + 7 * (acc.l + acc.b)) div 10),
          |    'b', IF(acc.l < 0, CAST(0 AS BIGINT),
          |            ((IF(acc.l < 0, x.cents,
          |                 (3 * x.cents + 7 * (acc.l + acc.b)) div 10) - acc.l)
          |             + 9 * acc.b) div 10),
          |    'out', array_append(acc.out, named_struct('day', x.day,
          |      'cents', x.cents,
          |      'level', IF(acc.l < 0, x.cents,
          |                  (3 * x.cents + 7 * (acc.l + acc.b)) div 10),
          |      'trend', IF(acc.l < 0, CAST(0 AS BIGINT),
          |                  ((IF(acc.l < 0, x.cents,
          |                       (3 * x.cents + 7 * (acc.l + acc.b)) div 10)
          |                    - acc.l) + 9 * acc.b) div 10)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.cents").as("cents"),
        col("r.level").as("level"), col("r.trend").as("trend"),
        (col("r.level") + col("r.trend")).as("forecast"))
      .orderBy("day")

  val q222Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |rr AS (SELECT day, cents,
      |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM daily),
      |h AS (SELECT rn, day, cents, cents AS level, CAST(0 AS BIGINT) AS trend
      |      FROM rr WHERE rn = 1
      |      UNION ALL
      |      SELECT rr.rn, rr.day, rr.cents,
      |        (3 * rr.cents + 7 * (h.level + h.trend)) // 10 AS lvl,
      |        (((3 * rr.cents + 7 * (h.level + h.trend)) // 10 - h.level)
      |         + 9 * h.trend) // 10
      |      FROM rr JOIN h ON rr.rn = h.rn + 1)
      |SELECT day, cents, level, trend, level + trend AS forecast
      |FROM h ORDER BY day""".stripMargin

  // --------------------------------------------- q230 CUSUM changepoint

  /** Monitoring — two-sided CUSUM changepoint detection (Page 1954) over
    * daily order revenue: s⁺ₜ = max(0, s⁺ₜ₋₁ + xₜ − μ − k) and
    * s⁻ₜ = max(0, s⁻ₜ₋₁ + μ − xₜ − k) with slack k = μ div 10 and alarm
    * threshold h = μ, each statistic resetting to 0 the day AFTER it
    * alarms — the sequential shift detector that flags sustained drift
    * q169's pointwise outlier test cannot see. μ/k/h are one broadcast
    * row of floor-div integers; the recurrence folds over the
    * calendar-bounded daily frame (q211's machinery — the daily rollup
    * stays distributed) and the oracle replays it as a recursive CTE.
    * Pure BIGINT throughout: both engines truncate `div`/`//`
    * identically and max(0,·) keeps the statistics non-negative. */
  def q230Cusum(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents"))
    val target = broadcast(daily
      .agg(expr("sum(cents) div count(*)").as("mu"))
      .select(col("mu"), expr("mu div 10").as("k")))
    daily
      .agg(sort_array(collect_list(struct(col("day"), col("cents")))).as("rows"))
      .crossJoin(target)
      .select(col("mu"), col("k"), explode(expr(
        """aggregate(rows,
          |  named_struct('sp', CAST(0 AS BIGINT), 'sn', CAST(0 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<day: BIGINT, cents: BIGINT,
          |      sp: BIGINT, sn: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'sp', greatest(CAST(0 AS BIGINT),
          |            IF(acc.sp > mu, CAST(0 AS BIGINT), acc.sp)
          |              + x.cents - mu - k),
          |    'sn', greatest(CAST(0 AS BIGINT),
          |            IF(acc.sn > mu, CAST(0 AS BIGINT), acc.sn)
          |              + mu - x.cents - k),
          |    'out', array_append(acc.out, named_struct(
          |      'day', x.day, 'cents', x.cents,
          |      'sp', greatest(CAST(0 AS BIGINT),
          |              IF(acc.sp > mu, CAST(0 AS BIGINT), acc.sp)
          |                + x.cents - mu - k),
          |      'sn', greatest(CAST(0 AS BIGINT),
          |              IF(acc.sn > mu, CAST(0 AS BIGINT), acc.sn)
          |                + mu - x.cents - k)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.cents").as("cents"),
        col("r.sp").as("sp"), col("r.sn").as("sn"),
        when(col("r.sp") > col("mu") && col("r.sn") > col("mu"), "both")
          .when(col("r.sp") > col("mu"), "up")
          .when(col("r.sn") > col("mu"), "down")
          .otherwise("none").as("alarm"))
      .orderBy("day")
  }

  val q230Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS mu,
      |        CAST((sum(cents) // count(*)) // 10 AS BIGINT) AS k
      |      FROM daily),
      |rr AS (SELECT day, cents,
      |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM daily),
      |c AS (SELECT rn, day, cents,
      |        greatest(CAST(0 AS BIGINT), cents - mu - k) AS sp,
      |        greatest(CAST(0 AS BIGINT), mu - cents - k) AS sn
      |      FROM rr CROSS JOIN t WHERE rn = 1
      |      UNION ALL
      |      SELECT rr.rn, rr.day, rr.cents,
      |        greatest(CAST(0 AS BIGINT),
      |          (CASE WHEN c.sp > t.mu THEN 0 ELSE c.sp END)
      |            + rr.cents - t.mu - t.k),
      |        greatest(CAST(0 AS BIGINT),
      |          (CASE WHEN c.sn > t.mu THEN 0 ELSE c.sn END)
      |            + t.mu - rr.cents - t.k)
      |      FROM rr JOIN c ON rr.rn = c.rn + 1 CROSS JOIN t)
      |SELECT day, cents, sp, sn,
      |  CASE WHEN sp > mu AND sn > mu THEN 'both'
      |       WHEN sp > mu THEN 'up'
      |       WHEN sn > mu THEN 'down' ELSE 'none' END AS alarm
      |FROM c CROSS JOIN t ORDER BY day""".stripMargin

  // ---------------------------------------- q231 chi-square independence

  /** Statistics — Pearson χ² test of independence between event type and
    * day-of-week, reported per contingency cell in exact integers: with
    * O the cell count, R/C the margins and N the total, each cell's
    * contribution is (O·N − R·C)² / (R·C·N), quantized to ppm via the
    * shared floor-div identity with the squares on DECIMAL(38,0)/HUGEINT
    * (diff² · 1e6 passes int64 well before sf1 — the q202/q212 rule).
    * Σ contrib_ppm is the χ² statistic ×1e6 with dof (types−1)(7−1).
    * Shape: one cell aggregation, two metadata-scale margin rollups that
    * broadcast back, one global-count row — no second pass over events. */
  def q231ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      expr("(unix_micros(ts) div 86400000000) % 7").as("dow"))
    val cells = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rowm = cells.groupBy("event_type").agg(sum("o").as("rt"))
    val colm = cells.groupBy("dow").agg(sum("o").as("ct"))
    val tot = broadcast(cells.agg(sum("o").as("nt")))
    cells.join(broadcast(rowm), "event_type")
      .join(broadcast(colm), "dow")
      .crossJoin(tot)
      .withColumn("diff", col("o") * col("nt") - col("rt") * col("ct"))
      .withColumn("contrib_ppm", expr(Ops.floorDivScaledSql(
        "CAST(diff AS DECIMAL(38,0)) * CAST(diff AS DECIMAL(38,0))",
        "CAST(rt AS DECIMAL(38,0)) * CAST(ct AS DECIMAL(38,0)) * CAST(nt AS DECIMAL(38,0))",
        1000000L)))
      .select("event_type", "dow", "o", "rt", "ct", "nt", "contrib_ppm")
      .orderBy("event_type", "dow")
  }

  val q231Sql: String = {
    val fd = Ops.floorDivScaledSql(
      "CAST(o * nt - rt * ct AS HUGEINT) * CAST(o * nt - rt * ct AS HUGEINT)",
      "CAST(rt AS HUGEINT) * CAST(ct AS HUGEINT) * CAST(nt AS HUGEINT)",
      1000000L, op = "//")
    s"""WITH e AS (SELECT event_type,
      |    (CAST(epoch_us(ts) AS BIGINT) // 86400000000) % 7 AS dow
      |  FROM events),
      |cells AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
      |          FROM e GROUP BY 1, 2),
      |rm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |cm AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |nm AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM cells)
      |SELECT event_type, dow, o, rt, ct, nt, CAST($fd AS BIGINT) AS contrib_ppm
      |FROM cells JOIN rm USING (event_type) JOIN cm USING (dow) CROSS JOIN nm
      |ORDER BY event_type, dow""".stripMargin
  }

  // ------------------------------------------- q234 Fano overdispersion

  /** Statistics — Fano factor (index of dispersion) of per-user event
    * counts, per event type: with m users, S = Σnᵢ, SS = Σnᵢ², the
    * variance/mean ratio is (m·SS − S²)/(m·S), quantized to ppm via the
    * shared floor-div with the products on DECIMAL(38,0)/HUGEINT (m·SS
    * passes int64 before sf1 — the q202/q212 rule). fano_ppm ≫ 1e6 means
    * burstier than Poisson (a few users generate most events of that
    * type); ≪ 1e6 means evenly spread. The overdispersion companion to
    * q231: that asks "is type independent of time", this asks "is type
    * concentrated in users". One (type, user) count + one per-type
    * moment rollup — both map-side combinable. */
  def q234FanoFactor(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("m"), sum("n").as("s"),
        sum(expr("n * n")).as("ss"))
      .withColumn("fano_ppm", expr(Ops.floorDivScaledSql(
        "CAST(m AS DECIMAL(38,0)) * CAST(ss AS DECIMAL(38,0)) - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))",
        "CAST(m AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))", 1000000L)))
      .select("event_type", "m", "s", "ss", "fano_ppm")
      .orderBy("event_type")
  }

  val q234Sql: String = {
    val fd = Ops.floorDivScaledSql(
      "CAST(m AS HUGEINT) * CAST(ss AS HUGEINT) - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)",
      "CAST(m AS HUGEINT) * CAST(s AS HUGEINT)", 1000000L, op = "//")
    s"""WITH u AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
      |        CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss
      |      FROM u GROUP BY 1)
      |SELECT event_type, m, s, ss, CAST($fd AS BIGINT) AS fano_ppm
      |FROM g ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------ q235 trimmed mean

  /** Robust stats — 10%-trimmed mean of customer balances per nation:
    * rank within each nation by (balance, custkey) — via
    * [[graft.operators.Ranks.groupRank]], NOT a nation-keyed window:
    * nation has 25 distinct values (TPC-H shape), so
    * `Window.partitionBy(nation)` caps parallelism at 25 tasks each
    * sorting N/25 rows at scale — the same low-cardinality straggler
    * shape as q312, fixed the same way. Drop the bottom and top ⌊n/10⌋
    * rows, and report the mean of the kept cents in exact milli-cents
    * via the shared floor-div, next to the untrimmed mean. The estimator
    * between q64's outlier-fragile mean and q169's median — tails
    * discarded symmetrically, everything else weighted equally. The trim
    * is a rank filter, the means map-side combinable sums. */
  def q235TrimmedMean(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: consumed by nk and the final fold (q312's rationale)
    val c = graft.operators.Ranks.groupRank(
      t(s, dir, "customer").select(
        col("c_nationkey").cast("long").as("nation"), col("c_custkey"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal")),
      "nation", "rk", col("bal"), col("c_custkey"))
      .localCheckpoint()
    val nk = c.groupBy("nation").agg(count(lit(1)).as("n"))
    c.join(broadcast(nk), "nation")
      .withColumn("keep",
        col("rk") > expr("n div 10") && col("rk") <= col("n") - expr("n div 10"))
      .groupBy("nation")
      .agg(max("n").as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("bal")).otherwise(0L)).as("sum_kept"),
        sum("bal").as("sum_all"))
      .withColumn("trimmed_mean_milli",
        expr(Ops.floorDivScaledSql("sum_kept", "n_kept", 1000L)))
      .withColumn("mean_milli",
        expr(Ops.floorDivScaledSql("sum_all", "n", 1000L)))
      .select("nation", "n", "n_kept", "sum_kept", "trimmed_mean_milli",
        "mean_milli")
      .orderBy("nation")
  }

  val q235Sql: String = {
    val fdT = Ops.floorDivScaledSql("sum_kept", "n_kept", 1000L, op = "//")
    val fdA = Ops.floorDivScaledSql("sum_all", "n", 1000L, op = "//")
    s"""WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation, c_custkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
      |  FROM customer),
      |r AS (SELECT nation, bal,
      |        CAST(row_number() OVER (PARTITION BY nation
      |          ORDER BY bal, c_custkey) AS BIGINT) AS rk,
      |        CAST(count(*) OVER (PARTITION BY nation) AS BIGINT) AS n
      |      FROM c),
      |g AS (SELECT nation, CAST(max(n) AS BIGINT) AS n,
      |        CAST(sum(CASE WHEN rk > n // 10 AND rk <= n - n // 10
      |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |        CAST(sum(CASE WHEN rk > n // 10 AND rk <= n - n // 10
      |                      THEN bal ELSE 0 END) AS BIGINT) AS sum_kept,
      |        CAST(sum(bal) AS BIGINT) AS sum_all
      |      FROM r GROUP BY 1)
      |SELECT nation, n, n_kept, sum_kept,
      |  CAST($fdT AS BIGINT) AS trimmed_mean_milli,
      |  CAST($fdA AS BIGINT) AS mean_milli
      |FROM g ORDER BY nation""".stripMargin
  }

  // ------------------------------------------------ q236 Benford audit

  /** Data quality — Benford first-digit audit of order totals: the
    * distribution of the leading digit of o_totalprice (in cents — the
    * leading digit is scale-invariant) against Benford's law
    * P(d) = log₁₀(1 + 1/d), with the expectation quantized as
    * ⌊log₁₀(1+1/d)·1e6 + 0.5⌋ (ONE log of one exact ratio — the q71
    * rule) and the observed share as the floor-div ppm. |diff_ppm| far
    * from 0 on a naturally-spread money column flags fabricated or
    * truncated data — the classic forensic screen, as a query. One
    * digit aggregation; the 9-row expectation is expression-only. */
  def q236Benford(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "orders")
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .filter(col("cents") > 0L)
      .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)").as("digit"))
    val tot = broadcast(d.agg(count(lit(1)).as("total")))
    d.groupBy("digit").agg(count(lit(1)).as("cnt"))
      .crossJoin(tot)
      .withColumn("obs_ppm", expr("(cnt * 1000000) div total"))
      .withColumn("exp_ppm", expr(
        "CAST(floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"))
      .withColumn("diff_ppm", col("obs_ppm") - col("exp_ppm"))
      .select("digit", "cnt", "total", "obs_ppm", "exp_ppm", "diff_ppm")
      .orderBy("digit")
  }

  val q236Sql: String =
    """WITH d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |        FROM orders) WHERE cents > 0),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d),
      |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1)
      |SELECT digit, cnt, total,
      |  (cnt * 1000000) // total AS obs_ppm,
      |  CAST(floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS exp_ppm,
      |  (cnt * 1000000) // total
      |    - CAST(floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS diff_ppm
      |FROM g CROSS JOIN t ORDER BY digit""".stripMargin

  // ------------------------------------------------ q238 Kendall tau

  /** Statistics — exact Kendall rank correlation between daily revenue
    * and daily order count: over all day pairs, concordant/discordant/
    * tied counts and τ_a = (C − D)/(n(n−1)/2) in ppm — rank agreement
    * with NO square roots, so the whole statistic stays in the shared
    * integer arithmetic (the reason Kendall, not Spearman's ρ, is the
    * declared rank correlation; tie counts are emitted so τ_b is
    * reconstructable downstream). The pair stream is the CALENDAR
    * squared — the daily frame is ≤ 366·years rows, so one side
    * broadcasts and the n² stays metadata-scale at any SF (the same
    * bound that legitimizes the q211-family folds); the heavy work, the
    * daily rollup, is one distributed aggregation. */
  def q238KendallTau(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("x"), count(lit(1)).as("y"))
    val pairs = daily.select(col("day").as("da"), col("x").as("xa"), col("y").as("ya"))
      .join(broadcast(daily.select(col("day").as("db"), col("x").as("xb"),
        col("y").as("yb"))), col("da") < col("db"))
    // concordance via boolean sign logic, not the difference product —
    // (xa−xb)·(ya−yb) would overflow int64 once daily sums pass ~3e9 cents
    pairs
      .agg(
        sum(when((col("xa") > col("xb") && col("ya") > col("yb")) ||
            (col("xa") < col("xb") && col("ya") < col("yb")), 1L)
          .otherwise(0L)).as("c"),
        sum(when((col("xa") > col("xb") && col("ya") < col("yb")) ||
            (col("xa") < col("xb") && col("ya") > col("yb")), 1L)
          .otherwise(0L)).as("d"),
        sum(when(col("xa") === col("xb") && col("ya") =!= col("yb"), 1L)
          .otherwise(0L)).as("tx"),
        sum(when(col("ya") === col("yb") && col("xa") =!= col("xb"), 1L)
          .otherwise(0L)).as("ty"),
        sum(when(col("xa") === col("xb") && col("ya") === col("yb"), 1L)
          .otherwise(0L)).as("txy"),
        count(lit(1)).as("n_pairs"))
      .withColumn("tau_a_ppm", expr(
        Ops.floorDivScaledSql("c - d", "n_pairs", 1000000L)))
      .select("c", "d", "tx", "ty", "txy", "n_pairs", "tau_a_ppm")
  }

  val q238Sql: String = {
    val fd = Ops.floorDivScaledSql("c - d", "n_pairs", 1000000L, op = "//")
    s"""WITH daily AS (SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      |      FROM daily a JOIN daily b ON a.day < b.day),
      |g AS (SELECT
      |  CAST(sum(CASE WHEN (xa > xb AND ya > yb) OR (xa < xb AND ya < yb)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |  CAST(sum(CASE WHEN (xa > xb AND ya < yb) OR (xa < xb AND ya > yb)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |  CAST(sum(CASE WHEN xa = xb AND ya <> yb THEN 1 ELSE 0 END) AS BIGINT) AS tx,
      |  CAST(sum(CASE WHEN ya = yb AND xa <> xb THEN 1 ELSE 0 END) AS BIGINT) AS ty,
      |  CAST(sum(CASE WHEN xa = xb AND ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS txy,
      |  CAST(count(*) AS BIGINT) AS n_pairs
      |FROM p)
      |SELECT c, d, tx, ty, txy, n_pairs, CAST($fd AS BIGINT) AS tau_a_ppm
      |FROM g""".stripMargin
  }

  // --------------------------------------------- q244 ABC classification

  /** Inventory analytics — ABC (Pareto) classification of parts by
    * revenue: parts ranked by descending revenue, classified A while the
    * cumulative share stays ≤ 80%, B through 95%, C after — with BOTH
    * the rank and the cumulative sum from ONE distributed prefix-sum
    * pass (q109's machinery: range partition + per-partition window +
    * broadcast offsets — never a global single-partition window), and
    * the share thresholds as exact DECIMAL(38,0)/HUGEINT cross-multiplies
    * (cum·100 ≤ total·80 — no float shares). The "which 20% of items
    * carry 80% of value" query, Gini's (q202) actionable sibling. */
  def q244AbcClasses(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.prefixSums
    val rev = t(s, dir, "lineitem")
      .select(col("l_partkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ec"))
      .groupBy("l_partkey").agg(sum("ec").as("rev"))
      .withColumn("one", lit(1L))
    val tot = broadcast(rev.agg(sum("rev").as("total")))
    prefixSums(rev, Seq("rev" -> "cum", "one" -> "rnk"),
        col("rev").desc, col("l_partkey"))
      .crossJoin(tot)
      .withColumn("abc_class",
        when(expr("CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(total AS DECIMAL(38,0)) * 80"), "A")
          .when(expr("CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(total AS DECIMAL(38,0)) * 95"), "B")
          .otherwise("C"))
      .select(col("rnk"), col("l_partkey").as("partkey"), col("rev"),
        col("cum"), col("abc_class"))
      .orderBy("rnk")
  }

  val q244Sql: String =
    """WITH rev AS (SELECT l_partkey,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM rev),
      |r AS (SELECT l_partkey, rev,
      |        CAST(row_number() OVER (ORDER BY rev DESC, l_partkey) AS BIGINT) AS rnk,
      |        CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey) AS BIGINT) AS cum
      |      FROM rev)
      |SELECT rnk, l_partkey AS partkey, rev, cum,
      |  CASE WHEN CAST(cum AS HUGEINT) * 100 <= CAST(total AS HUGEINT) * 80 THEN 'A'
      |       WHEN CAST(cum AS HUGEINT) * 100 <= CAST(total AS HUGEINT) * 95 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM r CROSS JOIN t ORDER BY rnk""".stripMargin

  // ------------------------------------------- q267 nelson-aalen hazard

  /** Survival — Nelson–Aalen cumulative hazard over the q211 risk table:
    * H(k) = Σ_{j≤k} dⱼ/nⱼ with each step floored to ppm. Unlike the
    * Kaplan–Meier product (a sequential fold), the hazard SUM rides the
    * distributed prefix machinery ([[graft.operators.Ranks.prefixSum]])
    * — the scalable member of the survival pair, and the reason both are
    * declared. */
  def q267NelsonAalen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.prefixSum
    val h = hazardTable(s, dir)
      .withColumn("h_step_ppm", expr(Ops.floorDivScaledSql(
        "converted", "at_risk", 1000000L)))
    prefixSum(h, "h_step_ppm", "cumhaz_ppm", col("k"))
      .select("k", "at_risk", "converted", "h_step_ppm", "cumhaz_ppm")
      .orderBy("k")
  }

  val q267Sql: String = {
    val fd = Ops.floorDivScaledSql("converted", "at_risk", 1000000L, op = "//")
    s"""WITH e AS (SELECT user_id,
      |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day, event_type
      |  FROM events),
      |u AS (SELECT user_id, CAST(min(day) AS BIGINT) AS first_day,
      |        min(CASE WHEN event_type = 'purchase' THEN day END) AS first_purchase
      |      FROM e GROUP BY 1),
      |hz AS (SELECT CAST(max(day) AS BIGINT) AS last_day FROM e),
      |grid AS (SELECT u.*, CAST(k AS BIGINT) AS k
      |         FROM u CROSS JOIN hz, UNNEST(range(0, last_day - first_day + 1)) AS t(k)),
      |r AS (SELECT k, CAST(count(*) AS BIGINT) AS at_risk,
      |        CAST(sum(CASE WHEN first_purchase - first_day = k THEN 1 ELSE 0 END) AS BIGINT)
      |          AS converted
      |      FROM grid
      |      WHERE first_purchase IS NULL OR first_purchase - first_day >= k
      |      GROUP BY 1),
      |na AS (SELECT k, at_risk, converted, CAST($fd AS BIGINT) AS h_step_ppm FROM r)
      |SELECT k, at_risk, converted, h_step_ppm,
      |  CAST(sum(h_step_ppm) OVER (ORDER BY k) AS BIGINT) AS cumhaz_ppm
      |FROM na ORDER BY k""".stripMargin
  }

  // ------------------------------------------- q262 isotonic calibration

  /** Calibration — exact weighted isotonic regression (PAV solution) over
    * the q183 score-decile reliability table, via the closed minimax form
    * ŷᵢ = max_{j≤i} min_{k≥i} pooledRate(j..k) — no sequential
    * pool-adjacent-violators loop, so the whole fit is three joins + two
    * aggregations over the DECILE grid (metadata-scale; the only
    * data-scale work is q183's own ranking pass). Pooled rates floor to
    * ppm before the minimax, making both engines bit-identical; the fit
    * is provably monotone, which the spec asserts. */
  def q262IsotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    // ≤ 10 rows, consumed FIVE times below (both inequality-join sides,
    // the pooled join, the fit grid, the final readout) — un-truncated,
    // the whole q183 scorer+rank pipeline executed once per consumer
    // (r13 opt)
    val cells = q183Calibration(s, dir).select("decile", "n", "n_pos")
      .localCheckpoint()
    val bj = cells.select(col("decile").as("j"))
    val bk = cells.select(col("decile").as("k"))
    // every frame here is decile-grid-sized (≤ 10 rows): broadcast the
    // inequality-join sides so the static plan is BNLJ, never cartesian
    val ranges = bj.join(broadcast(bk), col("j") <= col("k"))
    val pooled = ranges
      .join(broadcast(cells), col("decile") >= col("j") && col("decile") <= col("k"))
      .groupBy("j", "k")
      .agg(sum("n").as("rn"), sum("n_pos").as("rpos"))
      .withColumn("rate_ppm", expr(Ops.floorDivScaledSql("rpos", "rn", 1000000L)))
      .select("j", "k", "rate_ppm")
    val grid = cells.select(col("decile").as("i"))
    val fit = grid
      .join(broadcast(pooled), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min("rate_ppm").as("mn"))
      .groupBy("i").agg(max("mn").as("fit_ppm"))
    cells.join(broadcast(fit), col("decile") === col("i"))
      .withColumn("obs_ppm", expr("(n_pos * 1000000) div n"))
      .select("decile", "n", "n_pos", "obs_ppm", "fit_ppm")
      .orderBy("decile")
  }

  val q262Sql: String = {
    val fdRate = Ops.floorDivScaledSql("rpos", "rn", 1000000L, op = "//")
    DuckClassifierScore +
      s""",
        |r AS (SELECT id, score_milli,
        |        CAST(row_number() OVER (ORDER BY score_milli, id) AS BIGINT) AS rnk
        |      FROM sc),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sc),
        |cells AS (SELECT ((r.rnk - 1) * 10) // nn.n_docs AS decile,
        |        CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |      FROM r JOIN documents d ON d.doc_id = r.id CROSS JOIN nn
        |      GROUP BY 1),
        |ranges AS (SELECT a.decile AS j, b.decile AS k
        |      FROM cells a JOIN cells b ON a.decile <= b.decile),
        |pooled AS (SELECT j, k, CAST($fdRate AS BIGINT) AS rate_ppm
        |      FROM (SELECT j, k, CAST(sum(c.n) AS BIGINT) AS rn,
        |              CAST(sum(c.n_pos) AS BIGINT) AS rpos
        |            FROM ranges JOIN cells c ON c.decile BETWEEN j AND k
        |            GROUP BY j, k)),
        |inner_min AS (SELECT g.decile AS i, p.j, min(p.rate_ppm) AS mn
        |      FROM cells g JOIN pooled p ON p.j <= g.decile AND p.k >= g.decile
        |      GROUP BY 1, 2),
        |fit AS (SELECT i, CAST(max(mn) AS BIGINT) AS fit_ppm FROM inner_min GROUP BY 1)
        |SELECT c.decile, c.n, c.n_pos,
        |  (c.n_pos * 1000000) // c.n AS obs_ppm, f.fit_ppm
        |FROM cells c JOIN fit f ON f.i = c.decile
        |ORDER BY c.decile""".stripMargin
  }

  // ------------------------------------------- q263 average precision

  /** Ranking eval — exact average precision (area under the
    * precision–recall curve at the ranked cut points): documents ranked
    * by classifier score descending, AP = (1/R)·Σ_{k: rel} P@k with
    * P@k = cumPos(k)/k in floor-ppm. The ranking and the cumulative
    * positive count ride [[graft.operators.Ranks.prefixSums]] in ONE
    * shared range-partitioned pass — no global window, same machinery as
    * the q189/q196 threshold sweeps. */
  def q263AveragePrecision(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.prefixSums
    val scored = graft.llmops.TextAnalysis
      .hashedNgramScore(docs(s, dir), "doc_id", "text")
      .select(col("id"), col("score_milli"))
      .join(docs(s, dir).select(col("doc_id").as("id"),
        (col("lang") === "en").cast("long").as("pos")), "id")
      .withColumn("one", lit(1L))
    val swept = prefixSums(scored, Seq("pos" -> "cum_pos", "one" -> "rnk"),
      col("score_milli").desc, col("id"))
    // n_docs/n_pos depend only on the base table (pos = lang='en'), not on
    // the score — aggregate the plain scan so the ngram scorer + rank
    // pipeline runs once (q196 rule; r13 opt)
    val totals = broadcast(docs(s, dir).agg(count(lit(1)).as("n_docs"),
      sum((col("lang") === "en").cast("long")).as("n_pos")))
    swept.filter(col("pos") === 1L)
      .withColumn("p_at_k_ppm", expr("(cum_pos * 1000000) div rnk"))
      .agg(sum("p_at_k_ppm").as("sum_p_ppm"))
      .crossJoin(totals)
      .withColumn("ap_ppm", expr(Ops.floorDivScaledSql("sum_p_ppm", "n_pos", 1L)))
      .select("n_docs", "n_pos", "sum_p_ppm", "ap_ppm")
  }

  val q263Sql: String = {
    val fd = Ops.floorDivScaledSql("sum_p_ppm", "n_pos", 1L, op = "//")
    DuckClassifierScore +
      s""",
        |lab AS (SELECT sc.id, sc.score_milli,
        |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
        |      FROM sc JOIN documents d ON d.doc_id = sc.id),
        |r AS (SELECT pos,
        |        CAST(row_number() OVER (ORDER BY score_milli DESC, id) AS BIGINT) AS rnk,
        |        CAST(sum(pos) OVER (ORDER BY score_milli DESC, id) AS BIGINT) AS cum_pos
        |      FROM lab),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(pos) AS BIGINT) AS n_pos FROM lab),
        |apg AS (SELECT CAST(sum((cum_pos * 1000000) // rnk) AS BIGINT) AS sum_p_ppm
        |      FROM r WHERE pos = 1)
        |SELECT t.n_docs, t.n_pos, apg.sum_p_ppm, CAST($fd AS BIGINT) AS ap_ppm
        |FROM apg CROSS JOIN t""".stripMargin
  }

  // ------------------------------------------- q256 holt-winters seasonal

  /** The current seasonal index (0-based day position mod 7) read from a
    * 7-field accumulator — SQL aggregate lambdas have no let-binding, so
    * every consumer inlines this CASE. */
  private def hwSeason(prefix: String, idxExpr: String): String =
    s"CASE $idxExpr " +
      (0 to 6).map(j => s"WHEN $j THEN $prefix.s$j").mkString(" ") + " END"

  /** Statistics — Holt–Winters additive seasonal smoothing (α=0.3, β=0.1,
    * γ=0.2, weekly m=7) of daily order revenue, as one integer recurrence:
    * lₜ = (3(xₜ−s₍ₜ₋₇₎) + 7(lₜ₋₁+bₜ₋₁)) div 10, bₜ = (lₜ−lₜ₋₁+9bₜ₋₁)
    * div 10, sₜ = (2(xₜ−lₜ) + 8s₍ₜ₋₇₎) div 10, seasonal state
    * zero-initialized (indices warm up over the first cycles — both
    * engines replay the identical convention). The daily rollup stays
    * distributed; only the calendar-bounded series folds in one row
    * (q211/q219/q222's machinery), with the 7 seasonal slots as struct
    * fields so the fold state stays fixed-width. Forecast is the one-step
    * lₜ+bₜ+s₍ₜ₋₆₎ (the NEXT day's seasonal slot, untouched this step). */
  def q256HoltWinters(s: SparkSession, dir: String): DataFrame = {
    val sOld = hwSeason("acc", "(acc.i % 7)")
    val sNext = hwSeason("acc", "((acc.i + 1) % 7)")
    val lN = s"IF(acc.i = 0, x.cents, (3 * (x.cents - $sOld) + 7 * (acc.l + acc.b)) div 10)"
    val bN = s"IF(acc.i = 0, CAST(0 AS BIGINT), (($lN) - acc.l + 9 * acc.b) div 10)"
    val seasonN = s"(2 * (x.cents - ($lN)) + 8 * ($sOld)) div 10"
    val sFields = (0 to 6).map { j =>
      s"'s$j', IF(acc.i % 7 = $j, $seasonN, acc.s$j)"
    }.mkString(", ")
    val zeroState = (0 to 6).map(j => s"'s$j', CAST(0 AS BIGINT)").mkString(", ")
    t(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents"))
      .agg(sort_array(collect_list(struct(col("day"), col("cents")))).as("rows"))
      .select(explode(expr(
        s"""aggregate(rows,
           |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
           |    $zeroState, 'i', CAST(0 AS BIGINT),
           |    'out', CAST(array() AS ARRAY<STRUCT<day: BIGINT, cents: BIGINT,
           |      level: BIGINT, trend: BIGINT, season: BIGINT, forecast: BIGINT>>)),
           |  (acc, x) -> named_struct(
           |    'l', $lN,
           |    'b', $bN,
           |    $sFields,
           |    'i', acc.i + 1,
           |    'out', array_append(acc.out, named_struct(
           |      'day', x.day, 'cents', x.cents,
           |      'level', $lN, 'trend', $bN, 'season', $seasonN,
           |      'forecast', ($lN) + ($bN) + ($sNext)))),
           |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.cents").as("cents"),
        col("r.level").as("level"), col("r.trend").as("trend"),
        col("r.season").as("season"), col("r.forecast").as("forecast"))
      .orderBy("day")
  }

  val q256Sql: String = {
    val sOld = hwSeason("h", "(rr.rn - 1) % 7")
    val sNext = hwSeason("h", "rr.rn % 7")
    val lN = s"(3 * (rr.cents - $sOld) + 7 * (h.l + h.b)) // 10"
    val bN = s"(($lN) - h.l + 9 * h.b) // 10"
    val seasonN = s"(2 * (rr.cents - ($lN)) + 8 * ($sOld)) // 10"
    val sCols = (0 to 6).map { j =>
      s"CASE WHEN (rr.rn - 1) % 7 = $j THEN $seasonN ELSE h.s$j END AS s$j"
    }.mkString(",\n      |        ")
    val sZeros = (0 to 6).map(j => s"CAST(0 AS BIGINT) AS s$j").mkString(", ")
    s"""WITH RECURSIVE daily AS (
      |  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |rr AS (SELECT day, cents,
      |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM daily),
      |h AS (SELECT rn, day, cents, cents AS l, CAST(0 AS BIGINT) AS b,
      |        $sZeros,
      |        CAST(0 AS BIGINT) AS season,
      |        cents AS forecast
      |      FROM rr WHERE rn = 1
      |      UNION ALL
      |      SELECT rr.rn, rr.day, rr.cents,
      |        $lN AS l,
      |        $bN AS b,
      |        $sCols,
      |        $seasonN AS season,
      |        ($lN) + ($bN) + ($sNext) AS forecast
      |      FROM rr JOIN h ON rr.rn = h.rn + 1)
      |SELECT day, cents, l AS level, b AS trend, season, forecast
      |FROM h ORDER BY day""".stripMargin
  }

  // ------------------------------------------------- q257 mase eval

  /** Forecast evaluation — MASE of the q222 Holt one-step forecast over
    * daily order revenue: numerator Σ|xₜ − (lₜ₋₁+bₜ₋₁)|, denominator the
    * naive-walk Σ|xₜ − xₜ₋₁| (t ≥ 2), ratio in ppm via the shared
    * floor-div. Both error streams accumulate INSIDE the same fold that
    * replays the Holt recurrence — no lag window anywhere, and the fold
    * state is five integers regardless of series length. */
  def q257MaseEval(s: SparkSession, dir: String): DataFrame = {
    val lN = "IF(acc.i = 0, x.cents, (3 * x.cents + 7 * (acc.l + acc.b)) div 10)"
    val bN = s"IF(acc.i = 0, CAST(0 AS BIGINT), (($lN) - acc.l + 9 * acc.b) div 10)"
    t(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents"))
      .agg(sort_array(collect_list(struct(col("day"), col("cents")))).as("rows"))
      .select(expr(
        s"""aggregate(rows,
           |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
           |    'prev', CAST(0 AS BIGINT), 'i', CAST(0 AS BIGINT),
           |    'se', CAST(0 AS BIGINT), 'sd', CAST(0 AS BIGINT)),
           |  (acc, x) -> named_struct(
           |    'l', $lN,
           |    'b', $bN,
           |    'prev', x.cents,
           |    'i', acc.i + 1,
           |    'se', acc.se + IF(acc.i = 0, CAST(0 AS BIGINT),
           |            abs(x.cents - (acc.l + acc.b))),
           |    'sd', acc.sd + IF(acc.i = 0, CAST(0 AS BIGINT),
           |            abs(x.cents - acc.prev))),
           |  acc -> named_struct('n', acc.i, 'sum_abs_err', acc.se,
           |    'sum_abs_naive', acc.sd)) AS m""".stripMargin))
      .select(col("m.n").as("n"), col("m.sum_abs_err").as("sum_abs_err"),
        col("m.sum_abs_naive").as("sum_abs_naive"))
      .withColumn("mase_ppm", expr(Ops.floorDivScaledSql(
        "sum_abs_err", "sum_abs_naive", 1000000L)))
  }

  val q257Sql: String = {
    val fd = Ops.floorDivScaledSql("sum_abs_err", "sum_abs_naive", 1000000L, op = "//")
    s"""WITH RECURSIVE daily AS (
      |  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |rr AS (SELECT day, cents,
      |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM daily),
      |h AS (SELECT rn, cents, cents AS l, CAST(0 AS BIGINT) AS b,
      |        CAST(0 AS BIGINT) AS se, CAST(0 AS BIGINT) AS sd
      |      FROM rr WHERE rn = 1
      |      UNION ALL
      |      SELECT rr.rn, rr.cents,
      |        (3 * rr.cents + 7 * (h.l + h.b)) // 10 AS l,
      |        (((3 * rr.cents + 7 * (h.l + h.b)) // 10) - h.l + 9 * h.b) // 10 AS b,
      |        h.se + abs(rr.cents - (h.l + h.b)) AS se,
      |        h.sd + abs(rr.cents - h.cents) AS sd
      |      FROM rr JOIN h ON rr.rn = h.rn + 1),
      |last AS (SELECT rn AS n, se AS sum_abs_err, sd AS sum_abs_naive
      |         FROM h ORDER BY rn DESC LIMIT 1)
      |SELECT n, sum_abs_err, sum_abs_naive, CAST($fd AS BIGINT) AS mase_ppm
      |FROM last""".stripMargin
  }

  // ------------------------------------------------- q251 spearman rho

  /** Doubled average rank (2·avg-rank, integer even with ties) of `vcol`,
    * computed scalably: a value-frequency table (one map-side-combinable
    * aggregate), a distributed prefix sum of the counts under the value
    * order ([[graft.operators.Ranks.prefixSum]] — no single-partition
    * window), then u = 2·cnt_less + cnt_eq + 1 joined back by value.
    * Equals `2·RANK() + COUNT(*) OVER (PARTITION BY v) − 1` without ever
    * ranking row-by-row — the shuffle is on DISTINCT values. */
  private def doubledAvgRank(df: DataFrame, vcol: String, out: String): DataFrame = {
    import graft.operators.Ranks.prefixSum
    val vf = df.groupBy(vcol).agg(count(lit(1)).as("__c"))
    prefixSum(vf, "__c", "__cum", col(vcol))
      .withColumn(out,
        lit(2L) * (col("__cum") - col("__c")) + col("__c") + lit(1L))
      .select(col(vcol), col(out))
  }

  /** Statistics — exact Spearman rank correlation (tie-aware, as Pearson
    * over average ranks) between per-customer total spend and order
    * count. Ranks are doubled so ties stay integer; the five moment sums
    * ride ONE aggregate in DECIMAL(38,0); ρ² (sign-carrying, ppm) divides
    * num² by the two variance pieces in two floor steps so no product
    * exceeds 38 digits through sf0.1 (at larger n, center the ranks
    * first — the pieces themselves stay exact far longer). */
  def q251Spearman(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "orders")
      .select(col("o_custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("o_custkey")
      .agg(sum("cents").as("x"), count(lit(1)).as("y"))
    val withU = per
      .join(doubledAvgRank(per, "x", "ux"), "x")
      .join(doubledAvgRank(per.select("y"), "y", "uy"), "y")
    val g = withU.agg(
      count(lit(1)).as("n"), sum("ux").as("sux"), sum("uy").as("suy"),
      sum(expr("CAST(ux AS DECIMAL(38,0)) * ux")).as("suxx"),
      sum(expr("CAST(uy AS DECIMAL(38,0)) * uy")).as("suyy"),
      sum(expr("CAST(ux AS DECIMAL(38,0)) * uy")).as("suxy"))
    g.withColumn("num", expr("CAST(n AS DECIMAL(38,0)) * suxy - CAST(sux AS DECIMAL(38,0)) * suy"))
      .withColumn("dx", expr("CAST(n AS DECIMAL(38,0)) * suxx - CAST(sux AS DECIMAL(38,0)) * sux"))
      .withColumn("dy", expr("CAST(n AS DECIMAL(38,0)) * suyy - CAST(suy AS DECIMAL(38,0)) * suy"))
      // Spark's `div` yields LONG even on DECIMAL operands — route the
      // inner quotient back through DECIMAL(38,0) before the ppm rescale
      // or num²/dx · 10⁶ overflows int64 past sf≈0.05
      .withColumn("rho2_signed_ppm", expr(
        """CASE WHEN dx = 0 OR dy = 0 THEN CAST(NULL AS BIGINT)
          |  WHEN num < 0 THEN -CAST((CAST((num * num) div dx AS DECIMAL(38,0)) * 1000000) div dy AS BIGINT)
          |  ELSE CAST((CAST((num * num) div dx AS DECIMAL(38,0)) * 1000000) div dy AS BIGINT) END""".stripMargin))
      .select(col("n"), col("sux"), col("suy"),
        col("num").cast("long").as("num"), col("dx").cast("long").as("dx"),
        col("dy").cast("long").as("dy"), col("rho2_signed_ppm"))
  }

  val q251Sql: String =
    """WITH per AS (SELECT o_custkey,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |r AS (SELECT
      |    2 * RANK() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1 AS ux,
      |    2 * RANK() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1 AS uy
      |  FROM per),
      |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(ux) AS HUGEINT) AS sux, CAST(sum(uy) AS HUGEINT) AS suy,
      |    CAST(sum(CAST(ux AS HUGEINT) * ux) AS HUGEINT) AS suxx,
      |    CAST(sum(CAST(uy AS HUGEINT) * uy) AS HUGEINT) AS suyy,
      |    CAST(sum(CAST(ux AS HUGEINT) * uy) AS HUGEINT) AS suxy
      |  FROM r),
      |d AS (SELECT n, sux, suy,
      |    n * suxy - sux * suy AS num,
      |    n * suxx - sux * sux AS dx,
      |    n * suyy - suy * suy AS dy
      |  FROM g)
      |SELECT CAST(n AS BIGINT) AS n, CAST(sux AS BIGINT) AS sux,
      |  CAST(suy AS BIGINT) AS suy, CAST(num AS BIGINT) AS num,
      |  CAST(dx AS BIGINT) AS dx, CAST(dy AS BIGINT) AS dy,
      |  CASE WHEN dx = 0 OR dy = 0 THEN CAST(NULL AS BIGINT)
      |    WHEN num < 0 THEN -CAST((((num * num) // dx) * 1000000) // dy AS BIGINT)
      |    ELSE CAST((((num * num) // dx) * 1000000) // dy AS BIGINT) END
      |    AS rho2_signed_ppm
      |FROM d""".stripMargin

  // ------------------------------------------------- q252 mann-whitney U

  /** Statistics — exact tie-aware Mann–Whitney U comparing customer
    * account balances of two market segments. The combined ranking is the
    * same doubled-average-rank construction as q251 (value-frequency +
    * distributed prefix sum — no row-level rank window); 2·U₁ =
    * 2·R₁ − n₁(n₁+1) stays integer through every tie. */
  def q252MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment").as("seg"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
    val withU = c.join(doubledAvgRank(c, "v", "u"), "v")
    withU.agg(
        sum(when(col("seg") === "BUILDING", 1L).otherwise(0L)).as("n1"),
        sum(when(col("seg") === "MACHINERY", 1L).otherwise(0L)).as("n2"),
        sum(when(col("seg") === "BUILDING", col("u")).otherwise(0L)).as("r1_x2"))
      .withColumn("u1_x2", col("r1_x2") - col("n1") * (col("n1") + lit(1L)))
      .withColumn("u2_x2", lit(2L) * col("n1") * col("n2") - col("u1_x2"))
      .select("n1", "n2", "r1_x2", "u1_x2", "u2_x2")
  }

  val q252Sql: String =
    """WITH c AS (SELECT c_mktsegment AS seg,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |r AS (SELECT seg,
      |    2 * RANK() OVER (ORDER BY v) + COUNT(*) OVER (PARTITION BY v) - 1 AS u
      |  FROM c),
      |g AS (SELECT
      |    CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN seg = 'BUILDING' THEN u ELSE 0 END) AS BIGINT) AS r1_x2
      |  FROM r)
      |SELECT n1, n2, r1_x2,
      |  r1_x2 - n1 * (n1 + 1) AS u1_x2,
      |  2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS u2_x2
      |FROM g""".stripMargin

  // ------------------------------------------------- q253 cramers v

  /** Statistics — Cramér's V² effect size over the q231 contingency
    * (event_type × day-of-week): χ²-in-ppm is the sum of the per-cell
    * floor-div contributions (identical floor order in both engines),
    * V²_ppm = χ²_ppm / (n · min(r−1, c−1)). One extra metadata-scale
    * rollup on the broadcast-margin cell frame — nothing new shuffles. */
  def q253CramersV(s: SparkSession, dir: String): DataFrame = {
    val cells = q231ChiSquare(s, dir)
    cells.agg(
        countDistinct("event_type").as("nr"),
        countDistinct("dow").as("nc"),
        max("nt").as("n_total"),
        sum("contrib_ppm").as("chi2_ppm"))
      .withColumn("k", least(col("nr") - 1L, col("nc") - 1L))
      .withColumn("v2_ppm", expr(Ops.floorDivScaledSql(
        "chi2_ppm", "n_total * k", 1L)))
      .select("nr", "nc", "k", "n_total", "chi2_ppm", "v2_ppm")
  }

  val q253Sql: String = {
    val fd = Ops.floorDivScaledSql(
      "CAST(o * nt - rt * ct AS HUGEINT) * CAST(o * nt - rt * ct AS HUGEINT)",
      "CAST(rt AS HUGEINT) * CAST(ct AS HUGEINT) * CAST(nt AS HUGEINT)",
      1000000L, op = "//")
    val fd2 = Ops.floorDivScaledSql("chi2_ppm", "n_total * k", 1L, op = "//")
    s"""WITH e AS (SELECT event_type,
      |    (CAST(epoch_us(ts) AS BIGINT) // 86400000000) % 7 AS dow
      |  FROM events),
      |cells AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
      |          FROM e GROUP BY 1, 2),
      |rm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |cm AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |nm AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM cells),
      |contrib AS (SELECT event_type, dow, nt, CAST($fd AS BIGINT) AS contrib_ppm
      |  FROM cells JOIN rm USING (event_type) JOIN cm USING (dow) CROSS JOIN nm),
      |g AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
      |    CAST(count(DISTINCT dow) AS BIGINT) AS nc,
      |    CAST(max(nt) AS BIGINT) AS n_total,
      |    CAST(sum(contrib_ppm) AS BIGINT) AS chi2_ppm
      |  FROM contrib),
      |k2 AS (SELECT nr, nc, LEAST(nr - 1, nc - 1) AS k, n_total, chi2_ppm FROM g)
      |SELECT nr, nc, k, n_total, chi2_ppm, CAST($fd2 AS BIGINT) AS v2_ppm
      |FROM k2""".stripMargin
  }

  // ------------------------------------------------- q254 hhi

  /** Market concentration — Herfindahl–Hirschman index of supplier
    * revenue within each supplier nation: per-(nation, supplier) revenue
    * is one map-side-combinable aggregate, shares floor to ppm against
    * the broadcast per-nation total, HHI = Σ share² / 10⁶. The nation
    * dim broadcasts; the only fact shuffle is the revenue groupBy. */
  def q254Hhi(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ec"))
    val su = broadcast(t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").cast("long").as("nation")))
    val rev = li.join(su, col("l_suppkey") === col("s_suppkey"))
      .groupBy("nation", "s_suppkey").agg(sum("ec").as("rev"))
    val tot = rev.groupBy("nation").agg(sum("rev").as("total"))
    rev.join(broadcast(tot), "nation")
      .withColumn("share_ppm", expr(Ops.floorDivScaledSql("rev", "total", 1000000L)))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_suppliers"), max("total").as("total_cents"),
        sum(col("share_ppm") * col("share_ppm")).as("sum_sq"))
      .withColumn("hhi_ppm", expr("sum_sq div 1000000L"))
      .select("nation", "n_suppliers", "total_cents", "hhi_ppm")
      .orderBy("nation")
  }

  val q254Sql: String = {
    val fd = Ops.floorDivScaledSql("rev", "total", 1000000L, op = "//")
    s"""WITH rev AS (SELECT CAST(s_nationkey AS BIGINT) AS nation, s_suppkey,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT nation, CAST(sum(rev) AS BIGINT) AS total FROM rev GROUP BY 1),
      |sh AS (SELECT nation, total, CAST($fd AS BIGINT) AS share_ppm
      |  FROM rev JOIN tot USING (nation))
      |SELECT nation, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  CAST(max(total) AS BIGINT) AS total_cents,
      |  CAST(sum(share_ppm * share_ppm) AS BIGINT) // 1000000 AS hhi_ppm
      |FROM sh GROUP BY nation ORDER BY nation""".stripMargin
  }

  // ------------------------------------------------- q255 theil-sen

  /** Robust regression — exact Theil–Sen slope of daily order revenue:
    * the median over all pairwise day slopes. The pair frame is
    * calendar-bounded (one row per day before pairing — q238's BNLJ
    * shape); each slope floors to ppm-cents/day; the median is the exact
    * rank-⌈n/2⌉ order statistic found by [[graft.operators.Ranks
    * .globalRank]] — a distributed sort, never a single-partition
    * window. */
  def q255TheilSen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    val daily = t(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("c"))
    val pairs = daily.select(col("day").as("da"), col("c").as("ca"))
      .join(broadcast(daily.select(col("day").as("db"), col("c").as("cb"))),
        col("da") < col("db"))
      .withColumn("slope_ppm", expr(Ops.floorDivScaledSql(
        "cb - ca", "db - da", 1000000L)))
    val n = broadcast(pairs.agg(count(lit(1)).as("n_pairs")))
    globalRank(pairs, "rn", col("slope_ppm"), col("da"), col("db"))
      .crossJoin(n)
      .filter(expr("rn = (n_pairs + 1L) div 2L"))
      .select(col("n_pairs"), col("slope_ppm").as("median_slope_ppm"))
  }

  val q255Sql: String = {
    val fd = Ops.floorDivScaledSql("cb - ca", "db - da", 1000000L, op = "//")
    s"""WITH daily AS (SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |p AS (SELECT a.day AS da, b.day AS db, a.c AS ca, b.c AS cb,
      |    CAST($fd AS BIGINT) AS slope_ppm
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |r AS (SELECT slope_ppm,
      |    CAST(row_number() OVER (ORDER BY slope_ppm, da, db) AS BIGINT) AS rn,
      |    CAST(count(*) OVER () AS BIGINT) AS n_pairs
      |  FROM p)
      |SELECT n_pairs, slope_ppm AS median_slope_ppm
      |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin
  }

  // ------------------------------------------------------------------

  // -------------------------------------- q292 group-wise OLS trend

  /** Trend analytics — per-nation WEEKLY-revenue OLS line, closed form,
    * as EXACT integer pieces: over the (nation, week, Σcents) rollup,
    * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) and
    * intercept = (ΣyΣx² − ΣxΣxy) / same-denominator — emitted as
    * (num, den) BIGINT pairs, never divided, because Spark's `div`
    * truncates toward zero while DuckDB's `//` floors (they disagree
    * exactly when a trend is NEGATIVE — the interesting case). Two
    * aggregations total: one (nation, week) rollup, one per-nation sum
    * of products — both map-side combinable. x is REBASED to
    * week − 1300 (a constant: the data starts 1995 ≈ week 1304), which
    * leaves the slope identical and the intercept anchored at week 1300
    * — without it Σy·Σx² crosses int64 at sf0.1 (Σy ≈ 9e10 cents/nation
    * × Σx² ≈ 9.4e8 un-rebased). The deterministic-by-pieces counterpart
    * of q255's Theil–Sen. */
  def q292OlsTrend(s: SparkSession, dir: String): DataFrame = {
    val wk = t(s, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 604800000000 - 1300L")
          .as("x"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      .join(t(s, dir, "customer")
        .select(col("c_custkey").as("ck"), col("c_nationkey").as("nation")), "ck")
      .groupBy("nation", "x").agg(sum("cents").as("y"))
    wk.groupBy("nation").agg(
        count(lit(1)).as("n_weeks"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("nation"), col("n_weeks"),
        (col("n_weeks") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_weeks") * col("sxx") - col("sx") * col("sx")).as("den"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("icept_num"))
      .orderBy("nation")
  }

  val q292Sql: String =
    """WITH wk AS (SELECT c.c_nationkey AS nation,
      |    CAST(epoch_us(o.o_orderdate) AS BIGINT) // 604800000000 - 1300 AS x,
      |    CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |ag AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_weeks,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |       FROM wk GROUP BY 1)
      |SELECT nation, n_weeks,
      |  CAST(n_weeks * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n_weeks * sxx - sx * sx AS BIGINT) AS den,
      |  CAST(sy * sxx - sx * sxy AS BIGINT) AS icept_num
      |FROM ag ORDER BY nation""".stripMargin

  // --------------------------------- q297 Markov removal-effect attribution

  /** Attribution — MARKOV-CHAIN removal effect (Anderl et al. 2016), the
    * data-driven model beyond q185's last-touch and q191's linear split.
    * Journeys are per-user event runs terminated by a purchase (`conv`)
    * or stream end (`null`); transitions (`start`→touch, touch→touch,
    * last-touch→`conv`/`null`) are counted once, then the absorbing-chain
    * conversion probability from `start` is computed by 15 rounds of
    * integer power iteration (p scaled 1e12, floor-div — both engines run
    * the IDENTICAL recurrence, so the gate is exact, not "converged").
    * A channel's removal effect re-runs the solve on the chain with that
    * channel's node deleted (in-edges redirected to `null`, per-state
    * denominators preserved); credit = conversion cents × removal share.
    * 100 TB shape: the scan + one (from,to) count aggregate is the only
    * data-scale work; the 6-variant solve iterates a ≤36-row frame
    * (localCheckpointed per round, q62's pagerank discipline). */
  def q297MarkovAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val SCALE = 1000000000000L
    val wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("j", coalesce(
        sum(when(col("event_type") === "purchase", 1L))
          .over(wo.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("prev_type", lag("event_type", 1).over(wo))
      .withColumn("prev_j", lag("j", 1).over(wo))
      .withColumn("is_last", lead("event_id", 1).over(wo).isNull)
    // a purchase increments j for every LATER row, so prev_j = j implies
    // prev_type is a touch of the same journey; anything else => 'start'
    val into = ev.select(
      when(col("prev_j") === col("j"), col("prev_type"))
        .otherwise(lit("start")).as("f"),
      when(col("event_type") === "purchase", lit("conv"))
        .otherwise(col("event_type")).as("t"))
    val terminal = ev.filter(col("is_last") && col("event_type") =!= "purchase")
      .select(col("event_type").as("f"), lit("null").as("t"))
    val tcnt = into.unionByName(terminal).groupBy("f", "t")
      .agg(count(lit(1)).as("cnt"))
    import s.implicits._
    val variants = Seq("base", "click", "error", "signup", "view").toDF("variant")
    // node removal: drop the channel's outgoing rows, redirect its
    // in-edges to 'null' — denominators per (variant, from) are preserved
    val trans = tcnt.crossJoin(variants)
      .filter(col("variant") === "base" || col("f") =!= col("variant"))
      .select(col("variant"), col("f"),
        when(col("variant") =!= "base" && col("t") === col("variant"),
          lit("null")).otherwise(col("t")).as("t"),
        col("cnt"))
      .groupBy("variant", "f", "t").agg(sum("cnt").as("cnt"))
      .localCheckpoint() // feeds 15 solve rounds + the denominators
    val tot = trans.groupBy("variant", "f").agg(sum("cnt").as("tot"))
      .localCheckpoint()
    var p = tot.select(col("variant"), col("f").as("state"), lit(0L).as("p"))
    for (_ <- 1 to 15) {
      val num = trans
        .join(p.select(col("variant"), col("state").as("t"),
          col("p").as("pb")), Seq("variant", "t"), "left")
        .withColumn("c",
          when(col("t") === "conv", lit(SCALE))
            .when(col("t") === "null", lit(0L))
            .otherwise(coalesce(col("pb"), lit(0L))))
        .groupBy("variant", "f").agg(sum(col("cnt") * col("c")).as("num"))
      p = num.join(tot, Seq("variant", "f"))
        .select(col("variant"), col("f").as("state"),
          expr("num div tot").as("p"))
        .localCheckpoint() // constant plan per round (q62's discipline)
    }
    val base = broadcast(p
      .filter(col("variant") === "base" && col("state") === "start")
      .select(col("p").as("p_base")))
    val convCents = broadcast(ev.filter(col("event_type") === "purchase")
      .agg(sum("cents").as("conv_cents")))
    val rem = variants.filter(col("variant") =!= "base")
      .select(col("variant").as("channel"))
      .join(p.filter(col("state") === "start")
        .select(col("variant").as("channel"), col("p").as("p_rem")),
        Seq("channel"), "left")
      .crossJoin(base)
      .select(col("channel"), coalesce(col("p_rem"), lit(0L)).as("p_rem"),
        col("p_base"))
      .withColumn("removal_ppm",
        lit(1000000L) - expr("p_rem * 1000000 div p_base"))
    rem.crossJoin(broadcast(rem.agg(sum("removal_ppm").as("sum_re"))))
      .crossJoin(convCents)
      .select(col("channel"),
        expr("p_base div 1000000").as("p_base_ppm"),
        expr("p_rem div 1000000").as("p_removed_ppm"),
        col("removal_ppm"),
        expr("conv_cents * removal_ppm div sum_re").as("credited_cents"))
      .orderBy("channel")
  }

  val q297Sql: String = {
    // trans/tot feed every unrolled round — MATERIALIZED (q62's rule)
    def iter(prev: Int, cur: Int): String =
      s"""p$cur AS MATERIALIZED (SELECT tr.variant, tr.f AS state,
         |    CAST(sum(tr.cnt * CASE WHEN tr.t = 'conv' THEN 1000000000000
         |                           WHEN tr.t = 'null' THEN 0
         |                           ELSE COALESCE(pp.p, 0) END)
         |         // min(tt.tot) AS BIGINT) AS p
         |  FROM trans tr JOIN tot tt ON tt.variant = tr.variant AND tt.f = tr.f
         |  LEFT JOIN p$prev pp ON pp.variant = tr.variant AND pp.state = tr.t
         |  GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to 15).map(i => iter(i - 1, i)).mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |o1 AS (SELECT *,
       |    COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS j
       |  FROM e),
       |o AS MATERIALIZED (SELECT *,
       |    lag(event_type) OVER w AS prev_type,
       |    lag(j) OVER w AS prev_j,
       |    lead(event_id) OVER w IS NULL AS is_last
       |  FROM o1 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |tr0 AS (SELECT CASE WHEN prev_j = j THEN prev_type ELSE 'start' END AS f,
       |          CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS t
       |        FROM o
       |        UNION ALL
       |        SELECT event_type, 'null' FROM o
       |        WHERE is_last AND event_type <> 'purchase'),
       |tcnt AS (SELECT f, t, CAST(count(*) AS BIGINT) AS cnt FROM tr0 GROUP BY 1, 2),
       |vars AS (SELECT * FROM (VALUES ('base'), ('click'), ('error'), ('signup'), ('view')) AS v(variant)),
       |trans AS MATERIALIZED (SELECT variant, f,
       |    CASE WHEN variant <> 'base' AND t = variant THEN 'null' ELSE t END AS t,
       |    CAST(sum(cnt) AS BIGINT) AS cnt
       |  FROM tcnt CROSS JOIN vars WHERE variant = 'base' OR f <> variant
       |  GROUP BY 1, 2, 3),
       |tot AS MATERIALIZED (SELECT variant, f, CAST(sum(cnt) AS BIGINT) AS tot
       |  FROM trans GROUP BY 1, 2),
       |p0 AS (SELECT variant, f AS state, CAST(0 AS BIGINT) AS p FROM tot),
       |$rounds,
       |base AS (SELECT p AS p_base FROM p15 WHERE variant = 'base' AND state = 'start'),
       |cc AS (SELECT CAST(sum(cents) AS BIGINT) AS conv_cents FROM e WHERE event_type = 'purchase'),
       |rem AS (SELECT v.variant AS channel, COALESCE(pr.p, 0) AS p_rem, b.p_base,
       |    1000000 - (COALESCE(pr.p, 0) * 1000000 // b.p_base) AS removal_ppm
       |  FROM vars v
       |  LEFT JOIN (SELECT variant, p FROM p15 WHERE state = 'start') pr
       |    ON pr.variant = v.variant
       |  CROSS JOIN base b
       |  WHERE v.variant <> 'base'),
       |ssum AS (SELECT CAST(sum(removal_ppm) AS BIGINT) AS sum_re FROM rem)
       |SELECT channel,
       |  CAST(p_base // 1000000 AS BIGINT) AS p_base_ppm,
       |  CAST(p_rem // 1000000 AS BIGINT) AS p_removed_ppm,
       |  CAST(removal_ppm AS BIGINT) AS removal_ppm,
       |  CAST(conv_cents * removal_ppm // sum_re AS BIGINT) AS credited_cents
       |FROM rem CROSS JOIN ssum CROSS JOIN cc ORDER BY channel""".stripMargin
  }

  // ------------------------------------------- q298 Shapley attribution

  /** Attribution — EXACT Shapley values over the 4-channel cooperative
    * game (the third classical model next to q185/q191/q296): each
    * purchase contributes its trailing-7-day channel SET (a 4-bit mask
    * from four bool-or range windows, q191's frame), the characteristic
    * function v(S) = conversions/cents whose mask ⊆ S, and
    * φ_channel × 24 = Σ_{S∌i} |S|!·(3−|S|)!·[v(S∪i) − v(S)] — exact
    * integers (4! = 24 clears every denominator), no sampling. 100 TB
    * shape: one events scan + windows + a ≤15-row mask rollup; the
    * 16-subset game is constant-size joins. φ24 sums to 24·v(full) —
    * efficiency axiom as a checkable invariant. */
  def q298Shapley(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-604800000000L, -1L)
    val types = Seq("click" -> 1L, "error" -> 2L, "signup" -> 4L, "view" -> 8L)
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val masked = types.foldLeft(ev) { case (df, (tpe, bit)) =>
      df.withColumn(s"b_$tpe",
        when(max(when(col("event_type") === tpe, 1)).over(w) === 1, lit(bit))
          .otherwise(lit(0L)))
    }
    val conv = masked.filter(col("event_type") === "purchase")
      .withColumn("mask", types.map(tb => col(s"b_${tb._1}")).reduce(_ + _))
      .filter(col("mask") > 0)
      .groupBy("mask").agg(count(lit(1)).as("n"), sum("cents").as("cents"))
    val subsets = s.range(16).select(col("id").as("set"))
    val v = subsets
      .join(conv, col("mask").bitwiseAND(col("set")) === col("mask"), "left")
      .groupBy("set").agg(coalesce(sum("n"), lit(0L)).as("vn"),
        coalesce(sum("cents"), lit(0L)).as("vc"))
    import s.implicits._
    val chans = types.toDF("channel", "bit")
    val v2 = v.select(col("set").as("set2"), col("vn").as("vn2"),
      col("vc").as("vc2"))
    chans.join(v, col("set").bitwiseAND(col("bit")) === 0)
      .withColumn("pc", expr(
        "CAST((set % 2) + ((set div 2) % 2) + ((set div 4) % 2) + ((set div 8) % 2) AS BIGINT)"))
      .withColumn("w", when(col("pc") === 0 || col("pc") === 3, lit(6L))
        .otherwise(lit(2L)))
      .withColumn("set2", col("set") + col("bit"))
      .join(v2, "set2")
      .groupBy("channel")
      .agg(sum(col("w") * (col("vn2") - col("vn"))).as("phi24_n"),
        sum(col("w") * (col("vc2") - col("vc"))).as("phi24_cents"))
      .orderBy("channel")
  }

  val q298Sql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |m AS (SELECT *,
      |    (CASE WHEN max(CASE WHEN event_type = 'click' THEN 1 END) OVER tw = 1 THEN 1 ELSE 0 END)
      |    + (CASE WHEN max(CASE WHEN event_type = 'error' THEN 1 END) OVER tw = 1 THEN 2 ELSE 0 END)
      |    + (CASE WHEN max(CASE WHEN event_type = 'signup' THEN 1 END) OVER tw = 1 THEN 4 ELSE 0 END)
      |    + (CASE WHEN max(CASE WHEN event_type = 'view' THEN 1 END) OVER tw = 1 THEN 8 ELSE 0 END) AS mask
      |  FROM e WINDOW tw AS (PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)),
      |conv AS (SELECT mask, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
      |  FROM m WHERE event_type = 'purchase' AND mask > 0 GROUP BY 1),
      |subsets AS (SELECT CAST(range AS BIGINT) AS s FROM range(0, 16)),
      |v AS (SELECT s,
      |    CAST(COALESCE(sum(n), 0) AS BIGINT) AS vn,
      |    CAST(COALESCE(sum(cents), 0) AS BIGINT) AS vc
      |  FROM subsets LEFT JOIN conv ON (mask & s) = mask GROUP BY 1),
      |ch AS (SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)), ('error', 2),
      |    ('signup', 4), ('view', 8)) AS t(channel, bit)),
      |pairs AS (SELECT ch.channel, v.vn, v.vc, v2.vn AS vn2, v2.vc AS vc2,
      |    CASE WHEN ((v.s % 2) + ((v.s // 2) % 2) + ((v.s // 4) % 2) + ((v.s // 8) % 2)) IN (0, 3)
      |         THEN 6 ELSE 2 END AS w
      |  FROM ch JOIN v ON (v.s & ch.bit) = 0
      |  JOIN v v2 ON v2.s = v.s + ch.bit)
      |SELECT channel, CAST(sum(w * (vn2 - vn)) AS BIGINT) AS phi24_n,
      |  CAST(sum(w * (vc2 - vc)) AS BIGINT) AS phi24_cents
      |FROM pairs GROUP BY 1 ORDER BY channel""".stripMargin

  // ------------------------------------------ q300 AMOC change-point

  /** Monitoring — retrospective single change-point (At-Most-One-Change)
    * over daily order revenue via the exact CUSUM-contrast estimator:
    * k* = argmax_{k<n} |n·S_k − k·S_n| with S_k the prefix cent sum in
    * day order. The offline twin of q230's sequential alarm — q230 asks
    * "alarm now?", this asks "where did the level shift?". Shape: the
    * daily rollup is the only data-scale shuffle; the statistic is one
    * prefix-sum window over the ≤2.5k-day series plus a max(struct)
    * argmax (ties → earliest k via the negated-k struct field). All
    * BIGINT exact: n·S_k ≤ 2.5e3 · 3e12 ≈ 8e15 at sf0.1. */
  def q300ChangePoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents"))
    val tot = broadcast(daily.agg(count(lit(1)).as("n"), sum("cents").as("sn")))
    daily
      .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("sk", sum("cents").over(Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(tot)
      .filter(col("k") < col("n"))
      .withColumn("d", abs(col("n") * col("sk") - col("k") * col("sn")))
      .agg(max(struct(col("d"), (-col("k")).as("negk"), col("day"),
        col("sk"), col("n"), col("sn"))).as("b"))
      .select(col("b.n").as("n_days"), col("b.day").as("split_day"),
        (-col("b.negk")).as("k_star"), col("b.d").as("d_star"),
        expr("b.sk div (-b.negk)").as("mean_before"),
        expr("(b.sn - b.sk) div (b.n + b.negk)").as("mean_after"))
      .withColumn("shift_cents", col("mean_after") - col("mean_before"))
  }

  val q300Sql: String =
    """WITH daily AS (
      |  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sn FROM daily),
      |pre AS (SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
      |    CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sk
      |  FROM daily),
      |sc AS (SELECT day, k, sk, n, sn, abs(n * sk - k * sn) AS d
      |  FROM pre CROSS JOIN tot WHERE k < n),
      |best AS (SELECT * FROM sc ORDER BY d DESC, k ASC LIMIT 1)
      |SELECT n AS n_days, day AS split_day, k AS k_star, d AS d_star,
      |  CAST(sk // k AS BIGINT) AS mean_before,
      |  CAST((sn - sk) // (n - k) AS BIGINT) AS mean_after,
      |  CAST((sn - sk) // (n - k) - sk // k AS BIGINT) AS shift_cents
      |FROM best""".stripMargin

  // ------------------------------------ q305 sweep-line peak concurrency

  /** Behavioral — PEAK CONCURRENT SESSIONS via the interval sweep-line:
    * q192's gap-based 12 h sessions become (+1 at start, −1 at end)
    * boundary events, concurrency is the inclusive prefix sum of the
    * deltas under the (ts, starts-before-ends, user, session) total
    * order, and the answer is one argmax row — peak concurrency and the
    * EARLIEST instant it is reached. The capacity-planning readout
    * ("how many users are ever on at once") no per-interval join can
    * answer without quadratic overlap pairs. Scale shape: the sweep runs
    * on [[graft.operators.Ranks.prefixSum]]'s two-pass distributed scan
    * (range partition → local window → broadcast offsets), so no
    * single-partition window ever materializes; touching sessions
    * (end == another's start) count as concurrent (starts order first —
    * declared). */
  def q305PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wcum = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("brk",
        when(col("ts_us") - lag("ts_us", 1).over(wo) <= 43200000000L, 0L)
          .otherwise(1L))
      .withColumn("sid", sum("brk").over(wcum))
      .groupBy("user_id", "sid")
      .agg(min("ts_us").as("s"), max("ts_us").as("e"))
      .localCheckpoint() // feeds boundaries AND the n_sessions scalar
    val bounds = sess.select(col("s").as("ts"), lit(0L).as("kind"),
        lit(1L).as("delta"), col("user_id"), col("s").as("ss"))
      .unionByName(sess.select(col("e").as("ts"), lit(1L).as("kind"),
        lit(-1L).as("delta"), col("user_id"), col("s").as("ss")))
    val swept = graft.operators.Ranks.prefixSum(bounds, "delta", "conc",
      col("ts"), col("kind"), col("user_id"), col("ss"))
    swept.agg(max(struct(col("conc"), (-col("ts")).as("negts"))).as("b"))
      .crossJoin(broadcast(sess.agg(count(lit(1)).as("n_sessions"))))
      .select(col("n_sessions"), col("b.conc").as("peak_concurrency"),
        (-col("b.negts")).as("peak_at_us"))
  }

  val q305Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us
      |  FROM events),
      |o AS (SELECT user_id, us,
      |        CASE WHEN lag(us) OVER w IS NULL
      |               OR us - lag(us) OVER w > 43200000000 THEN 1 ELSE 0 END AS brk
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |g AS (SELECT user_id, us, CAST(sum(brk) OVER (PARTITION BY user_id
      |        ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |      FROM o),
      |sess AS (SELECT user_id, sid, CAST(min(us) AS BIGINT) AS s,
      |           CAST(max(us) AS BIGINT) AS e
      |         FROM g GROUP BY 1, 2),
      |b AS (SELECT s AS ts, 0 AS kind, 1 AS delta, user_id, s AS ss FROM sess
      |      UNION ALL SELECT e, 1, -1, user_id, s FROM sess),
      |c AS (SELECT ts, CAST(sum(delta) OVER (ORDER BY ts, kind, user_id, ss)
      |        AS BIGINT) AS conc
      |      FROM b),
      |best AS (SELECT conc, ts FROM c ORDER BY conc DESC, ts ASC LIMIT 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM sess)
      |SELECT n_sessions, conc AS peak_concurrency, CAST(ts AS BIGINT) AS peak_at_us
      |FROM best CROSS JOIN n""".stripMargin

  // -------------------------------------- q308 Croston intermittent demand

  /** Forecasting — CROSTON'S METHOD (1972) for INTERMITTENT demand, the
    * forecast the SES/Holt/Holt–Winters family (q219/q222/q256) gets
    * wrong on sparse series: for each sampled part (partkey ≡ 0 mod 97),
    * two exponential smoothers run over the DEMAND EVENTS only — one on
    * the non-zero weekly quantities (z), one on the inter-demand
    * intervals (p, centi-weeks) — and the demand RATE is z/p. α = 0.2 in
    * exact integer arithmetic ((2·x + 8·s) div 10), per-part fold over
    * the calendar-bounded weekly frame (q230's machinery — the weekly
    * rollup stays distributed, the fold is per-part and
    * weeks-bounded); the oracle replays it as a per-part recursive CTE.
    * Init: z₁ = first demand, p₁ = first demand's week index. */
  def q308Croston(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "lineitem")
      .filter(pmod(col("l_partkey"), lit(97)) === 0)
      .select(col("l_partkey").as("part"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 604800000000").as("w"),
        expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)").as("q"))
      .groupBy("part", "w").agg(sum("q").as("q"))
    val w0 = broadcast(d.agg(min("w").as("w0")))
    d.crossJoin(w0)
      .select(col("part"), (col("w") - col("w0") + 1L).as("widx"), col("q"))
      .groupBy("part")
      .agg(sort_array(collect_list(struct(col("widx"), col("q")))).as("rows"))
      .select(col("part"), expr(
        """aggregate(rows,
          |  named_struct('n', CAST(0 AS BIGINT), 'z', CAST(0 AS BIGINT),
          |    'p', CAST(0 AS BIGINT), 'prev', CAST(0 AS BIGINT)),
          |  (acc, x) -> IF(acc.n = 0,
          |    named_struct('n', CAST(1 AS BIGINT), 'z', x.q,
          |      'p', x.widx * 100, 'prev', x.widx),
          |    named_struct('n', acc.n + 1,
          |      'z', (2 * x.q + 8 * acc.z) div 10,
          |      'p', (2 * (x.widx - acc.prev) * 100 + 8 * acc.p) div 10,
          |      'prev', x.widx)))""".stripMargin).as("st"))
      .select(col("part"), col("st.n").as("n_demand_weeks"),
        col("st.z").as("z_hat_centi"), col("st.p").as("p_hat_centiweeks"),
        expr("st.z * 1000000 div st.p").as("rate_ppm"))
      .orderBy("part")
  }

  val q308Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT l_partkey AS part,
      |    CAST(epoch_us(l_shipdate) AS BIGINT) // 604800000000 AS w,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem WHERE l_partkey % 97 = 0 GROUP BY 1, 2),
      |w0 AS (SELECT CAST(min(w) AS BIGINT) AS w0 FROM d),
      |rr AS (SELECT part, CAST(w - w0 + 1 AS BIGINT) AS widx, q,
      |         CAST(row_number() OVER (PARTITION BY part ORDER BY w) AS BIGINT) AS rn
      |       FROM d CROSS JOIN w0),
      |c AS (SELECT part, rn, widx, q, CAST(1 AS BIGINT) AS n, q AS z,
      |        widx * 100 AS p, widx AS prev
      |      FROM rr WHERE rn = 1
      |      UNION ALL
      |      SELECT rr.part, rr.rn, rr.widx, rr.q, c.n + 1,
      |        (2 * rr.q + 8 * c.z) // 10,
      |        (2 * (rr.widx - c.prev) * 100 + 8 * c.p) // 10,
      |        rr.widx
      |      FROM rr JOIN c ON rr.part = c.part AND rr.rn = c.rn + 1),
      |fin AS (SELECT c.* FROM c
      |  JOIN (SELECT part, max(rn) AS mx FROM c GROUP BY 1) m
      |    ON c.part = m.part AND c.rn = m.mx)
      |SELECT part, n AS n_demand_weeks, z AS z_hat_centi,
      |  p AS p_hat_centiweeks, CAST(z * 1000000 // p AS BIGINT) AS rate_ppm
      |FROM fin ORDER BY part""".stripMargin

  // --------------------------------------- q309 Poisson bootstrap CI

  /** Statistics at scale — the POISSON BOOTSTRAP (the distributed
    * bootstrap: each row enters each replicate with Poisson(1)
    * multiplicity, so resampling needs NO global n and parallelizes
    * embarrassingly), DERANDOMIZED: multiplicity comes from the portable
    * 48-bit md5 hash of (order id, replicate) against the hard-coded
    * integer Poisson(1) CDF thresholds (×2⁴⁸, capped at 6). 64
    * replicates of the mean order value in exact cents; the CI is read
    * off the sorted replicate means at declared order-statistic
    * positions (4/32/61 of 64 ≈ p05/p50/p95). 100 TB shape: the grid is
    * one broadcast 64-row cross and a (replicate) count aggregate — no
    * reshuffle of the fact table, no RNG, bit-replayable. */
  def q309BootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val ts = Seq(103548857136060L, 207097714272121L, 258872142840152L,
      276130285696162L, 280444821410164L, 281307728552965L)
    val o = t(s, dir, "orders").select(col("o_orderkey").as("id"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val reps = broadcast(s.range(64).select(col("id").as("b")))
    val h = conv(substring(md5(concat_ws("_", col("id"), col("b"))), 1, 12),
      16, 10).cast("long")
    val m = ts.zipWithIndex.foldRight(lit(6L): org.apache.spark.sql.Column) {
      case ((thr, k), rest) => when(col("h") < thr, k.toLong).otherwise(rest)
    }
    // the 20 MB orders file scans as ONE input split, and the ×64 explode
    // inherits it — round-robin the 150k base rows first (q38's pattern)
    // so the 9.6M md5 evaluations spread across every core (11.4 s → ~1 s)
    val rep = o.repartition(s.sessionState.conf.numShufflePartitions)
      .crossJoin(reps)
      .withColumn("h", h)
      .withColumn("m", m)
      .groupBy("b")
      .agg(sum(col("m") * col("cents")).as("num"), sum("m").as("den"))
      .select(expr("num div den").as("mean_b"))
    val point = broadcast(o.agg(count(lit(1)).as("n_orders"),
      expr("sum(cents) div count(*)").as("mean_cents")))
    rep.agg(sort_array(collect_list(col("mean_b"))).as("ms"))
      .crossJoin(point)
      .select(col("n_orders"), col("mean_cents"),
        lit(64L).as("n_replicates"),
        expr("element_at(ms, 4)").as("boot_p05"),
        expr("element_at(ms, 32)").as("boot_p50"),
        expr("element_at(ms, 61)").as("boot_p95"))
  }

  val q309Sql: String =
    """WITH o AS (SELECT o_orderkey AS id,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |reps AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, 64)),
      |g AS (SELECT o.cents, reps.b,
      |    CAST(('0x' || substring(md5(CAST(o.id AS VARCHAR) || '_' ||
      |      CAST(reps.b AS VARCHAR)), 1, 12)) AS BIGINT) AS h
      |  FROM o CROSS JOIN reps),
      |m AS (SELECT b, cents,
      |    CASE WHEN h < 103548857136060 THEN 0
      |         WHEN h < 207097714272121 THEN 1
      |         WHEN h < 258872142840152 THEN 2
      |         WHEN h < 276130285696162 THEN 3
      |         WHEN h < 280444821410164 THEN 4
      |         WHEN h < 281307728552965 THEN 5
      |         ELSE 6 END AS m
      |  FROM g),
      |rep AS (SELECT b, CAST(sum(m * cents) // sum(m) AS BIGINT) AS mean_b
      |        FROM m GROUP BY 1),
      |ord AS (SELECT mean_b, row_number() OVER (ORDER BY mean_b) AS rn FROM rep),
      |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
      |         CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents FROM o)
      |SELECT n_orders, mean_cents, CAST(64 AS BIGINT) AS n_replicates,
      |  (SELECT mean_b FROM ord WHERE rn = 4) AS boot_p05,
      |  (SELECT mean_b FROM ord WHERE rn = 32) AS boot_p50,
      |  (SELECT mean_b FROM ord WHERE rn = 61) AS boot_p95
      |FROM pt""".stripMargin

  // ------------------------------------------------ q310 Welch's t-test

  /** Stats — per-priority Welch two-sample t-test of order value against
    * the REST of the book (unequal variances — the honest default when
    * comparing a segment to its complement). ONE aggregation pass builds
    * exact integer (n, Σx, Σx²) per priority in whole dollars (cents div
    * 100 — truncation is floor for the non-negative prices, identical on
    * both engines; Σx² accumulates as DECIMAL(38,0) / HUGEINT so the
    * square sum cannot wrap at any realistic row count), the 1-row
    * global broadcasts back, and t / Welch–Satterthwaite df evaluate in
    * IEEE doubles FROM those exact integers with formula text identical
    * on both engines: +,−,×,÷,sqrt are correctly rounded, so the doubles
    * are bit-identical (a STRONGER guarantee than the q55 ln-quantization
    * discipline) and the ppm quantization gates safely. Caveat on the
    * bit-identical claim: it additionally needs the integer→double CASTs
    * to be one correct rounding each, which holds for Σx² < 2⁶⁴ (every
    * gated SF by orders of magnitude) — past 2⁶⁴ DuckDB's HUGEINT→DOUBLE
    * composes two roundings (hi·2⁶⁴ + lo) and can sit 1 ulp off Spark's
    * correctly-rounded BigDecimal cast, so at that scale the gate would
    * need the ppm value quantized from a wider intermediate instead. 100 TB shape:
    * pure two-level aggregation, no window, no join wider than 1 row. */
  def q310WelchTtest(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "orders")
      .select(col("o_orderpriority").as("prio"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100")
          .as("v"))
      .groupBy("prio")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        // Σx² as DECIMAL (q316's discipline): a BIGINT sum wraps silently
        // (non-ANSI) once Σv² > ~9.2e18, which the 100 TB row count
        // reaches; the decimal accumulator carries 38 digits
        sum(expr("CAST(v AS DECIMAL(18,0)) * CAST(v AS DECIMAL(18,0))"))
          .cast("decimal(38,0)").as("ss"))
    val tot = broadcast(per.agg(sum("n").as("tn"), sum("s").as("ts"),
      sum("ss").as("tss")))
    per.crossJoin(tot)
      .withColumn("n2", col("tn") - col("n"))
      .withColumn("s2", col("ts") - col("s"))
      .withColumn("ss2", col("tss") - col("ss"))
      .withColumn("m1", expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("m2", expr("CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)"))
      .withColumn("se1", expr(
        "((CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) / CAST(n AS DOUBLE)"))
      .withColumn("se2", expr(
        "((CAST(ss2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)"))
      .withColumn("t_ppm", expr(
        "CAST(floor((m1 - m2) / sqrt(se1 + se2) * 1000000.0 + 0.5) AS BIGINT)"))
      .withColumn("df_ppm", expr(
        "CAST(floor((se1 + se2) * (se1 + se2) / (se1 * se1 / (CAST(n AS DOUBLE) - 1.0) + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) * 1000000.0 + 0.5) AS BIGINT)"))
      .select(col("prio"), col("n"), col("s").as("sum_dollars"),
        col("t_ppm"), col("df_ppm"))
      .orderBy("prio")
  }

  val q310Sql: String =
    """WITH o AS (SELECT o_orderpriority AS prio,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS v
      |  FROM orders),
      |per AS (SELECT prio, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(v) AS BIGINT) AS s,
      |    sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS ss
      |  FROM o GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts,
      |    sum(ss) AS tss FROM per),
      |x AS (SELECT prio, n, s, ss, tn - n AS n2, ts - s AS s2, tss - ss AS ss2
      |  FROM per CROSS JOIN tot),
      |d AS (SELECT prio, n, s, n2,
      |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
      |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
      |    ((CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) / CAST(n AS DOUBLE) AS se1,
      |    ((CAST(ss2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE) AS se2
      |  FROM x)
      |SELECT prio, n, s AS sum_dollars,
      |  CAST(floor((m1 - m2) / sqrt(se1 + se2) * 1000000.0 + 0.5) AS BIGINT) AS t_ppm,
      |  CAST(floor((se1 + se2) * (se1 + se2) / (se1 * se1 / (CAST(n AS DOUBLE) - 1.0) + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) * 1000000.0 + 0.5) AS BIGINT) AS df_ppm
      |FROM d ORDER BY prio""".stripMargin

  // ----------------------------------------- q311 Good–Turing frequencies

  /** Text analysis — Good–Turing frequency-of-frequencies over the corpus
    * TRIGRAM types (q19's shingle construction: posexplode + lead window,
    * the codegen-friendly form — unigrams are useless here, the synthetic
    * vocabulary is 31 words with min frequency 26, while trigrams have a
    * real tail: 9.4k hapax at sf0.01): N_r for r = 1..10, the smoothed
    * count r* = (r+1)·N_{r+1}/N_r (integer ppm), and the unseen-mass
    * estimate P₀ = N₁/N — the quantities an n-gram LM smoother consumes.
    * Two aggregations (gram counts → count-of-counts); the r ↦ r+1 lookup
    * and the 1-row total both broadcast (frequency-of-frequency tables
    * are metadata-scale regardless of corpus size). Integer-exact. */
  def q311GoodTuring(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val tall = docs(s, dir).select(col("doc_id"),
      posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as(Seq("pos", "tok")))
    val grams = tall
      .withColumn("t1", lead("tok", 1).over(wd))
      .withColumn("t2", lead("tok", 2).over(wd))
      .filter(col("t2").isNotNull)
      .select(concat_ws(" ", col("tok"), col("t1"), col("t2")).as("g"))
    // metadata-scale (≲ a few hundred rows) and consumed THREE times
    // (lookup build+probe, totals) — checkpoint so the corpus tokenizes once
    val fof = grams
      .groupBy("g").agg(count(lit(1)).as("r"))
      .groupBy("r").agg(count(lit(1)).as("n_r"))
      .localCheckpoint()
    val tot = broadcast(fof.agg(
      sum(expr("r * n_r")).as("total_tokens"),
      sum(when(col("r") === 1L, col("n_r")).otherwise(0L)).as("n1")))
    fof.as("a").filter(col("r") <= 10L)
      .join(broadcast(fof.as("b")),
        col("b.r") === col("a.r") + lit(1L), "left")
      .select(col("a.r").as("r"), col("a.n_r").as("n_r"),
        coalesce(col("b.n_r"), lit(0L)).as("n_r_next"))
      .crossJoin(tot)
      .withColumn("r_star_ppm",
        expr(Ops.floorDivScaledSql("(r + 1) * n_r_next", "n_r", 1000000L)))
      .withColumn("p0_ppm",
        expr(Ops.floorDivScaledSql("n1", "total_tokens", 1000000L)))
      .select("r", "n_r", "n_r_next", "r_star_ppm", "total_tokens", "n1",
        "p0_ppm")
      .orderBy("r")
  }

  val q311Sql: String =
    s"""WITH tok AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |grams AS (SELECT unnest(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM tok),
      |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS r FROM grams GROUP BY 1),
      |fof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM cnt GROUP BY 1),
      |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS total_tokens,
      |    CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1 FROM fof)
      |SELECT a.r, a.n_r, COALESCE(b.n_r, 0) AS n_r_next,
      |  ${Ops.floorDivScaledSql("(a.r + 1) * COALESCE(b.n_r, 0)", "a.n_r", 1000000L, "//")} AS r_star_ppm,
      |  total_tokens, n1,
      |  ${Ops.floorDivScaledSql("n1", "total_tokens", 1000000L, "//")} AS p0_ppm
      |FROM fof a LEFT JOIN fof b ON b.r = a.r + 1 CROSS JOIN tot
      |WHERE a.r <= 10 ORDER BY a.r""".stripMargin

  // -------------------------------------- q312 trimmed / winsorized means

  /** Robust stats — 10% two-sided trimmed AND winsorized means of event
    * value per event type: rank rows inside each type by (value, id) —
    * via [[graft.operators.Ranks.groupRank]], NOT a type-keyed window:
    * `event_type` has 5 distinct values, so `Window.partitionBy(et)`
    * would sort N/5 rows per task at scale (the straggler shape the q97
    * RFM rebuild eliminated; round-12 audit flagged the same here) —
    * the distributed range-sort rank keeps parallelism at the shuffle-
    * partition count. Broadcast the per-type (n, k = ⌊n/10⌋) and the two
    * clamp values (the order statistics at ranks k+1 and n−k), then one
    * aggregation computes both means in centi-cents. The trimmed sum and
    * the clamp values are functions of the value MULTISET (tie order
    * affects only which ID carries a rank, never the summed values), so
    * the gate is exact. */
  def q312TrimmedMeans(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: the ranked frame feeds FOUR consumers (nk, lo, hi,
    // the final fold) — without it each one re-executes the rank's
    // window + offset joins over the persisted base (3.9 s vs 1.5 s at
    // sf0.1, round-13 bench)
    val e = graft.operators.Ranks.groupRank(
      t(s, dir, "events")
        .select(col("event_type").as("et"), col("event_id").as("eid"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v")),
      "et", "rn", col("v"), col("eid"))
      .localCheckpoint()
    val nk = e.groupBy("et")
      .agg(count(lit(1)).as("n"))
      .withColumn("k", expr("n div 10"))
    val lo = e.join(broadcast(nk), "et")
      .filter(col("rn") === col("k") + lit(1L))
      .select(col("et"), col("v").as("lo_v"))
    val hi = e.join(broadcast(nk), "et")
      .filter(col("rn") === col("n") - col("k"))
      .select(col("et"), col("v").as("hi_v"))
    e.join(broadcast(nk), "et")
      .join(broadcast(lo), "et").join(broadcast(hi), "et")
      .withColumn("trim_v",
        when(col("rn") > col("k") && col("rn") <= col("n") - col("k"), col("v")))
      .withColumn("wins_v",
        when(col("rn") <= col("k"), col("lo_v"))
          .when(col("rn") > col("n") - col("k"), col("hi_v"))
          .otherwise(col("v")))
      .groupBy("et")
      .agg(max("n").as("n"), max("k").as("k"),
        sum("trim_v").as("trim_sum"), count(col("trim_v")).as("trim_n"),
        sum("wins_v").as("wins_sum"), max("lo_v").as("lo_cents"),
        max("hi_v").as("hi_cents"))
      .withColumn("trimmed_mean_cc",
        expr(Ops.floorDivScaledSql("trim_sum", "trim_n", 100L)))
      .withColumn("winsor_mean_cc",
        expr(Ops.floorDivScaledSql("wins_sum", "n", 100L)))
      .select("et", "n", "k", "lo_cents", "hi_cents", "trimmed_mean_cc",
        "winsor_mean_cc")
      .orderBy("et")
  }

  val q312Sql: String =
    s"""WITH e AS (SELECT event_type AS et, event_id AS eid,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events),
      |r AS (SELECT et, v, row_number() OVER (PARTITION BY et ORDER BY v, eid) AS rn FROM e),
      |nk AS (SELECT et, CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS BIGINT) // 10 AS k
      |  FROM e GROUP BY 1),
      |lo AS (SELECT r.et, v AS lo_v FROM r JOIN nk ON r.et = nk.et WHERE rn = k + 1),
      |hi AS (SELECT r.et, v AS hi_v FROM r JOIN nk ON r.et = nk.et WHERE rn = n - k),
      |x AS (SELECT r.et, v, rn, n, k, lo_v, hi_v
      |  FROM r JOIN nk ON r.et = nk.et JOIN lo ON r.et = lo.et JOIN hi ON r.et = hi.et),
      |g AS (SELECT et, max(n) AS n, max(k) AS k,
      |    CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN v END) AS BIGINT) AS trim_sum,
      |    CAST(count(CASE WHEN rn > k AND rn <= n - k THEN v END) AS BIGINT) AS trim_n,
      |    CAST(sum(CASE WHEN rn <= k THEN lo_v WHEN rn > n - k THEN hi_v ELSE v END) AS BIGINT) AS wins_sum,
      |    max(lo_v) AS lo_cents, max(hi_v) AS hi_cents
      |  FROM x GROUP BY 1)
      |SELECT et, n, k, lo_cents, hi_cents,
      |  ${Ops.floorDivScaledSql("trim_sum", "trim_n", 100L, "//")} AS trimmed_mean_cc,
      |  ${Ops.floorDivScaledSql("wins_sum", "n", 100L, "//")} AS winsor_mean_cc
      |FROM g ORDER BY et""".stripMargin

  // ------------------------------------------- q313 PMI collocations

  /** Text analysis — collocation extraction by pointwise mutual
    * information: the top-20 bigrams (min count 5) by
    * PMI = ln(p(xy) / (p(x)p(y))), the classic corpus-linguistics
    * signal for multi-word expressions a tokenizer/vocab builder should
    * keep whole. Bigram counts come from the q19 posexplode+lead shingle
    * build; the unigram table joins back by word (equi-join — broadcast
    * at this vocab, hash at web scale) and the two corpus totals ride a
    * 1-row broadcast. The transcendental is quantized ×1e6 to a BIGINT
    * before the rank/limit (the q55 ln discipline), with the formula
    * text identical on both engines and the tie-break on the full
    * (pmi_q, x, y) key, so the top-20 set is deterministic. */
  def q313PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val tall = docs(s, dir).select(col("doc_id"),
      posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as(Seq("pos", "tok")))
    val uni = tall.groupBy(col("tok").as("w")).agg(count(lit(1)).as("c_w"))
      .localCheckpoint() // consumed twice (x and y side) + the token total
    // bounded by vocab² (bigram TYPES, not instances) and consumed twice
    // (the n_big total + the scored rows) — checkpoint so the corpus
    // tokenizes once per side, not once per consumer
    val big = tall
      .withColumn("y", lead("tok", 1).over(wd))
      .filter(col("y").isNotNull)
      .groupBy(col("tok").as("x"), col("y"))
      .agg(count(lit(1)).as("c_xy"))
      .localCheckpoint()
    val totals = broadcast(
      big.agg(sum("c_xy").as("n_big")).crossJoin(
        uni.agg(sum("c_w").as("n_tok"))))
    big.filter(col("c_xy") >= 5L)
      .join(broadcast(uni.select(col("w").as("x"), col("c_w").as("c_x"))), "x")
      .join(broadcast(uni.select(col("w").as("y"), col("c_w").as("c_y"))), "y")
      .crossJoin(totals)
      .withColumn("pmi_q", expr(
        "CAST(floor(ln(CAST(c_xy AS DOUBLE) * CAST(n_tok AS DOUBLE) / CAST(n_big AS DOUBLE) * CAST(n_tok AS DOUBLE) / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)"))
      .select("x", "y", "c_xy", "c_x", "c_y", "pmi_q")
      .orderBy(col("pmi_q").desc, col("x"), col("y"))
      .limit(20)
  }

  val q313Sql: String =
    """WITH tok AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |uni AS (SELECT unnest(t) AS w FROM tok),
      |cu AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY 1),
      |grams AS (SELECT unnest(CASE WHEN len(t) >= 2
      |    THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
      |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM tok),
      |cb AS (SELECT string_split(g, ' ')[1] AS x, string_split(g, ' ')[2] AS y,
      |    CAST(count(*) AS BIGINT) AS c_xy FROM grams GROUP BY 1, 2),
      |tots AS (SELECT (SELECT CAST(sum(c_xy) AS BIGINT) FROM cb) AS n_big,
      |    (SELECT CAST(sum(c_w) AS BIGINT) FROM cu) AS n_tok)
      |SELECT x, y, c_xy, cx.c_w AS c_x, cy.c_w AS c_y,
      |  CAST(floor(ln(CAST(c_xy AS DOUBLE) * CAST(n_tok AS DOUBLE) / CAST(n_big AS DOUBLE) * CAST(n_tok AS DOUBLE) / (CAST(cx.c_w AS DOUBLE) * CAST(cy.c_w AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS pmi_q
      |FROM cb JOIN cu cx ON cx.w = cb.x JOIN cu cy ON cy.w = cb.y CROSS JOIN tots
      |WHERE c_xy >= 5
      |ORDER BY pmi_q DESC, x, y LIMIT 20""".stripMargin

  // ------------------------------------------------ q314 McNemar test

  /** Label QA — McNemar's test on the q174 rater pair (the q143
    * classifier vs the 500-char length rule): are the DISAGREEMENTS
    * asymmetric, i.e. is one labeler systematically stricter? The
    * continuity-corrected statistic (|b−c|−1)²/(b+c) is a pure integer
    * rational over the same one-pass confusion matrix q174 builds —
    * kappa says "how much they agree", McNemar says "whose errors
    * dominate", and together they close the inter-rater QA pair. */
  def q314Mcnemar(s: SparkSession, dir: String): DataFrame = {
    val a = graft.llmops.TextAnalysis
      .hashedNgramScore(docs(s, dir), "doc_id", "text")
      .select(col("id"), (col("score_raw") >= 0).as("la"))
    val b = docs(s, dir)
      .select(col("doc_id").as("id"), (col("n_chars") >= 500).as("lb"))
    a.join(b, "id")
      .agg(
        sum(when(col("la") && !col("lb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("la") && col("lb"), 1L).otherwise(0L)).as("n01"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("n_disc", expr("n10 + n01"))
      .withColumn("cc_num", expr("greatest(abs(n10 - n01) - 1, 0L)"))
      .withColumn("chi2_ppm",
        expr(Ops.floorDivScaledSql("cc_num * cc_num", "n_disc", 1000000L)))
      .select("n10", "n01", "n_agree", "n_disc", "chi2_ppm")
  }

  val q314Sql: String = DuckClassifierScore +
    s""",
      |lab AS (SELECT sc.id, sc.score_raw >= 0 AS la, d.n_chars >= 500 AS lb
      |        FROM sc JOIN documents d ON d.doc_id = sc.id),
      |c AS (SELECT
      |    CAST(sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      |  FROM lab),
      |k AS (SELECT *, n10 + n01 AS n_disc,
      |        greatest(abs(n10 - n01) - 1, 0) AS cc_num FROM c)
      |SELECT n10, n01, n_agree, n_disc,
      |  ${Ops.floorDivScaledSql("cc_num * cc_num", "n_disc", 1000000L, "//")} AS chi2_ppm
      |FROM k""".stripMargin

  // -------------------------------------- q315 vocabulary growth (Heaps)

  /** Text analysis — the vocabulary growth curve (Heaps' law raw
    * material) over TRIGRAM types (the unigram vocabulary is 31 words and
    * saturates inside the first decile — q311's lesson): cumulative
    * trigram-instance count vs cumulative DISTINCT-type count at ten
    * corpus prefixes, where a document's prefix bucket is the integer
    * decile of its id against the broadcast max (deterministic for any id
    * density). A type's first appearance is one min-aggregate; both
    * cumulatives ride the 10-row triangular self-join (the Ranks offset
    * idiom) — metadata-scale, so no single-partition window ever
    * materializes. The curve is what a tokenizer/vocab-budget planner
    * reads to size vocabulary against corpus growth. Integer-exact. */
  def q315VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val mx = broadcast(docs(s, dir).agg(max("doc_id").as("mx")))
    val tall = docs(s, dir)
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as(Seq("pos", "tok")))
      .withColumn("t1", lead("tok", 1).over(wd))
      .withColumn("t2", lead("tok", 2).over(wd))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("w"))
      .crossJoin(mx)
      .withColumn("d", expr("CAST(doc_id * 10 div (mx + 1) AS BIGINT)"))
    val perDoc = docs(s, dir).crossJoin(mx)
      .select(expr("CAST(doc_id * 10 div (mx + 1) AS BIGINT)").as("d"))
      .groupBy("d").agg(count(lit(1)).as("docs_d"))
    val tokPerD = tall.groupBy("d").agg(count(lit(1)).as("toks_d"))
    val firstSeen = tall.groupBy("w").agg(min("d").as("d"))
      .groupBy("d").agg(count(lit(1)).as("new_types_d"))
    val base = perDoc
      .join(tokPerD, Seq("d"), "left")
      .join(firstSeen, Seq("d"), "left")
      .select(col("d"), col("docs_d"),
        coalesce(col("toks_d"), lit(0L)).as("toks_d"),
        coalesce(col("new_types_d"), lit(0L)).as("new_types_d"))
      .localCheckpoint() // ≤ 10 rows, consumed by both triangular sides
    base.as("a")
      .join(base.as("b"), col("b.d") <= col("a.d"))
      .groupBy(col("a.d").as("decile"))
      .agg(max(col("a.docs_d")).as("n_docs_decile"),
        sum(col("b.docs_d")).as("cum_docs"),
        sum(col("b.toks_d")).as("cum_tokens"),
        sum(col("b.new_types_d")).as("cum_vocab"))
      .orderBy("decile")
  }

  val q315Sql: String =
    """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
      |tok AS (SELECT doc_id * 10 // (mx + 1) AS d,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents CROSS JOIN mx),
      |tall AS (SELECT d, unnest(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |    ELSE CAST([] AS VARCHAR[]) END) AS w FROM tok),
      |perdoc AS (SELECT doc_id * 10 // (mx + 1) AS d, CAST(count(*) AS BIGINT) AS docs_d
      |  FROM documents CROSS JOIN mx GROUP BY 1),
      |tokd AS (SELECT d, CAST(count(*) AS BIGINT) AS toks_d FROM tall GROUP BY 1),
      |fs AS (SELECT w, min(d) AS d FROM tall GROUP BY 1),
      |newd AS (SELECT d, CAST(count(*) AS BIGINT) AS new_types_d FROM fs GROUP BY 1),
      |base AS (SELECT perdoc.d, docs_d, COALESCE(toks_d, 0) AS toks_d,
      |    COALESCE(new_types_d, 0) AS new_types_d
      |  FROM perdoc LEFT JOIN tokd ON tokd.d = perdoc.d
      |  LEFT JOIN newd ON newd.d = perdoc.d)
      |SELECT a.d AS decile, max(a.docs_d) AS n_docs_decile,
      |  CAST(sum(b.docs_d) AS BIGINT) AS cum_docs,
      |  CAST(sum(b.toks_d) AS BIGINT) AS cum_tokens,
      |  CAST(sum(b.new_types_d) AS BIGINT) AS cum_vocab
      |FROM base a JOIN base b ON b.d <= a.d
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ q316 burstiness

  /** Behavioral — Goh–Barabási burstiness of per-user inter-event gaps,
    * rolled up per event type: B = (σ−μ)/(σ+μ) ∈ (−1, 1), the standard
    * "is this traffic Poisson (B≈0), periodic (B→−1) or bursty (B→+1)"
    * coefficient. Gaps come from one lag window partitioned by
    * (user, type) — data-scale keys, never a global order — in whole
    * milliseconds; moments accumulate exactly (Σg BIGINT, Σg² as
    * DECIMAL so the square sum cannot wrap), and σ/B evaluate in IEEE
    * doubles from those exact sums with identical formula text on both
    * engines, ppm-quantized before gating. */
  def q316Burstiness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    val g = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      // integer div, NOT Column./ (double division rounds near integer
      // boundaries and can disagree with the oracle's floor //)
      .withColumn("gap_ms", expr("(ts_us - prev_us) div 1000"))
      .filter(col("gap_ms").isNotNull)
    g.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap_ms").as("sg"),
        sum(expr("CAST(gap_ms AS DECIMAL(18,0)) * CAST(gap_ms AS DECIMAL(18,0))"))
          .cast("decimal(38,0)").as("sgg"))
      .withColumn("mean_ms", expr("sg div n_gaps"))
      .withColumn("b_ppm", expr(
        "CAST(floor((sqrt((CAST(sgg AS DOUBLE) - (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) / (sqrt((CAST(sgg AS DOUBLE) - (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"))
      .select("event_type", "n_gaps", "sg", "mean_ms", "b_ppm")
      .orderBy("event_type")
  }

  val q316Sql: String =
    """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events),
      |g AS (SELECT event_type,
      |    (ts_us - lag(ts_us) OVER (PARTITION BY user_id, event_type
      |       ORDER BY ts_us, event_id)) // 1000 AS gap_ms FROM e),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |    CAST(sum(gap_ms) AS BIGINT) AS sg,
      |    sum(CAST(gap_ms AS HUGEINT) * CAST(gap_ms AS HUGEINT)) AS sgg
      |  FROM g WHERE gap_ms IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_gaps, sg, sg // n_gaps AS mean_ms,
      |  CAST(floor((sqrt((CAST(sgg AS DOUBLE) - (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) / (sqrt((CAST(sgg AS DOUBLE) - (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS b_ppm
      |FROM m ORDER BY 1""".stripMargin

  // ----------------------------------- q321 SNIPS offline policy eval

  /** Counterfactual evaluation — SELF-NORMALIZED inverse-propensity
    * scoring (SNIPS; Swaminathan & Joachims 2015) of candidate action
    * policies against logged bandit feedback, the off-policy estimate
    * every recsys/RLHF-data pipeline runs before an online test: events
    * are (context = user-id mod-4 segment, action = event_type,
    * reward = value in cents); the behavior policy's propensity is the
    * empirical cell frequency n(x,a)/n(x), and for each target policy π
    * the estimate is V̂ = Σ wᵢrᵢ / Σ wᵢ with wᵢ = π(aᵢ|xᵢ)/p̂(aᵢ|xᵢ).
    * The weight is CONSTANT within a (segment, action) cell, so both
    * sums collapse algebraically onto the cell aggregate: per cell
    * num = π·n(x)·Σr / n(x,a) (floor-div milli-quantized, the shared
    * gate discipline) and den = π·n(x) exactly; support violations
    * (π > 0 on a cell the logs never saw) are COUNTED, not silently
    * skipped. Two declared policies: uniform (π = 1/5 each) and the
    * deterministic always-purchase.
    *
    * Shape: ONE map-side-combinable scan aggregate to the (segment,
    * action) cell table; everything after is metadata-scale (≤ |X|·|A|
    * cells joined to a broadcast policy table). The π·n(x)·Σr product
    * rides DECIMAL(38,0)/HUGEINT so the intermediate cannot wrap; the
    * per-cell quotient and its ≤ |X|·|A|-term sum fit BIGINT through
    * ~10¹¹ events per segment (q155's envelope discipline — beyond that
    * the same plan swaps decimal-typed quotients in). */
  def q321SnipsEval(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .select(pmod(col("user_id"), lit(4L)).as("seg"),
        col("event_type").as("act"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("r_cents"))
      .groupBy("seg", "act")
      .agg(count(lit(1)).as("n_cell"), sum("r_cents").as("sum_r"))
    val segs = cells.groupBy("seg").agg(sum("n_cell").as("n_seg"))
    import s.implicits._
    val acts = Seq("click", "error", "purchase", "signup", "view")
    val policies = broadcast(
      (acts.map(a => ("uniform", a, 200L)) ++ Seq(("always_purchase", "purchase", 1000L)))
        .toDF("policy", "act", "pi_milli"))
    val seen = cells.join(broadcast(segs), "seg").join(policies, "act")
    val est = seen
      .withColumn("num_milli", expr(
        "CAST(pi_milli AS DECIMAL(38,0)) * n_seg * sum_r div n_cell"))
      .withColumn("den_milli", expr("CAST(pi_milli AS DECIMAL(38,0)) * n_seg"))
      .groupBy("policy")
      .agg(count(lit(1)).as("n_cells"),
        sum("num_milli").cast("decimal(38,0)").as("num"),
        sum("den_milli").cast("decimal(38,0)").as("den"))
      .withColumn("snips_ccents", expr("CAST((num * 100) div den AS BIGINT)"))
      .select("policy", "n_cells", "snips_ccents")
    // support audit: π > 0 on a (segment, action) the logs never saw
    val grid = broadcast(segs.select("seg")).crossJoin(policies)
    val unsupported = grid
      .join(cells.select(col("seg"), col("act"), lit(1L).as("hit")),
        Seq("seg", "act"), "left")
      .filter(col("hit").isNull)
      .groupBy("policy").agg(count(lit(1)).as("n_unsupported"))
    est.join(unsupported, Seq("policy"), "left")
      .withColumn("n_unsupported", coalesce(col("n_unsupported"), lit(0L)))
      .orderBy("policy")
  }

  val q321Sql: String =
    """WITH e AS (SELECT ((user_id % 4) + 4) % 4 AS seg, event_type AS act,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r_cents
      |  FROM events),
      |cells AS (SELECT seg, act, CAST(count(*) AS BIGINT) AS n_cell,
      |    CAST(sum(r_cents) AS BIGINT) AS sum_r
      |  FROM e GROUP BY 1, 2),
      |segs AS (SELECT seg, CAST(sum(n_cell) AS BIGINT) AS n_seg FROM cells GROUP BY 1),
      |pol AS (SELECT * FROM (VALUES
      |    ('uniform', 'click', 200), ('uniform', 'error', 200),
      |    ('uniform', 'purchase', 200), ('uniform', 'signup', 200),
      |    ('uniform', 'view', 200),
      |    ('always_purchase', 'purchase', 1000)) p(policy, act, pi_milli)),
      |seen AS (SELECT pol.policy,
      |    CAST(pol.pi_milli AS HUGEINT) * segs.n_seg * cells.sum_r // cells.n_cell AS num_milli,
      |    CAST(pol.pi_milli AS HUGEINT) * segs.n_seg AS den_milli
      |  FROM cells JOIN segs USING (seg) JOIN pol USING (act)),
      |est AS (SELECT policy, CAST(count(*) AS BIGINT) AS n_cells,
      |    CAST((sum(num_milli) * 100) // sum(den_milli) AS BIGINT) AS snips_ccents
      |  FROM seen GROUP BY 1),
      |unsupported AS (SELECT pol.policy, CAST(count(*) AS BIGINT) AS n
      |  FROM segs CROSS JOIN pol
      |  LEFT JOIN cells ON cells.seg = segs.seg AND cells.act = pol.act
      |  WHERE cells.n_cell IS NULL GROUP BY 1)
      |SELECT est.policy, est.n_cells, est.snips_ccents,
      |  CAST(coalesce(u.n, 0) AS BIGINT) AS n_unsupported
      |FROM est LEFT JOIN unsupported u USING (policy)
      |ORDER BY policy""".stripMargin

  // --------------------------------------- q322 Hill tail-index estimator

  /** Heavy-tail diagnostics — the HILL ESTIMATOR (Hill 1975) of the
    * corpus trigram-frequency tail index: the MLE of the Pareto exponent
    * from the top-k order statistics, α̂ = k / Σᵢ₌₁..ₖ ln(x₍ᵢ₎/x₍ₖ₊₁₎) —
    * the maximum-likelihood complement of q177's least-squares Zipf
    * slope (LS fits the whole log-log curve and is biased by the bulk;
    * Hill reads ONLY the extreme tail, which is what head-token skew and
    * memorization-risk analyses care about). k = 100 under the
    * (count desc, gram) total order; term counts with ties at the
    * boundary don't affect the estimate (only the COUNT values enter).
    *
    * Shape: the q311 trigram build to the count table, then the
    * top-(k+1) selection rides [[graft.operators.Ranks.globalRank]]
    * (range sort + broadcast offsets — the TYPE table is corpus-bounded,
    * NOT metadata, so no single-partition window may touch it); the 101
    * selected rows broadcast and everything after is constant-size. ln
    * terms follow the q313 idiom — IEEE doubles from exact integers,
    * identical formula text on both engines, ppm-quantized per term
    * before the k-term sum; α̂ is one exact floor-div of the quantized
    * sum (NULL iff the top 101 counts are all equal). */
  def q322HillTail(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks.globalRank
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val grams = docs(s, dir).select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as(Seq("pos", "tok")))
      .withColumn("t1", lead("tok", 1).over(wd))
      .withColumn("t2", lead("tok", 2).over(wd))
      .filter(col("t2").isNotNull)
      .select(concat_ws(" ", col("tok"), col("t1"), col("t2")).as("g"))
    val cnt = grams.groupBy("g").agg(count(lit(1)).as("c"))
    val top = globalRank(cnt, "rnk", col("c").desc, col("g"))
      .filter(col("rnk") <= 101L)
    val xk1 = broadcast(top.filter(col("rnk") === 101L)
      .select(col("c").as("c_k1")))
    top.filter(col("rnk") <= 100L)
      .crossJoin(xk1)
      .withColumn("term_ppm", expr(
        "CAST(floor(ln(CAST(c AS DOUBLE) / CAST(c_k1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"))
      .agg(count(lit(1)).as("k"), min("c_k1").as("x_k1"),
        sum("term_ppm").as("sum_ln_ppm"))
      .withColumn("alpha_ppm",
        expr(Ops.floorDivScaledSql("k * 1000000", "sum_ln_ppm", 1000000L)))
      .select("k", "x_k1", "sum_ln_ppm", "alpha_ppm")
  }

  val q322Sql: String =
    s"""WITH tok AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
       |grams AS (SELECT unnest(CASE WHEN len(t) >= 3
       |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM tok),
       |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY 1),
       |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, g) AS rnk FROM cnt),
       |k1 AS (SELECT c AS c_k1 FROM r WHERE rnk = 101),
       |t AS (SELECT c, c_k1,
       |    CAST(floor(ln(CAST(c AS DOUBLE) / CAST(c_k1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS term_ppm
       |  FROM r CROSS JOIN k1 WHERE rnk <= 100),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(min(c_k1) AS BIGINT) AS x_k1,
       |    CAST(sum(term_ppm) AS BIGINT) AS sum_ln_ppm FROM t)
       |SELECT k, x_k1, sum_ln_ppm,
       |  ${Ops.floorDivScaledSql("k * 1000000", "sum_ln_ppm", 1000000L, "//")} AS alpha_ppm
       |FROM agg""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q322_hill_tail", q322HillTail, q322Sql),
    Query("q321_snips_eval", q321SnipsEval, q321Sql),
    Query("q315_vocab_growth", q315VocabGrowth, q315Sql),
    Query("q316_burstiness", q316Burstiness, q316Sql),
    Query("q313_pmi_collocations", q313PmiCollocations, q313Sql),
    Query("q314_mcnemar", q314Mcnemar, q314Sql),
    Query("q310_welch_ttest", q310WelchTtest, q310Sql),
    Query("q311_good_turing", q311GoodTuring, q311Sql),
    Query("q312_trimmed_means", q312TrimmedMeans, q312Sql),
    Query("q309_bootstrap_ci", q309BootstrapCi, q309Sql),
    Query("q308_croston", q308Croston, q308Sql),
    Query("q305_peak_concurrency", q305PeakConcurrency, q305Sql),
    Query("q297_markov_attribution", q297MarkovAttribution, q297Sql),
    Query("q298_shapley", q298Shapley, q298Sql),
    Query("q300_change_point", q300ChangePoint, q300Sql),
    Query("q251_spearman", q251Spearman, q251Sql),
    Query("q256_holt_winters", q256HoltWinters, q256Sql),
    Query("q262_isotonic_calibration", q262IsotonicCalibration, q262Sql),
    Query("q267_nelson_aalen", q267NelsonAalen, q267Sql),
    Query("q263_average_precision", q263AveragePrecision, q263Sql),
    Query("q257_mase_eval", q257MaseEval, q257Sql),
    Query("q252_mann_whitney", q252MannWhitney, q252Sql),
    Query("q253_cramers_v", q253CramersV, q253Sql),
    Query("q254_hhi", q254Hhi, q254Sql),
    Query("q255_theil_sen", q255TheilSen, q255Sql),
    Query("q153_skyline", q153Skyline, q153Sql),
    Query("q154_hist_quantiles", q154HistQuantiles, q154Sql),
    Query("q155_corr_pieces", q155CorrPieces, q155Sql),
    Query("q166_auc_eval", q166AucEval, q166Sql),
    Query("q168_ab_lift", q168AbLift, q168Sql),
    Query("q169_mad_outliers", q169MadOutliers, q169Sql),
    Query("q171_path_trigrams", q171PathTrigrams, q171Sql),
    Query("q173_trend_fit", q173TrendFit, q173Sql),
    Query("q174_kappa", q174Kappa, q174Sql),
    Query("q176_target_encoding", q176TargetEncoding, q176Sql),
    Query("q181_mutual_info", q181MutualInfo, q181Sql),
    Query("q183_calibration", q183Calibration, q183Sql),
    Query("q184_psi_drift", q184PsiDrift, q184Sql),
    Query("q185_attribution", q185Attribution, q185Sql),
    Query("q188_auc_by_group", q188AucByGroup, q188Sql),
    Query("q189_best_threshold", q189BestThreshold, q189Sql),
    Query("q191_linear_attribution", q191LinearAttribution, q191Sql),
    Query("q192_session_stats", q192SessionStats, q192Sql),
    Query("q193_conversion_hazard", q193ConversionHazard, q193Sql),
    Query("q194_dup_histogram", q194DupHistogram, q194Sql),
    Query("q195_source_f1", q195SourceF1, q195Sql),
    Query("q196_gains_table", q196GainsTable, q196Sql),
    Query("q197_weighted_sample", q197WeightedSample, q197Sql),
    Query("q198_ref_integrity", q198RefIntegrity, q198Sql),
    Query("q201_repurchase_cadence", q201RepurchaseCadence, q201Sql),
    Query("q202_revenue_gini", q202RevenueGini, q202Sql),
    Query("q203_corpus_gini", q203CorpusGini, q203Sql),
    Query("q177_zipf_fit", q177ZipfFit, q177Sql),
    Query("q178_char_entropy", q178CharEntropy, q178Sql),
    Query("q179_ks_stat", q179KsStat, q179Sql),
    Query("q211_kaplan_meier", q211KaplanMeier, q211Sql),
    Query("q212_autocorr", q212Autocorr, q212Sql),
    Query("q216_cuped", q216Cuped, q216Sql),
    Query("q219_ses", q219Ses, q219Sql),
    Query("q220_sprt", q220Sprt, q220Sql),
    Query("q222_holt", q222Holt, q222Sql),
    Query("q230_cusum", q230Cusum, q230Sql),
    Query("q231_chi_square", q231ChiSquare, q231Sql),
    Query("q234_fano_factor", q234FanoFactor, q234Sql),
    Query("q235_trimmed_mean", q235TrimmedMean, q235Sql),
    Query("q236_benford", q236Benford, q236Sql),
    Query("q238_kendall_tau", q238KendallTau, q238Sql),
    Query("q244_abc_classes", q244AbcClasses, q244Sql),
    Query("q292_ols_trend", q292OlsTrend, q292Sql))
}

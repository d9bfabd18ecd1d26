package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llmops.{Corpus, Dedup, Similarity, TextAnalysis}
import graft.operators.{Graph, Profile, Sketches}
import graft.sources.Tables

/** Round-5 operator surface: the end-to-end corpus-curation pipeline,
  * graph-based source ranking, incremental streaming dedup, column
  * profiling, Gopher repetition metrics, and Bloom-prefiltered joins —
  * each declared as a DuckDB-oracle-checkable query (same determinism
  * rules as [[Relational]]: integer/quantized arithmetic everywhere a
  * hash gate or rank order looks).
  */
object Curation {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")

  // ---------------------------------------------- q61 curation pipeline

  /** North star — the whole curation pass one query: Gopher quality gate
    * ([[Corpus.qualityRules]]) ∧ exact-dedup survivor
    * ([[Dedup.exactDedup]]: keep the min id per content hash) ∧ near-dup
    * survivor (drop the larger id of every Jaccard ≥ 0.8 pair from the
    * lossless prefix-filtered join) — reason-coded per document, the shape
    * a 100 TB curation run materializes for audit before dropping data. */
  def q61Curation(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val qual = Corpus.qualityRules(d, "doc_id", "text")
      .select(col("id"), col("pass").as("q_pass"))
    val sha = d.select(col("doc_id").as("id"),
      sha2(col("text").cast("binary"), 256).as("sha"))
    val exact = sha
      .join(Dedup.exactDedup(d, "doc_id", "text")
        .select(col("text_sha").as("sha"), col("keep_id")), "sha")
      .select(col("id"), (col("id") =!= col("keep_id")).as("exact_dup"))
    val near = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, minJaccard = 0.8,
        prefixFilter = true)
      .select(col("id_b").as("id")).distinct()
      .withColumn("near_dup", lit(true))
    qual.join(exact, "id")
      .join(near, Seq("id"), "left")
      .withColumn("near_dup", coalesce(col("near_dup"), lit(false)))
      .withColumn("kept", col("q_pass") && !col("exact_dup") && !col("near_dup"))
      .select("id", "q_pass", "exact_dup", "near_dup", "kept")
      .orderBy("id")
  }

  val q61Sql: String =
    """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
      |tf AS (SELECT doc_id AS id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
      |pw AS (SELECT id, w, tf, tf * length(w) AS chars FROM tf),
      |a AS (SELECT id, CAST(sum(tf) AS BIGINT) AS n_words,
      |        CAST(sum(chars) AS BIGINT) AS n_token_chars,
      |        CAST(max(chars) AS BIGINT) AS top_word_chars,
      |        count(DISTINCT CASE WHEN w IN ('the','a','of','to','and') THEN w END) AS n_stop_distinct
      |      FROM pw GROUP BY 1),
      |qual AS (SELECT id,
      |    (n_words BETWEEN 30 AND 100000)
      |      AND (CAST(n_token_chars AS DOUBLE) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0)
      |      AND (CAST(top_word_chars AS DOUBLE) / CAST(n_token_chars AS DOUBLE) <= 0.14)
      |      AND (n_stop_distinct >= 2) AS q_pass
      |  FROM a),
      |ek AS (SELECT doc_id AS id,
      |         doc_id <> min(doc_id) OVER (PARTITION BY text) AS exact_dup
      |       FROM documents),
      |tok3 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |sh AS (SELECT doc_id AS id, unnest(list_distinct(CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END)) AS s FROM tok3),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
      |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
      |nd AS (SELECT DISTINCT id_b AS id
      |       FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      |       WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8)
      |SELECT q.id, q.q_pass, ek.exact_dup,
      |       (nd.id IS NOT NULL) AS near_dup,
      |       q.q_pass AND NOT ek.exact_dup AND (nd.id IS NULL) AS kept
      |FROM qual q JOIN ek ON ek.id = q.id LEFT JOIN nd ON nd.id = q.id
      |ORDER BY q.id""".stripMargin

  // ---------------------------------------------------- q62 source ranking

  /** North star — graph quality ranking ([[Graph.pagerank]]): integer-
    * quantized PageRank (3 iterations, d=0.85) over the symmetrized
    * customer↔supplier trade graph (edge when a customer's order contains
    * a supplier's lineitem; node ids namespaced 2·cust / 2·supp+1). The
    * corpus-curation use is domain ranking: weight documents by their
    * source's link-graph rank. Pure BIGINT updates — the oracle unrolls
    * the same three iterations in SQL, bit-for-bit. */
  /** Graph/curation — 3-round min-label-propagation communities
    * ([[Graph.labelPropagation]]) over the co-purchase graph (parts
    * sharing an order at support ≥ 2, q214's edge rule): each item's
    * community is the minimum item id within 3 hops, plus the community
    * size. The bounded-round community detector behind "these products
    * sell together" clustering — q35's full connected components with
    * the radius capped, exposed as its own semantics. One equi-join +
    * one min-aggregation per round; the oracle unrolls the same three
    * rounds in SQL. */
  /** The q221/q286 co-purchase graph: parts sharing an order at support
    * ≥ 2 (q214's edge rule), id_a < id_b. Package-private so q286's
    * modularity readout scores EXACTLY the graph q221 clusters. */
  private[queries] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val oi = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct()
    oi.as("a")
      .join(oi.withColumnRenamed("item", "item_b").as("b"), "ok")
      .filter(col("item") < col("item_b"))
      .groupBy(col("item").as("id_a"), col("item_b").as("id_b"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("id_a", "id_b")
  }

  def q221LabelProp(s: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(s, dir)
    val lab = Graph.labelPropagation(edges, iters = 3)
    val sizes = lab.groupBy("label").agg(count(lit(1)).as("community_size"))
    lab.join(sizes, "label")
      .select(col("id").as("item"), col("label").as("community"),
        col("community_size"))
      .orderBy("item")
  }

  val q221Sql: String = {
    // MATERIALIZED everywhere a round references the previous round twice:
    // DuckDB inlines plain CTEs, so without it each unrolled round DOUBLES
    // the expansion of the whole pair-build subtree (2^rounds blowup — the
    // q232 sf0.1 oracle hit a >80 GB spill before the fix)
    def iter(prev: Int, cur: Int): String =
      s"""l$cur AS MATERIALIZED (SELECT l.id, least(l.label, coalesce(m.ml, l.label)) AS label
         |       FROM l$prev l LEFT JOIN (
         |         SELECT e.src AS id, min(p.label) AS ml
         |         FROM e JOIN l$prev p ON p.id = e.dst GROUP BY 1) m
         |       ON m.id = l.id)""".stripMargin
    s"""WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
      |pr AS MATERIALIZED (SELECT a.item AS id_a, b.item AS id_b
      |       FROM oi a JOIN oi b ON a.ok = b.ok AND a.item < b.item
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pr
      |      UNION SELECT id_b, id_a FROM pr),
      |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM e),
      |${iter(0, 1)},
      |${iter(1, 2)},
      |${iter(2, 3)},
      |c AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
      |      FROM l3 GROUP BY 1)
      |SELECT l3.id AS item, l3.label AS community, c.community_size
      |FROM l3 JOIN c USING (label) ORDER BY item""".stripMargin
  }

  /** Graph — Newman MODULARITY of the q221 label-propagation communities,
    * integer-exact: over the undirected co-purchase graph
    * ([[coPurchaseEdges]], m edges), each community c gets its internal
    * edge count L_c, total degree D_c, node count, and the scaled
    * contribution numerator 4·m·L_c − D_c² — Newman's
    * Q = Σ_c (L_c/m − (D_c/2m)²) times the constant 4m², so the quality
    * of a partition is comparable across rounds without a single float.
    * The community detector is the SAME 3-round min-label propagation
    * q221 gates; the edge frame is checkpointed once and feeds the label
    * rounds, the internal-edge join and the degree rollup (three
    * consumers — the dbscanAssign fan-out rule). Everything here is one
    * equi-join or one aggregation on node id / community label; the 1-row
    * edge-count frame attaches as a broadcast. */
  def q286Modularity(s: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(s, dir).localCheckpoint()
    val lab = Graph.labelPropagation(edges, iters = 3).localCheckpoint()
    Graph.modularityParts(edges, lab).orderBy("community")
  }

  val q286Sql: String = {
    def iter(prev: Int, cur: Int): String =
      s"""l$cur AS MATERIALIZED (SELECT l.id, least(l.label, coalesce(m.ml, l.label)) AS label
         |       FROM l$prev l LEFT JOIN (
         |         SELECT e.src AS id, min(p.label) AS ml
         |         FROM e JOIN l$prev p ON p.id = e.dst GROUP BY 1) m
         |       ON m.id = l.id)""".stripMargin
    s"""WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
      |pr AS MATERIALIZED (SELECT a.item AS id_a, b.item AS id_b
      |       FROM oi a JOIN oi b ON a.ok = b.ok AND a.item < b.item
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pr
      |      UNION SELECT id_b, id_a FROM pr),
      |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM e),
      |${iter(0, 1)},
      |${iter(1, 2)},
      |${iter(2, 3)},
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pr),
      |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
      |lin AS (SELECT la.label, CAST(count(*) AS BIGINT) AS l_in
      |        FROM pr JOIN l3 la ON la.id = pr.id_a
      |        JOIN l3 lb ON lb.id = pr.id_b AND lb.label = la.label
      |        GROUP BY 1),
      |dc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
      |         CAST(sum(deg.d) AS BIGINT) AS d_tot
      |       FROM l3 JOIN deg USING (id) GROUP BY 1)
      |SELECT dc.label AS community, dc.n_nodes,
      |  CAST(COALESCE(lin.l_in, 0) AS BIGINT) AS l_in, dc.d_tot,
      |  CAST(4 * mm.m * COALESCE(lin.l_in, 0) - dc.d_tot * dc.d_tot AS BIGINT) AS contrib_num
      |FROM dc LEFT JOIN lin USING (label) CROSS JOIN mm
      |ORDER BY community""".stripMargin
  }

  /** Recsys/market-basket — APRIORI frequent TRIPLES (level-wise itemset
    * mining, the L3 step): item triples bought together by ≥ 2 distinct
    * customers, generated the Apriori way — candidates only from frequent
    * PAIRS (L2 = customer-basket pairs at minsup 3; all three 2-subsets
    * must be frequent) and support counted only over per-basket pair
    * occurrences ALREADY semi-joined to L2. The downward-closure pruning
    * is the whole scale story: the unpruned per-basket triple explode is
    * |basket|³-shaped, the pruned stream is bounded by frequent-pair
    * volume — on 100 TB of baskets the candidate count is the L2 join's
    * output, not the basket cube. Every stage is an equi-join on
    * (basket) or (item, item); the final support filter is a combinable
    * count. The oracle replicates the same pruned plan (the naive triple
    * join is exactly what it must NOT do — it crawls even at sf0.1). */
  def q289FrequentTriples(s: SparkSession, dir: String): DataFrame = {
    // customer-lifetime baskets (q223's ci frame): order-level baskets are
    // too sparse for triple co-occurrence past sf≈0.02
    val ci = t(s, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
      .join(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("item")), "ok")
      .select("ck", "item").distinct()
      .localCheckpoint() // basket frame feeds BOTH self-join passes below —
                         // without the truncation the orders⨝lineitem
                         // distinct re-runs once per pass (r13 opt: the
                         // pair stream was derived 3× end to end)
    val l2 = ci.as("x")
      .join(ci.withColumnRenamed("item", "item_b").as("y"), "ck")
      .filter(col("item") < col("item_b"))
      .groupBy(col("item").as("id_a"), col("item_b").as("id_b"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 3).select("id_a", "id_b")
      .localCheckpoint() // 2 pruning consumers below
    // frequent pairs per basket: the L2-pruned pair stream. Deliberately
    // NOT checkpointed even though it feeds both sides of the triangular
    // ab⨝ac join — materializing the ~10 M-row stream measured slower than
    // re-deriving it from the truncated ci/l2 frames (r13); only ci and l2
    // carry localCheckpoints.
    val p = ci.as("x")
      .join(ci.withColumnRenamed("item", "item_b").as("y"), "ck")
      .filter(col("item") < col("item_b"))
      .join(l2, col("item") === col("id_a") && col("item_b") === col("id_b"),
        "left_semi")
      .select(col("ck"), col("item").as("a"), col("item_b").as("b"))
    val tri = p.as("ab")
      .join(p.select(col("ck"), col("a"), col("b").as("c")).as("ac"),
        Seq("ck", "a"))
      .filter(col("b") < col("c"))
      .join(l2, col("b") === col("id_a") && col("c") === col("id_b"),
        "left_semi")
      .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
    tri.select(col("a").as("item_a"), col("b").as("item_b"),
        col("c").as("item_c"), col("support"))
      .orderBy("item_a", "item_b", "item_c")
  }

  val q289Sql: String =
    """WITH ci AS (SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS item
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |l2 AS MATERIALIZED (SELECT a.item AS id_a, b.item AS id_b
      |       FROM ci a JOIN ci b ON a.ck = b.ck AND a.item < b.item
      |       GROUP BY 1, 2 HAVING count(*) >= 3),
      |p AS MATERIALIZED (SELECT x.ck, x.item AS a, y.item AS b
      |      FROM ci x JOIN ci y ON x.ck = y.ck AND x.item < y.item
      |      WHERE EXISTS (SELECT 1 FROM l2
      |                    WHERE l2.id_a = x.item AND l2.id_b = y.item))
      |SELECT ab.a AS item_a, ab.b AS item_b, ac.b AS item_c,
      |  CAST(count(*) AS BIGINT) AS support
      |FROM p ab JOIN p ac ON ac.ck = ab.ck AND ac.a = ab.a AND ab.b < ac.b
      |WHERE EXISTS (SELECT 1 FROM l2
      |              WHERE l2.id_a = ab.b AND l2.id_b = ac.b)
      |GROUP BY 1, 2, 3 HAVING count(*) >= 2
      |ORDER BY item_a, item_b, item_c""".stripMargin

  /** Graph/recsys — Adamic–Adar link prediction over the customer–part
    * bipartite graph: candidate customer pairs sharing an item score
    * Σ_shared ⌊1e9 / ln_micro(d_item)⌋ (the hub-discounting
    * common-neighbor count; ln milli-quantized per the q71 rule so the
    * weight is one portable integer per item). Degree band 2 ≤ d ≤ 40
    * bounds the per-item pair fan-out (AA discounts hubs toward zero
    * anyway — the cap is the scale knob, stated); predictions for the
    * 5%-sample query set (cust ≡ 0 mod 20), top-3 candidates each — the
    * q142-style bounded-query-set pattern, so the pair stream is
    * |queries|·d per item, never |custs|². */
  def q223AdamicAdar(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ci = t(s, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust"))
      .join(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("item")), "ok")
      .select("cust", "item").distinct()
    val deg = ci.groupBy("item").agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2 && col("d") <= 40)
      .withColumn("w", expr(
        "1000000000L div CAST(floor(ln(CAST(d AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"))
    val a = ci.filter(pmod(col("cust"), lit(20)) === 0)
      .join(deg.select("item", "w"), "item")
      .select(col("cust").as("u"), col("item"), col("w"))
    val b = ci.join(deg.select("item"), "item")
      .select(col("cust").as("v"), col("item"))
    a.join(b, "item")
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_shared"), sum("w").as("aa_milli"))
      .withColumn("rk", row_number().over(Window.partitionBy("u")
        .orderBy(col("aa_milli").desc, col("v"))).cast("long"))
      .filter(col("rk") <= 3)
      .select("u", "v", "n_shared", "aa_milli", "rk")
      .orderBy("u", "rk")
  }

  val q223Sql: String =
    """WITH ci AS (SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |deg AS (SELECT item, CAST(count(*) AS BIGINT) AS d FROM ci GROUP BY 1),
      |keep AS (SELECT item,
      |           1000000000 // CAST(floor(ln(CAST(d AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS w
      |         FROM deg WHERE d >= 2 AND d <= 40),
      |a AS (SELECT ci.cust AS u, ci.item, keep.w
      |      FROM ci JOIN keep USING (item) WHERE ci.cust % 20 = 0),
      |b AS (SELECT ci.cust AS v, ci.item FROM ci JOIN keep USING (item)),
      |sc AS (SELECT a.u, b.v, CAST(count(*) AS BIGINT) AS n_shared,
      |         CAST(sum(a.w) AS BIGINT) AS aa_milli
      |       FROM a JOIN b USING (item) WHERE a.u <> b.v
      |       GROUP BY 1, 2),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY u
      |        ORDER BY aa_milli DESC, v) AS BIGINT) AS rk FROM sc)
      |SELECT u, v, n_shared, aa_milli, rk FROM r WHERE rk <= 3
      |ORDER BY u, rk""".stripMargin

  /** Graph/curation — bounded-round k-core peeling ([[Graph.kcore]]) over
    * the q221 co-purchase graph (parts sharing an order at support ≥ 2):
    * 6 rounds of "drop items with < 3 surviving co-purchase partners",
    * emitting the survivors with their within-core degree. The density
    * core of the product graph — items embedded in genuinely clustered
    * demand rather than attached by a single hub — and the standard
    * pre-filter before community detection (q221) or link prediction
    * (q223) at scale. Round count is declared semantics (q221's
    * bounded-radius posture); the oracle unrolls the same 6 peel stages. */
  def q232KCore(s: SparkSession, dir: String): DataFrame = {
    val oi = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct()
    val edges = oi.as("a")
      .join(oi.withColumnRenamed("item", "item_b").as("b"), "ok")
      .filter(col("item") < col("item_b"))
      .groupBy(col("item").as("id_a"), col("item_b").as("id_b"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("id_a", "id_b")
    Graph.kcore(edges, k = 3, rounds = 6)
      .select(col("id").as("item"), col("deg"))
      .orderBy("item")
  }

  val q232Sql: String = {
    // every peel references a$prev TWICE — MATERIALIZED stops DuckDB's
    // CTE inlining from expanding the pair-build subtree 2^6× (the sf0.1
    // oracle spilled >80 GB and died before this fix)
    def peel(prev: Int, cur: Int): String =
      s"""d$cur AS (SELECT e.src AS id, CAST(count(*) AS BIGINT) AS deg
         |       FROM e JOIN a$prev x ON x.id = e.src
         |              JOIN a$prev y ON y.id = e.dst GROUP BY 1),
         |a$cur AS MATERIALIZED (SELECT id FROM d$cur WHERE deg >= 3)""".stripMargin
    s"""WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
      |pr AS MATERIALIZED (SELECT a.item AS id_a, b.item AS id_b
      |       FROM oi a JOIN oi b ON a.ok = b.ok AND a.item < b.item
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pr
      |      UNION SELECT id_b, id_a FROM pr),
      |a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
      |${peel(0, 1)},
      |${peel(1, 2)},
      |${peel(2, 3)},
      |${peel(3, 4)},
      |${peel(4, 5)},
      |${peel(5, 6)}
      |SELECT e.src AS item, CAST(count(*) AS BIGINT) AS deg
      |FROM e JOIN a6 x ON x.id = e.src JOIN a6 y ON y.id = e.dst
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def q62Pagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pagerank(edges, iters = 3, d100 = 85).orderBy("id")
  }

  val q62Sql: String = {
    // e/deg/nodes feed every unrolled round — MATERIALIZED (q232's rule)
    def iter(prev: String, cur: String): String =
      s"""s$cur AS (SELECT e.dst AS id, CAST(SUM(r.rank_q // d.out_deg) AS BIGINT) AS in_q
         |       FROM e JOIN r$prev r ON r.id = e.src JOIN deg d ON d.id = e.src GROUP BY 1),
         |r$cur AS MATERIALIZED (SELECT n.id, CAST(150000000 + COALESCE(s$cur.in_q, 0) * 85 // 100 AS BIGINT) AS rank_q
         |       FROM nodes n LEFT JOIN s$cur ON s$cur.id = n.id)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
       |deg AS MATERIALIZED (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY 1),
       |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank_q FROM nodes),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")}
       |SELECT id, rank_q FROM r3 ORDER BY id""".stripMargin
  }

  // ------------------------------------------------- q63 streaming dedup

  /** Deterministic staging of the dedup stream: documents split into three
    * band files (doc_id mod 3), delivered oldest-band-first one file per
    * micro-batch — so the accepted representative of a content hash
    * depends on BATCH arrival order, not global id order (an engine
    * ignoring cross-batch state returns the global min id and fails the
    * hash gate). Staged once per sf dir (cf. Extended.stageSessionSource). */
  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]

  private def stageDedupSource(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q63:$dir", {
      val tagged = docs(s, dir).select(
        sha2(col("text").cast("binary"), 256).as("sha"),
        col("doc_id").as("id"),
        pmod(col("doc_id"), lit(3)).as("batch"))
      // the batch tag stays IN the rows: TaggedArrival carries it so the
      // accepted representative records its arrival batch
      graft.sources.Staging.stageParts((0L until 3L).map(b =>
        s"band$b" -> tagged.filter(col("batch") === b)))
    })

  /** S26 depth — incremental exact dedup
    * ([[graft.streaming.StreamingDedup.firstSeen]]): first micro-batch
    * containing a content hash wins; one representative (min id within
    * that batch) emitted per hash, state carried across THREE
    * micro-batches (maxFilesPerTrigger=1 over the staged band files). */
  def q63StreamingDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val srcDir = stageDedupSource(s, dir)
    val schema = org.apache.spark.sql.Encoders.product[StreamingDedup.TaggedArrival].schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val accepted = StreamingDedup.firstSeen(stream.as[StreamingDedup.TaggedArrival])
    val qn = s"q63_dedup_${System.identityHashCode(s)}"
    // state partitions sized to the stream (see StreamConf) — 8 stores per
    // batch, not the batch engine's 32
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      accepted.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-dedup-ckpt"))
        .start().awaitTermination()
    }
    s.table(qn)
      .select(col("keep_id").as("id"), col("first_batch"))
      .orderBy("id")
  }

  val q63Sql: String =
    """WITH d AS (SELECT doc_id, text, doc_id % 3 AS band FROM documents),
      |m AS (SELECT text, min(band) AS first_batch FROM d GROUP BY 1)
      |SELECT min(doc_id) AS id, m.first_batch
      |FROM d JOIN m ON d.text = m.text AND d.band = m.first_batch
      |GROUP BY d.text, m.first_batch
      |ORDER BY id""".stripMargin

  // ----------------------- q285 TTL dedup (dropDuplicatesWithinWatermark)

  /** Deterministic staging for q285: events day-truncated and replayed one
    * PRESENT DAY per micro-batch, oldest first — so every row of a key
    * within a batch is identical (same truncated ts) and the accepted
    * representative is order-independent. The distinct-day collect is
    * metadata-scale (≤ 31 rows). */
  private def stageTtlSource(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q285:$dir", {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("timestamp_micros((unix_micros(ts) div 86400000000) * 86400000000)")
          .as("ts"))
      val days = ev.select(expr("unix_micros(ts) div 86400000000").as("d"))
        .distinct().orderBy("d").collect().map(_.getLong(0))
      graft.sources.Staging.stageParts(days.toSeq.map(d =>
        f"day$d%06d" ->
          ev.filter(expr(s"unix_micros(ts) div 86400000000 = ${d}L"))))
    })

  /** S26 depth (twenty-FOURTH streaming path) — engine-managed TTL dedup
    * via the BUILT-IN `dropDuplicatesWithinWatermark`: at most one
    * (user, event_type) admission per TTL horizon, with keys RE-ADMITTED
    * once the watermark evicts their state — the "notify at most once per
    * N days per user-action" production shape, and the built-in
    * counterpart of q63's hand-rolled first-seen state. Semantics probed
    * empirically and pinned in StreamingSpec: state stores
    * expiry = accepted-row event time + delay; an arriving key is dropped
    * iff its state row is LIVE (no timestamp comparison on match);
    * eviction runs at batch completion using the START-of-batch watermark,
    * which itself lags one batch — so with the one-present-day-per-batch
    * replay a key accepted on day `a` re-admits on day D_k iff
    * a + delay ≤ D_{k−2} − delay (with the 2-day delay: a ≤ D_{k−2} − 4).
    * The oracle unrolls that greedy re-admission chain (≤ 6 hops in a
    * 30-day window). State is one row per live key — bounded by key
    * cardinality × TTL churn, never event volume. */
  def q285TtlDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = stageTtlSource(s, dir)
    val schema = s.read.parquet(srcDir).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "2 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val qn = s"q285_ttldedup_${System.identityHashCode(s)}"
    // 2 state partitions (q295's sizing rule): 31 micro-batches touch
    // every store each trigger; keys are only (user × event_type)
    graft.streaming.StreamConf.withStatePartitions(s, 2) {
      stream.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-ttldedupckpt"))
        .start().awaitTermination()
    }
    s.table(qn)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("day_us"))
      .orderBy("user_id", "event_type", "day_us")
  }

  val q285Sql: String = {
    // greedy re-admission chain, unrolled: s1 = first active day per key;
    // s_{i+1} = first active day whose eviction threshold has passed s_i.
    // thr(day at batch k) = D_{k-2} - 4 (no eviction before batch 3)
    def hop(prev: String, cur: String): String =
      s"""s$cur AS (SELECT kt.user_id, kt.event_type, min(kt.d) AS d
         |      FROM kt JOIN s$prev p ON p.user_id = kt.user_id
         |        AND p.event_type = kt.event_type AND p.d <= kt.thr
         |      GROUP BY 1, 2)""".stripMargin
    s"""WITH e AS (SELECT user_id, event_type,
       |        CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d FROM events),
       |kd AS (SELECT DISTINCT user_id, event_type, d FROM e),
       |rd AS (SELECT d, row_number() OVER (ORDER BY d) AS k
       |       FROM (SELECT DISTINCT d FROM e)),
       |thr AS (SELECT a.d, COALESCE(b.d - 4, -100000) AS thr
       |        FROM rd a LEFT JOIN rd b ON b.k = a.k - 2),
       |kt AS (SELECT kd.user_id, kd.event_type, kd.d, thr.thr
       |       FROM kd JOIN thr ON thr.d = kd.d),
       |s1 AS (SELECT user_id, event_type, min(d) AS d FROM kt GROUP BY 1, 2),
       |${hop("1", "2")},
       |${hop("2", "3")},
       |${hop("3", "4")},
       |${hop("4", "5")},
       |${hop("5", "6")}
       |SELECT user_id, event_type, CAST(d * 86400000000 AS BIGINT) AS day_us
       |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
       |      UNION ALL SELECT * FROM s5 UNION ALL SELECT * FROM s6)
       |ORDER BY user_id, event_type, day_us""".stripMargin
  }

  // -------------------------------------- q134 streaming chunk dedup

  /** The shared chunk frame for q134: every document's non-overlapping
    * 16-token chunks with digest, tagged with its arrival band. */
  private def chunkArrivals(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id").as("id"),
        pmod(col("doc_id"), lit(3)).as("batch"),
        graft.llmops.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("id"), col("batch"), posexplode(expr(
        """transform(sequence(0, (size(t) - 1) div 16),
          |          c -> array_join(slice(t, c * 16 + 1, 16), ' '))""".stripMargin))
        .as(Seq("cidx", "ctext")))
      .select(sha2(col("ctext").cast("binary"), 256).as("g"),
        col("id"), col("cidx").cast("long").as("cidx"), col("batch"))

  private def stageChunkSource(s: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"q134:$dir", {
      val ch = chunkArrivals(s, dir)
      graft.sources.Staging.stageParts((0L until 3L).map(b =>
        s"band$b" -> ch.filter(col("batch") === b)))
    })

  /** S26 depth (TWELFTH streaming path) — chunk-granular first-seen dedup
    * ([[graft.streaming.StreamingDedup.firstSeenChunks]]): q129's C4-style
    * rewrite at ingest. Documents arrive in three micro-batches; each
    * chunk digest keeps its first occurrence (earliest batch, then min
    * (id, cidx) within it) and every later verbatim copy drops. Output:
    * per document, total chunks vs chunks it got to keep — the
    * novel-content budget of each arriving shard. */
  def q134StreamChunkDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val srcDir = stageChunkSource(s, dir)
    val schema = org.apache.spark.sql.Encoders.product[StreamingDedup.ChunkArrival].schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val accepted = StreamingDedup.firstSeenChunks(stream.as[StreamingDedup.ChunkArrival])
    val qn = s"q134_chunks_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      accepted.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-chunk-ckpt"))
        .start().awaitTermination()
    }
    val kept = s.table(qn).groupBy(col("keep_id").as("id"))
      .agg(count(lit(1)).as("n_kept"))
    chunkArrivals(s, dir).groupBy("id")
      .agg(count(lit(1)).as("n_chunks"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("id")
  }

  val q134Sql: String =
    """WITH tok AS (SELECT doc_id AS id, doc_id % 3 AS batch,
      |         regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |ch AS (SELECT id, batch, CAST(c AS BIGINT) AS cidx,
      |         sha256(array_to_string(t[c*16+1:c*16+16], ' ')) AS g
      |       FROM tok, UNNEST(range(0, (len(t) - 1) // 16 + 1)) AS u(c)
      |       WHERE len(t) > 0),
      |r AS (SELECT id, cidx, g,
      |        row_number() OVER (PARTITION BY g ORDER BY batch, id, cidx) AS rn
      |      FROM ch),
      |k AS (SELECT id, CAST(count(*) AS BIGINT) AS n_kept FROM r WHERE rn = 1 GROUP BY 1),
      |tot AS (SELECT id, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY 1)
      |SELECT tot.id, tot.n_chunks, CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
      |FROM tot LEFT JOIN k ON k.id = tot.id
      |ORDER BY tot.id""".stripMargin

  // ------------------------------------------------------ q64 profiling

  private val ProfileCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_partkey")

  /** Data-quality profiling ([[Profile.profile]]): one scan of lineitem →
    * per-column nulls, distinct cardinality, quantized min/max/sum. */
  def q64Profile(s: SparkSession, dir: String): DataFrame =
    Profile.profile(t(s, dir, "lineitem"), ProfileCols)
      .orderBy("col_name")

  val q64Sql: String = ProfileCols.map { c =>
    val q = s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       |  count(DISTINCT $q) AS n_distinct,
       |  min($q) AS min_q, max($q) AS max_q,
       |  CAST(sum($q) AS BIGINT) AS sum_q
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---------------------------------------------- q65 repetition metrics

  /** North star/text analysis — Gopher duplicate-n-gram character
    * fractions ([[TextAnalysis.repetitionMetrics]]) for n = 2 and n = 3:
    * the boilerplate/template-page filters of crawl curation. */
  def q65Repetition(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    def named(n: Int): DataFrame =
      TextAnalysis.repetitionMetrics(d, "doc_id", "text", n)
        .select(col("id"), col("dup_chars").as(s"dup${n}_chars"),
          col("total_chars").as(s"total${n}_chars"),
          col("dup_frac_q").as(s"dup${n}_frac_q"))
    named(2).join(named(3), "id").orderBy("id")
  }

  val q65Sql: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |g2 AS (SELECT doc_id AS id, unnest(CASE WHEN len(t) >= 2
      |         THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END) AS g FROM tok),
      |c2 AS (SELECT id, g, count(*) AS cnt, count(*) * (length(g) - 1) AS chars
      |       FROM g2 GROUP BY 1, 2),
      |a2 AS (SELECT id, CAST(sum(CASE WHEN cnt > 1 THEN chars ELSE 0 END) AS BIGINT) AS dup2_chars,
      |               CAST(sum(chars) AS BIGINT) AS total2_chars FROM c2 GROUP BY 1),
      |g3 AS (SELECT doc_id AS id, unnest(CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END) AS g FROM tok),
      |c3 AS (SELECT id, g, count(*) AS cnt, count(*) * (length(g) - 2) AS chars
      |       FROM g3 GROUP BY 1, 2),
      |a3 AS (SELECT id, CAST(sum(CASE WHEN cnt > 1 THEN chars ELSE 0 END) AS BIGINT) AS dup3_chars,
      |               CAST(sum(chars) AS BIGINT) AS total3_chars FROM c3 GROUP BY 1)
      |SELECT d.doc_id AS id,
      |  COALESCE(dup2_chars, 0) AS dup2_chars, COALESCE(total2_chars, 0) AS total2_chars,
      |  CASE WHEN COALESCE(total2_chars, 0) > 0
      |       THEN dup2_chars * 1000000 // total2_chars ELSE CAST(0 AS BIGINT) END AS dup2_frac_q,
      |  COALESCE(dup3_chars, 0) AS dup3_chars, COALESCE(total3_chars, 0) AS total3_chars,
      |  CASE WHEN COALESCE(total3_chars, 0) > 0
      |       THEN dup3_chars * 1000000 // total3_chars ELSE CAST(0 AS BIGINT) END AS dup3_frac_q
      |FROM documents d LEFT JOIN a2 ON a2.id = d.doc_id LEFT JOIN a3 ON a3.id = d.doc_id
      |ORDER BY id""".stripMargin

  // ------------------------------------------------- q66 bloom prefilter

  /** Bloom-prefiltered exact semi-join ([[Sketches.bloomSemiJoin]]):
    * lineitems of size-50 parts, aggregated. The bloom pass is k map-side
    * broadcast joins against a fixed-size bitmap (no shuffle of the fact
    * table); the exact semi-join sees only candidates — the manual form of
    * Spark's InjectRuntimeFilter rewrite, declared so the answer is
    * oracle-gated (a Bloom filter has no false negatives; the semi-join
    * removes its false positives). */
  def q66BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "part").filter(col("p_size") === 50).select("p_partkey")
    Sketches.bloomSemiJoin(
        t(s, dir, "lineitem").select("l_partkey", "l_quantity"),
        "l_partkey", dim, "p_partkey", mBits = 1 << 16, k = 3)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("qty_q"))
      .orderBy("l_partkey")
  }

  val q66Sql: String =
    """SELECT l_partkey, count(*) AS n,
      |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS qty_q
      |FROM lineitem
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 50)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------- q67 IVF-PQ ANN

  /** North star/similarity — IVF-PQ (IVFADC) approximate nearest neighbors
    * on closed-form quantizers ([[graft.llmops.Similarity.cosineTopKIvfPqPivot]]):
    * pivot coarse cells prune (nlist=16, nprobe=4), sample-residual PQ codes
    * (m=8 × ksub=16 ⇒ 8 small ints per vector) rank candidates via integer
    * ADC table lookups, the top-32 shortlist rescores exactly (rescoreK ≫ k
    * so ADC mistakes wash out in the exact rescore — recall@5 0.35 vs the
    * plain pivot-IVF's 0.48 at these params, floor-pinned in
    * CurationOpsSpec). Every stage —
    * pivots, cells, codebooks, codes, ADC scores, shortlist, rescore — is
    * exact integer arithmetic, so the oracle below replicates the whole
    * index bit-for-bit (the q29/q43 pattern; no recall assumption). The
    * trained-quantizer IVF-PQ ([[graft.llmops.Similarity.cosineTopKIvfPq]],
    * MLlib-style Lloyd codebooks + native-codegen ADC) stays the production
    * path, recall pinned by CurationOpsSpec. */
  def q67IvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    graft.llmops.Similarity.cosineTopKIvfPqPivot(e, k = 5, nlist = 16,
        nprobe = 4, m = 8, ksub = 16, rescoreK = 32, dim = 64)
      .orderBy("vec_id", "rank")
  }

  /** Replicates the full IVFADC index: hash-chosen pivots and codebook
    * sample, integer residuals, argmin PQ encoding, integer ADC tables,
    * adot = q·c_cell + Σ table[si, code], (adot/‖c‖ DESC, cid) top-32
    * shortlist, exact ×1e8 rescore, (cosine DESC, cid) top-5. */
  val q67Sql: String =
    """WITH q AS (SELECT vec_id, i,
      |    CAST(sign(CAST(embedding[i] AS DOUBLE))
      |         * floor(abs(CAST(embedding[i] AS DOUBLE)) * 100000000 + 0.5) AS BIGINT) AS s
      |  FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |norms AS (SELECT vec_id, sqrt(CAST(CAST(SUM(s * s) AS BIGINT) AS DOUBLE)) AS nrm
      |          FROM q GROUP BY 1),
      |ord AS (SELECT vec_id, row_number() OVER (
      |          ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 4294967296, vec_id) AS rn
      |        FROM embeddings),
      |piv AS (SELECT vec_id AS pid, CAST(rn - 1 AS BIGINT) AS p FROM ord WHERE rn <= 16),
      |samp AS (SELECT vec_id AS sid, CAST(rn - 17 AS BIGINT) AS c
      |         FROM ord WHERE rn > 16 AND rn <= 32),
      |pd AS (SELECT a.vec_id, piv.p, CAST(SUM(a.s * b.s) AS BIGINT) AS pdot
      |       FROM piv JOIN q b ON b.vec_id = piv.pid
      |                JOIN q a ON a.i = b.i
      |       GROUP BY 1, 2),
      |pr AS (SELECT vec_id, p, pdot,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY pdot DESC, p) AS r
      |       FROM pd),
      |cells AS (SELECT vec_id, p AS cell FROM pr WHERE r = 1),
      |probes AS (SELECT vec_id AS qid, p AS cell, pdot AS cdot FROM pr WHERE r <= 4),
      |res AS (SELECT e.vec_id, e.i, e.s - pe.s AS rs
      |        FROM q e JOIN cells cl ON cl.vec_id = e.vec_id
      |                 JOIN piv ON piv.p = cl.cell
      |                 JOIN q pe ON pe.vec_id = piv.pid AND pe.i = e.i),
      |cb AS (SELECT samp.c, (res.i - 1) // 8 AS si, (res.i - 1) % 8 AS j, res.rs AS cw
      |       FROM res JOIN samp ON samp.sid = res.vec_id),
      |enc0 AS (SELECT res.vec_id, cb.si, cb.c,
      |           CAST(SUM((res.rs - cb.cw) * (res.rs - cb.cw)) AS BIGINT) AS dist
      |         FROM res JOIN cb ON cb.si = (res.i - 1) // 8 AND cb.j = (res.i - 1) % 8
      |         GROUP BY 1, 2, 3),
      |enc AS (SELECT vec_id, si, c AS code FROM (
      |          SELECT vec_id, si, c,
      |            row_number() OVER (PARTITION BY vec_id, si ORDER BY dist, c) AS er
      |          FROM enc0) WHERE er = 1),
      |tabs AS (SELECT e.vec_id AS qid, cb.si, cb.c, CAST(SUM(e.s * cb.cw) AS BIGINT) AS t
      |         FROM q e JOIN cb ON cb.si = (e.i - 1) // 8 AND cb.j = (e.i - 1) % 8
      |         GROUP BY 1, 2, 3),
      |cand AS (SELECT pb.qid, cl.vec_id AS cid, pb.cdot
      |         FROM probes pb JOIN cells cl ON cl.cell = pb.cell AND cl.vec_id <> pb.qid),
      |adc AS (SELECT c.qid, c.cid, CAST(c.cdot + SUM(t.t) AS BIGINT) AS adot
      |        FROM cand c JOIN enc ON enc.vec_id = c.cid
      |                    JOIN tabs t ON t.qid = c.qid AND t.si = enc.si AND t.c = enc.code
      |        GROUP BY c.qid, c.cid, c.cdot),
      |short AS (SELECT qid, cid FROM (
      |            SELECT a.qid, a.cid,
      |              row_number() OVER (PARTITION BY a.qid
      |                ORDER BY CAST(a.adot AS DOUBLE) / nb.nrm DESC, a.cid) AS ar
      |            FROM adc a JOIN norms nb ON nb.vec_id = a.cid) WHERE ar <= 32),
      |dots AS (SELECT sh.qid, sh.cid, CAST(SUM(qa.s * qb.s) AS BIGINT) AS dot
      |         FROM short sh JOIN q qa ON qa.vec_id = sh.qid
      |                       JOIN q qb ON qb.vec_id = sh.cid AND qb.i = qa.i
      |         GROUP BY 1, 2),
      |cos AS (SELECT qid, cid, round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 12) AS cosine
      |        FROM dots JOIN norms na ON na.vec_id = qid JOIN norms nb ON nb.vec_id = cid),
      |rk AS (SELECT qid, cid, cosine,
      |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS "rank"
      |       FROM cos)
      |SELECT qid AS vec_id, "rank", cid AS neighbor_id, cosine
      |FROM rk WHERE "rank" <= 5 ORDER BY vec_id, "rank"""".stripMargin

  // ------------------------------------------------ q68 hybrid retrieval

  /** Tiny-frame rank without a global window: rank(x) = 1 + #{y better},
    * via a triangular self-join — both inputs here are LIMIT-20 frames, so
    * the join is trivially small and the plan carries zero unpartitioned
    * WindowExecs (the same discipline as the token-dictionary offsets). */
  private def rankSmall(df: DataFrame, scoreCol: String, better: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): DataFrame = {
    val a = df.as("a"); val b = df.as("b")
    a.join(b,
        better(col(s"b.$scoreCol"), col(s"a.$scoreCol")) ||
          (col(s"b.$scoreCol") === col(s"a.$scoreCol") && col("b.id") < col("a.id")),
        "left")
      .groupBy(col("a.id").as("id"), col(s"a.$scoreCol").as(scoreCol))
      .agg((count(col("b.id")) + 1).cast("long").as("rnk"))
  }

  /** North star — hybrid retrieval with reciprocal-rank fusion (Cormack &
    * Clarke 2009): top-20 BM25 hits for the bag {join, window, scan} fused
    * with the top-20 exact-cosine neighbors of document 0's embedding;
    * rrf_q = Σ_lists 10^9 div (60 + rank), an INTEGER sum of integer
    * ranks — engine-exact, no float fusion arithmetic. Both lists are
    * TakeOrdered top-k (scale-safe global top-N), ranks by triangular
    * join. Returns the fused top-10. */
  def q68HybridRrf(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.arrayDotScaled
    val bmTop = Corpus.bm25(docs(s, dir), "doc_id", "text",
        Seq("join", "window", "scan"))
      .orderBy(col("score_q").desc, col("id")).limit(20)
      .select("id", "score_q")
    val bmRanked = rankSmall(bmTop, "score_q", (b, a) => b > a)
      .select(col("id"), col("rnk").as("r_bm"))
    val e = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val withNorm = e.select(col("id"), col("vec"),
      sqrt(arrayDotScaled(col("vec"), col("vec"), 100000000L).cast("double")).as("nrm"))
    val q0 = withNorm.filter(col("id") === 0)
      .select(col("vec").as("qv"), col("nrm").as("qn"))
    val vecTop = withNorm.filter(col("id") =!= 0).crossJoin(broadcast(q0))
      .select(col("id"),
        round(arrayDotScaled(col("qv"), col("vec"), 100000000L).cast("double")
          / (col("qn") * col("nrm")), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("id")).limit(20)
    val vecRanked = rankSmall(vecTop, "cosine", (b, a) => b > a)
      .select(col("id"), col("rnk").as("r_vec"))
    bmRanked.join(vecRanked, Seq("id"), "full_outer")
      .withColumn("rrf_q",
        coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + r_bm)"), lit(0L)) +
          coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + r_vec)"), lit(0L)))
      .orderBy(col("rrf_q").desc, col("id")).limit(10)
      .select("id", "r_bm", "r_vec", "rrf_q")
  }

  val q68Sql: String =
    """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
      |tf AS (SELECT doc_id AS id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
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
      |bm AS (SELECT id, CAST(sum(contrib_q) AS BIGINT) AS score_q FROM c GROUP BY 1
      |       ORDER BY score_q DESC, id LIMIT 20),
      |bmr AS (SELECT id, row_number() OVER (ORDER BY score_q DESC, id) AS r_bm FROM bm),
      |ev AS (SELECT vec_id, i,
      |    CAST(sign(CAST(embedding[i] AS DOUBLE))
      |         * floor(abs(CAST(embedding[i] AS DOUBLE)) * 100000000 + 0.5) AS BIGINT) AS s
      |  FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |norms AS (SELECT vec_id, sqrt(CAST(CAST(SUM(s * s) AS BIGINT) AS DOUBLE)) AS nrm
      |          FROM ev GROUP BY 1),
      |dots AS (SELECT b.vec_id AS id, CAST(SUM(a.s * b.s) AS BIGINT) AS dot
      |         FROM ev a JOIN ev b ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0
      |         GROUP BY 1),
      |vt AS (SELECT d.id, round(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 12) AS cosine
      |       FROM dots d JOIN norms nq ON nq.vec_id = 0 JOIN norms nc ON nc.vec_id = d.id
      |       ORDER BY cosine DESC, id LIMIT 20),
      |vr AS (SELECT id, row_number() OVER (ORDER BY cosine DESC, id) AS r_vec FROM vt),
      |fused AS (SELECT COALESCE(bmr.id, vr.id) AS id,
      |       CAST(bmr.r_bm AS BIGINT) AS r_bm, CAST(vr.r_vec AS BIGINT) AS r_vec,
      |       COALESCE(1000000000 // (60 + bmr.r_bm), 0) + COALESCE(1000000000 // (60 + vr.r_vec), 0) AS rrf_q
      |FROM bmr FULL OUTER JOIN vr ON vr.id = bmr.id)
      |SELECT id, r_bm, r_vec, CAST(rrf_q AS BIGINT) AS rrf_q
      |FROM fused ORDER BY rrf_q DESC, id LIMIT 10""".stripMargin

  // ------------------------------------------ q71 unigram logprob scoring

  /** North star/text analysis — perplexity-style quality scoring
    * ([[Corpus.unigramLogProb]]): per-document corpus-unigram
    * log-probability sums with an integer cross-multiplied avg-logprob
    * gate. */
  def q71UnigramLogprob(s: SparkSession, dir: String): DataFrame =
    Corpus.unigramLogProb(docs(s, dir), "doc_id", "text").orderBy("id")

  val q71Sql: String =
    """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
      |tf AS (SELECT doc_id AS id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
      |cnt AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt),
      |sc AS (SELECT id, tf,
      |         CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lp_q
      |       FROM tf JOIN cnt USING (w) CROSS JOIN tot),
      |a AS (SELECT id, CAST(sum(tf) AS BIGINT) AS n_words,
      |        CAST(sum(tf * lp_q) AS BIGINT) AS sum_lp_q FROM sc GROUP BY 1)
      |SELECT id, n_words, sum_lp_q, sum_lp_q >= -3430000 * n_words AS pass_ppl
      |FROM a ORDER BY id""".stripMargin

  // ------------------------------------------------- q72 vocabulary report

  /** North star/text analysis — Zipf/vocabulary report
    * ([[Corpus.vocabReport]]): top-20 tokens + corpus scalars, the
    * pre-tokenizer sanity check of a curation run. */
  def q72VocabReport(s: SparkSession, dir: String): DataFrame =
    Corpus.vocabReport(docs(s, dir), "doc_id", "text", k = 20)
      .orderBy("rank")

  val q72Sql: String =
    """WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
      |cnt AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
      |sc AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size,
      |              CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |              CAST(sum(cnt) AS BIGINT) AS total_tokens FROM cnt),
      |top AS (SELECT w, cnt FROM cnt ORDER BY cnt DESC, w LIMIT 20),
      |r AS (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS "rank" FROM top)
      |SELECT "rank", w, cnt, vocab_size, n_hapax, total_tokens
      |FROM r CROSS JOIN sc ORDER BY "rank"""".stripMargin

  // ---------------------------------------------------- q73 PII scrubbing

  /** North star/curation — PII redaction audit ([[Corpus.scrubPii]]). The
    * synthetic corpus carries no natural PII, so the declared query seeds
    * each document with deterministic doc_id-derived PII (an email, a
    * phone, an IP, an SSN-shaped id) and scrubs it: per-class counts plus
    * the SHA-256 of the redacted text, both engines end-to-end. */
  def q73PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val seeded = docs(s, dir).select(col("doc_id"), concat(
      col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or 555-"),
      lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
      lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
      lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
      lit("."), pmod(col("doc_id") * 3, lit(256)).cast("string"),
      lit(" ssn 123-45-6789")).as("text"))
    Corpus.scrubPii(seeded, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_emails"), col("n_ids"),
        col("n_phones"), col("n_ips"),
        sha2(col("clean_text").cast("binary"), 256).as("clean_sha"))
      .orderBy("doc_id")
  }

  val q73Sql: String =
    """WITH seeded AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com or 555-' ||
      |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |    lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0') ||
      |    ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |    CAST(doc_id * 3 % 256 AS VARCHAR) || ' ssn 123-45-6789' AS text
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ids,
      |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
      |  sha256(
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g'),
      |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS clean_sha
      |FROM seeded ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- q74 boilerplate profiling

  /** North star/text analysis — boilerplate/common-gram profiling
    * ([[Corpus.boilerplate]]): fraction of each document's distinct
    * bigrams with document frequency ≥ 6% of the corpus; flag at ≥ 0.5.
    * The share-based threshold means the query is the same statement at
    * sf0.01 and 100 TB. */
  def q74Boilerplate(s: SparkSession, dir: String): DataFrame =
    Corpus.boilerplate(docs(s, dir), "doc_id", "text", n = 2,
        minDfPermille = 60L, flagRatio = 0.5)
      .orderBy("id")

  val q74Sql: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id AS id, array_to_string(t[i:i+1], ' ') AS s
      |       FROM tok, UNNEST(range(1, len(t))) AS u(i)),
      |d AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
      |nd AS (SELECT count(*) AS n_docs FROM documents),
      |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_grams,
      |          CAST(sum(CASE WHEN df * 1000 >= 60 * n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      |        FROM sh JOIN d USING (s) CROSS JOIN nd GROUP BY id)
      |SELECT id, n_grams, n_boiler,
      |  round(CAST(n_boiler AS DOUBLE) / n_grams, 12) AS boiler_ratio,
      |  CAST(n_boiler AS DOUBLE) / n_grams >= 0.5 AS flag_boiler
      |FROM agg ORDER BY id""".stripMargin

  // ------------------------------------------------- q75 semantic dedup

  /** North star/similarity — SemDeDup-style semantic deduplication
    * ([[Similarity.semanticDedup]]): connected components over the
    * embedding cosine ≥ 0.4 graph, each vector labeled with its cluster's
    * min id. Exact ×1e4-quantized dots on both engines (the q46 edge set);
    * components via recursive CTE in the oracle. */
  def q75SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.semanticDedup(e, minCosine = 0.4).orderBy("id")
  }

  val q75Sql: String =
    """WITH RECURSIVE
      |q AS (SELECT vec_id, list_transform(embedding, x ->
      |        CAST(sign(CAST(x AS DOUBLE)) * floor(abs(CAST(x AS DOUBLE)) * 10000 + 0.5) AS BIGINT)) AS s
      |      FROM embeddings),
      |n AS (SELECT vec_id, s, sqrt(CAST(list_inner_product(s, s) AS DOUBLE)) AS nrm FROM q),
      |e AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |      FROM n a JOIN n b ON a.vec_id < b.vec_id
      |      WHERE CAST(list_inner_product(a.s, b.s) AS DOUBLE) / (a.nrm * b.nrm) >= 0.4),
      |bidir AS (SELECT id_a AS src, id_b AS dst FROM e UNION ALL SELECT id_b, id_a FROM e),
      |reach(id, lbl) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.id)
      |SELECT id, min(lbl) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin

  // -------------------------------------------- q76 temperature sampling

  /** North star/curation — temperature-based domain mixture
    * ([[Corpus.sampleTemperature]]): 200 docs drawn across languages with
    * p_d ∝ √n_d, upweighting rare languages vs proportional sampling
    * (en is 44% of the corpus but gets ~28% of the sample). */
  def q76TemperatureSample(s: SparkSession, dir: String): DataFrame =
    Corpus.sampleTemperature(docs(s, dir), "doc_id", "lang", targetN = 200L)
      .orderBy("stratum", "smp_rank")

  val q76Sql: String =
    """WITH s AS (SELECT lang AS stratum, doc_id AS id,
      |             (doc_id * 2654435761 + 40503) % 2147483647 AS h FROM documents),
      |n AS (SELECT stratum, count(*) AS n_docs,
      |        CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS w_q FROM s GROUP BY 1),
      |tot AS (SELECT CAST(sum(w_q) AS BIGINT) AS w_total FROM n),
      |q AS (SELECT stratum, (200 * w_q + w_total - 1) // w_total AS quota
      |      FROM n CROSS JOIN tot),
      |r AS (SELECT stratum, id,
      |        row_number() OVER (PARTITION BY stratum ORDER BY h, id) AS smp_rank
      |      FROM s)
      |SELECT r.stratum, id, smp_rank, quota
      |FROM r JOIN q USING (stratum) WHERE smp_rank <= quota
      |ORDER BY stratum, smp_rank""".stripMargin

  // --------------------------------------------- q77 sliding-window chunks

  /** North star/curation — sliding-window chunking
    * ([[Corpus.chunkSliding]]): 16-token chunks every 8 tokens (50%
    * overlap), last chunk ragged; per-chunk content hashes. */
  def q77ChunkSliding(s: SparkSession, dir: String): DataFrame =
    Corpus.chunkSliding(docs(s, dir), "doc_id", "text", chunk = 16, stride = 8)
      .orderBy("id", "chunk_idx")

  val q77Sql: String =
    """WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |c AS (SELECT id, i // 8 AS chunk_idx, t[i+1:least(i+16, len(t))] AS ch
      |      FROM tok, UNNEST(range(0, greatest(len(t), 1), 8)) AS u(i)
      |      WHERE i < len(t))
      |SELECT id, chunk_idx, CAST(len(ch) AS BIGINT) AS n_tok,
      |  sha256(array_to_string(ch, ' ')) AS chunk_sha
      |FROM c ORDER BY id, chunk_idx""".stripMargin

  // ------------------------------------------- q78 stream-stream join

  /** Deterministic staging of the two-stream join source: error and click
    * events (epoch-ms times) split into two half-month files delivered
    * oldest-first one file per micro-batch, so pairs genuinely span batch
    * boundaries and the symmetric join state must carry across them. */
  private val stagedJoin = scala.collection.concurrent.TrieMap.empty[String, String]

  private def stageJoinSource(s: SparkSession, dir: String): String =
    stagedJoin.getOrElseUpdate(s"q78:$dir", {
      import java.nio.file.{Files, Path}
      val split = 1705363200000L // 2024-01-16T00:00:00Z
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("error", "click"))
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 1000").as("ms"), col("event_type"))
      val srcDir = Files.createTempDirectory("graft-sjoin-src")
      def stagePart(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = Files.createTempDirectory("graft-sjoin-part")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = Files.list(tmp)
        val part =
          try listing.toArray.map(_.asInstanceOf[Path])
            .find(_.toString.endsWith(".parquet")).get
          finally listing.close()
        val dst = srcDir.resolve(name)
        Files.move(part, dst)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val t0 = 1700000000000L
      stagePart(ev.filter(col("ms") < split), "00_first.parquet", t0)
      stagePart(ev.filter(col("ms") >= split), "01_second.parquet", t0 + 60000)
      srcDir.toString
    })

  /** S26 depth — stream-stream event-time interval join
    * ([[graft.streaming.StreamJoin.intervalJoin]]): every error paired
    * with the same user's clicks from the preceding 4 hours, the two
    * streams joined through watermarked symmetric state across TWO
    * micro-batches. The oracle is the batch interval join — bit-identical
    * output is the contract. */
  def q78StreamJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamJoin
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = stageJoinSource(s, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, ms BIGINT, event_type STRING")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val errors = stream.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        timestamp_millis(col("ms")).as("err_ts"))
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        timestamp_millis(col("ms")).as("click_ts"))
    val joined = StreamJoin.intervalJoin(errors, clicks, "user_id",
      "err_ts", "click_ts", lookbackMs = 14400000L, delayMs = 3600000L)
    val qn = s"q78_sjoin_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      joined.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-sjoin-ckpt"))
        .start().awaitTermination()
    }
    s.table(qn)
      .select(col("err_id"), col("click_id"), col("user_id"),
        expr("unix_micros(err_ts) div 1000").as("err_ms"),
        expr("unix_micros(click_ts) div 1000").as("click_ms"))
      .orderBy("err_id", "click_id")
  }

  val q78Sql: String =
    """SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id,
      |  epoch_ms(e.ts) AS err_ms, epoch_ms(c.ts) AS click_ms
      |FROM events e JOIN events c
      |  ON e.user_id = c.user_id
      | AND e.event_type = 'error' AND c.event_type = 'click'
      | AND epoch_ms(c.ts) BETWEEN epoch_ms(e.ts) - 14400000 AND epoch_ms(e.ts)
      |ORDER BY err_id, click_id""".stripMargin

  /** S26 depth (twenty-second streaming path) — stream-stream LEFT OUTER
    * interval join ([[graft.streaming.StreamJoin.intervalJoinLeftOuter]]):
    * q78's error ⟵ preceding-clicks pairing, but errors with NO click in
    * the 4 h window also emit, NULL-extended, once the watermark proves no
    * match can still arrive. The NULL verdict's TIMING is the semantics
    * under test: an error row is evicted (and emits) only when the join's
    * global watermark — min(max err ts, max click ts) − 1 h — passes its
    * window bound, so errors newer than the final watermark never emit a
    * NULL row. The oracle replicates that cutoff arithmetic exactly
    * (q190/q210's gate-the-drop-semantics pattern). */
  def q281StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamJoin
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = stageJoinSource(s, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, ms BIGINT, event_type STRING")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val errors = stream.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        timestamp_millis(col("ms")).as("err_ts"))
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        timestamp_millis(col("ms")).as("click_ts"))
    val joined = StreamJoin.intervalJoinLeftOuter(errors, clicks, "user_id",
      "err_ts", "click_ts", lookbackMs = 14400000L, delayMs = 3600000L)
    val qn = s"q281_sojoin_${System.identityHashCode(s)}"
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      joined.writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.streaming.StreamConf.ckptDir("graft-sojoin-ckpt"))
        .start().awaitTermination()
    }
    s.table(qn)
      .select(col("err_id"), col("click_id"), col("user_id"),
        expr("unix_micros(err_ts) div 1000").as("err_ms"),
        expr("unix_micros(click_ts) div 1000").as("click_ms"))
      .orderBy("err_id", "click_id")
  }

  val q281Sql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type
      |      FROM events WHERE event_type IN ('error', 'click')),
      |e AS (SELECT event_id AS err_id, user_id, ms AS err_ms FROM ev WHERE event_type = 'error'),
      |c AS (SELECT event_id AS click_id, user_id, ms AS click_ms FROM ev WHERE event_type = 'click'),
      |wm AS (SELECT LEAST((SELECT max(err_ms) FROM e), (SELECT max(click_ms) FROM c))
      |         - 3600000 AS cutoff),
      |m AS (SELECT e.err_id, c.click_id, e.user_id, e.err_ms, c.click_ms
      |      FROM e JOIN c ON c.user_id = e.user_id
      |       AND c.click_ms BETWEEN e.err_ms - 14400000 AND e.err_ms)
      |SELECT err_id, click_id, user_id, err_ms, click_ms FROM m
      |UNION ALL
      |SELECT e.err_id, CAST(NULL AS BIGINT), e.user_id, e.err_ms, CAST(NULL AS BIGINT)
      |FROM e CROSS JOIN wm
      |WHERE e.err_ms < wm.cutoff
      |  AND NOT EXISTS (SELECT 1 FROM m WHERE m.err_id = e.err_id)
      |ORDER BY err_id, click_id""".stripMargin

  // ----------------------------------------------- q79 triangle counting

  /** Graph depth — per-node triangle counts ([[Graph.triangles]]) over
    * the cosine ≥ 0.30 similarity graph: the transitivity diagnostic for
    * dup clusters (how cliquey is the neighborhood a threshold induces).
    * Degree-ordered orientation on the Spark side; the oracle counts the
    * same triangles with the naive a<b<c triple join. */
  def q79Triangles(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
    Graph.triangles(e.select("id"),
        Similarity.cosinePairs(e, minCosine = 0.30).select("id_a", "id_b"))
      .orderBy("id")
  }

  val q79Sql: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding, x ->
      |        CAST(sign(CAST(x AS DOUBLE)) * floor(abs(CAST(x AS DOUBLE)) * 10000 + 0.5) AS BIGINT)) AS s
      |      FROM embeddings),
      |n AS (SELECT vec_id, s, sqrt(CAST(list_inner_product(s, s) AS DOUBLE)) AS nrm FROM q),
      |e AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |      FROM n a JOIN n b ON a.vec_id < b.vec_id
      |      WHERE CAST(list_inner_product(a.s, b.s) AS DOUBLE) / (a.nrm * b.nrm) >= 0.30),
      |tri AS (SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c
      |        FROM e ab JOIN e bc ON ab.id_b = bc.id_a
      |        JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b),
      |cnt AS (SELECT u.id, count(*) AS n_tri
      |        FROM tri, UNNEST([a, b, c]) AS u(id) GROUP BY 1)
      |SELECT vec_id AS id, COALESCE(n_tri, 0) AS n_tri
      |FROM embeddings LEFT JOIN cnt ON cnt.id = vec_id
      |ORDER BY id""".stripMargin

  // ------------------------------------------------ q80 grouped quantiles

  /** Profiling depth — exact grouped quantiles ([[Profile.quantiles]]):
    * p50/p90/p99 of event value per event type, cents-exact inputs,
    * identical interpolation formula on both engines. */
  def q80Quantiles(s: SparkSession, dir: String): DataFrame =
    Profile.quantiles(t(s, dir, "events"), "event_type", "value",
        Seq(0.5, 0.9, 0.99))
      .orderBy("key")

  val q80Sql: String =
    """SELECT event_type AS key, count(*) AS n,
      |  round(quantile_cont(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.5), 6) AS p50,
      |  round(quantile_cont(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.9), 6) AS p90,
      |  round(quantile_cont(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.99), 6) AS p99
      |FROM events GROUP BY 1 ORDER BY key""".stripMargin

  // --------------------------------------- q81 exactly-once stream ingest

  /** Staging for the ingest stream: error/click/view/purchase/signup
    * events in three 10-day band files, oldest first. */
  private val stagedIngest = scala.collection.concurrent.TrieMap.empty[String, String]

  private def stageIngestSource(s: SparkSession, dir: String): String =
    stagedIngest.getOrElseUpdate(s"q81:$dir", {
      import java.nio.file.{Files, Path}
      val b1 = 1704844800000L // 2024-01-10T00:00:00Z
      val b2 = 1705708800000L // 2024-01-20T00:00:00Z
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) div 1000").as("ms"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      val srcDir = Files.createTempDirectory("graft-ingest-src")
      def stagePart(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = Files.createTempDirectory("graft-ingest-part")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = Files.list(tmp)
        val part =
          try listing.toArray.map(_.asInstanceOf[Path])
            .find(_.toString.endsWith(".parquet")).get
          finally listing.close()
        val dst = srcDir.resolve(name)
        Files.move(part, dst)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val t0 = 1700000000000L
      stagePart(ev.filter(col("ms") < b1), "00_first.parquet", t0)
      stagePart(ev.filter(col("ms") >= b1 && col("ms") < b2), "01_second.parquet", t0 + 60000)
      stagePart(ev.filter(col("ms") >= b2), "02_third.parquet", t0 + 120000)
      srcDir.toString
    })

  private val ingestStores = scala.collection.concurrent.TrieMap.empty[String, String]

  /** S26/engine depth — exactly-once streaming ingest into the
    * transactional store ([[graft.streaming.StreamingIngest]]): each
    * micro-batch upserts its per-user (count, cents-sum) aggregate, so the
    * final table holds each user's stats from the LAST batch that saw
    * them — the hash gate therefore proves both ordered batch processing
    * and replace-by-key merge semantics. Re-runs replay already-committed
    * batch ids and are skipped by the manifest ledger (the exactly-once
    * path exercised as a query). */
  def q81StreamIngest(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageIngestSource(s, dir)
    val store = ingestStores.getOrElseUpdate(s"q81:$dir", {
      val p = java.nio.file.Files.createTempDirectory("graft-ingest-store")
        .resolve("user_stats").toString
      val empty = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n BIGINT, sum_cents BIGINT"))
      graft.sources.TxStore.init(empty, p, "user_id", nBuckets = 4)
      p
    })
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, ms BIGINT, cents BIGINT")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    graft.streaming.StreamConf.withStatePartitions(s, 4) {
      graft.streaming.StreamingIngest.ingestAvailableNow(stream, store, "user_id",
        graft.streaming.StreamConf.ckptDir("graft-ingest-ckpt"),
        batch => batch.groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents")))
    }
    graft.sources.TxStore.read(s, store).orderBy("user_id")
  }

  val q81Sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms,
      |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |             CASE WHEN epoch_ms(ts) < 1704844800000 THEN 0
      |                  WHEN epoch_ms(ts) < 1705708800000 THEN 1 ELSE 2 END AS band
      |           FROM events),
      |agg AS (SELECT user_id, band, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |        FROM e GROUP BY 1, 2),
      |last AS (SELECT user_id, max(band) AS band FROM agg GROUP BY 1)
      |SELECT user_id, n, sum_cents FROM agg JOIN last USING (user_id, band)
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------ q82 snapshot CDC diff

  private val cdcStores = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Engine depth — CDC between snapshots: the row-level diff v0 → v1 of a
    * transactional store (updates + inserts; TxStore merges never delete),
    * computed with one full-outer join of the two snapshot reads. The
    * store's v1 applies a deterministic delta (+100.00 to custkey ≡ 0 mod
    * 7, plus synthetic new customers for custkey ≡ 3 mod 100), so the
    * oracle reproduces the diff arithmetically from the base table. */
  def q82TxChanges(s: SparkSession, dir: String): DataFrame = {
    val path = cdcStores.getOrElseUpdate(s"q82:$dir", {
      val p = java.nio.file.Files.createTempDirectory("graft-cdc")
        .resolve("customer").toString
      val base = t(s, dir, "customer").select(col("c_custkey"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal_q"))
      graft.sources.TxStore.init(base, p, "c_custkey", nBuckets = 8)
      val updates = base.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .withColumn("bal_q", col("bal_q") + 10000L)
      val inserts = base.filter(pmod(col("c_custkey"), lit(100)) === 3)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), col("bal_q"))
      graft.sources.TxStore.merge(s, p, updates.unionByName(inserts), "c_custkey")
      p
    })
    val v0 = graft.sources.TxStore.read(s, path, Some(0))
      .select(col("c_custkey"), col("bal_q").as("old_bal_q"))
    val v1 = graft.sources.TxStore.read(s, path, Some(1))
      .select(col("c_custkey"), col("bal_q").as("new_bal_q"))
    v0.join(v1, Seq("c_custkey"), "full_outer")
      .filter(col("old_bal_q").isNull || col("new_bal_q").isNull ||
        col("old_bal_q") =!= col("new_bal_q"))
      .select(col("c_custkey"), col("old_bal_q"), col("new_bal_q"),
        when(col("old_bal_q").isNull, "insert").otherwise("update").as("change"))
      .orderBy("c_custkey")
  }

  val q82Sql: String =
    """WITH base AS (SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_q
      |              FROM customer),
      |d AS (SELECT c_custkey, bal_q + 10000 AS new_bal_q, 'update' AS change
      |      FROM base WHERE c_custkey % 7 = 0
      |      UNION ALL
      |      SELECT c_custkey + 1000000, bal_q, 'insert' FROM base WHERE c_custkey % 100 = 3)
      |SELECT d.c_custkey, b.bal_q AS old_bal_q, d.new_bal_q, d.change
      |FROM d LEFT JOIN base b ON b.c_custkey = d.c_custkey
      |ORDER BY d.c_custkey""".stripMargin

  // ----------------------------------------------- q69/q70 TxStore surface

  /** One TxStore per sf dir for the declared transactional queries: v0 =
    * the customer table; v1 = a deterministic upsert (+100.00 to every
    * custkey ≡ 0 mod 10). Bench re-runs re-merge the SAME delta — content-
    * idempotent, so reads stay hash-stable while versions advance (each
    * run exercises a real copy-on-write commit). */
  private val txStores = scala.collection.concurrent.TrieMap.empty[String, String]

  private def ensureTxStore(s: SparkSession, dir: String): String = {
    val path = txStores.getOrElseUpdate(s"tx:$dir",
      java.nio.file.Files.createTempDirectory("graft-txq").resolve("customer").toString)
    val base = t(s, dir, "customer").select(col("c_custkey"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal_q"),
      col("c_mktsegment"))
    if (graft.sources.TxStore.currentVersion(path) < 0)
      graft.sources.TxStore.init(base, path, "c_custkey", nBuckets = 8)
    val delta = base.filter(pmod(col("c_custkey"), lit(10)) === 0)
      .withColumn("bal_q", col("bal_q") + 10000L)
    graft.sources.TxStore.merge(s, path, delta, "c_custkey")
    path
  }

  /** Transactional copy-on-write upsert (graft.sources.TxStore.merge) +
    * snapshot read: per-segment balances AFTER the committed delta. Every
    * run performs a full bucket-scoped COW commit; the oracle applies the
    * same upsert arithmetically. */
  def q69TxUpsert(s: SparkSession, dir: String): DataFrame =
    graft.sources.TxStore.read(s, ensureTxStore(s, dir))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("bal_q").as("bal_sum_q"))
      .orderBy("c_mktsegment")

  val q69Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           + CASE WHEN c_custkey % 10 = 0 THEN 10000 ELSE 0 END) AS BIGINT) AS bal_sum_q
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Snapshot retention ([[graft.sources.TxStore.expire]]) made
    * query-visible — the VACUUM/retention verb every table format pairs
    * with time travel: a dedicated store takes two full-coverage merges
    * (every bucket rewritten), then drops all snapshots older than the
    * current one. Runtime gates in the q90 style make regressions fail
    * correctness, not just perf: expire must actually reclaim data dirs
    * (both superseded versions' files), reading an expired version must
    * throw, and the surviving snapshot's per-segment balances hash-match
    * the plain upsert arithmetic — retention changes history, never
    * current data. */
  def q152TxExpire(s: SparkSession, dir: String): DataFrame = {
    val path = txStores.getOrElseUpdate(s"exp:$dir",
      java.nio.file.Files.createTempDirectory("graft-txe").resolve("customer").toString)
    val base = t(s, dir, "customer").select(col("c_custkey"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal_q"),
      col("c_mktsegment"))
    if (graft.sources.TxStore.currentVersion(path) < 0) {
      graft.sources.TxStore.init(base.coalesce(1), path, "c_custkey", nBuckets = 8)
      for ((m, bump) <- Seq((10, 10000L), (7, 700L)))
        graft.sources.TxStore.merge(s, path,
          base.filter(pmod(col("c_custkey"), lit(m)) === 0)
            .withColumn("bal_q", col("bal_q") + bump), "c_custkey")
      val cur = graft.sources.TxStore.currentVersion(path)
      val dropped = graft.sources.TxStore.expire(path, keepFrom = cur)
      require(dropped.nonEmpty,
        s"expire(keepFrom=$cur) reclaimed nothing — retention is not working")
      val expiredFails =
        try { graft.sources.TxStore.read(s, path, Some(0)).count(); false }
        catch { case _: Exception => true }
      require(expiredFails, "reading an expired snapshot must fail loudly")
    }
    graft.sources.TxStore.read(s, path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("bal_q").as("bal_sum_q"))
      .orderBy("c_mktsegment")
  }

  // delta wins per merge: %7 bump applied after %10 (the oracle mirrors it)
  val q152Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           + CASE WHEN c_custkey % 7 = 0 THEN 700
      |                  WHEN c_custkey % 10 = 0 THEN 10000 ELSE 0 END) AS BIGINT) AS bal_sum_q
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Selective small-file compaction ([[graft.sources.TxStore.compactBuckets]])
    * made query-visible: a DEDICATED store (so the shared q69/q70 version
    * history stays untouched) takes three base-derived merges per run —
    * each fragments its touched buckets — then compacts and reads back.
    * Per-segment balances must equal the plain upsert arithmetic:
    * compaction changes layout, never data (the hash gate proves it); the
    * TxStoreSpec pins the file-count mechanics. Every bench re-run
    * re-merges the SAME base-derived deltas (content-idempotent) and
    * re-compacts whatever they fragmented. */
  def q128TxCompact(s: SparkSession, dir: String): DataFrame = {
    val path = txStores.getOrElseUpdate(s"cmp:$dir",
      java.nio.file.Files.createTempDirectory("graft-txc").resolve("customer").toString)
    val base = t(s, dir, "customer").select(col("c_custkey"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal_q"),
      col("c_mktsegment"))
    if (graft.sources.TxStore.currentVersion(path) < 0)
      graft.sources.TxStore.init(base.coalesce(1), path, "c_custkey", nBuckets = 8)
    for ((m, bump) <- Seq((10, 10000L), (7, 700L), (13, 1300L)))
      graft.sources.TxStore.merge(s, path,
        base.filter(pmod(col("c_custkey"), lit(m)) === 0)
          .withColumn("bal_q", col("bal_q") + bump), "c_custkey")
    graft.sources.TxStore.compactBuckets(s, path)
    graft.sources.TxStore.read(s, path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("bal_q").as("bal_sum_q"))
      .orderBy("c_mktsegment")
  }

  // delta wins per merge, so a key in several deltas keeps the LAST bump
  // (13 applied after 7 after 10) — the oracle mirrors the merge order
  val q128Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           + CASE WHEN c_custkey % 13 = 0 THEN 1300
      |                  WHEN c_custkey % 7 = 0 THEN 700
      |                  WHEN c_custkey % 10 = 0 THEN 10000 ELSE 0 END) AS BIGINT) AS bal_sum_q
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Additive schema evolution ([[graft.sources.TxStore.merge]]'s widening
    * path) made query-visible: a DEDICATED store inits WITHOUT the `tier`
    * column, then one base-derived merge adds it for the c_custkey % 5 = 0
    * cohort — pre-evolution rows read the new column as NULL (surfaced as
    * 'none'), exactly the Avro/parquet additive contract the reader
    * implements via unionByName(allowMissingColumns). The per-(segment,
    * tier) counts hash-gate both the widened schema and the null-fill:
    * an evolution bug (dropped column, wrong null-fill, old files
    * re-written) shifts a group count. Content-idempotent across bench
    * re-runs: the same delta re-merges to the same table. */
  def q133TxEvolve(s: SparkSession, dir: String): DataFrame = {
    val path = txStores.getOrElseUpdate(s"evo:$dir",
      java.nio.file.Files.createTempDirectory("graft-txe").resolve("customer").toString)
    val base = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal_q"))
    if (graft.sources.TxStore.currentVersion(path) < 0)
      graft.sources.TxStore.init(
        base.select("c_custkey", "c_mktsegment").coalesce(1), path,
        "c_custkey", nBuckets = 8)
    val delta = base.filter(pmod(col("c_custkey"), lit(5)) === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        when(col("bal_q") > 500000L, lit("high")).otherwise(lit("low")).as("tier"))
    graft.sources.TxStore.merge(s, path, delta, "c_custkey")
    graft.sources.TxStore.read(s, path)
      .groupBy(col("c_mktsegment"), coalesce(col("tier"), lit("none")).as("tier"))
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment", "tier")
  }

  val q133Sql: String =
    """SELECT c_mktsegment,
      |  CASE WHEN c_custkey % 5 = 0
      |       THEN (CASE WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) > 500000
      |                  THEN 'high' ELSE 'low' END)
      |       ELSE 'none' END AS tier,
      |  count(*) AS n
      |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Time travel: the same store read AT VERSION 0 — the pre-upsert
    * snapshot, byte-stable no matter how many merges later runs have
    * committed (the snapshot-isolation contract, query-visible). */
  def q70TxTimeTravel(s: SparkSession, dir: String): DataFrame =
    graft.sources.TxStore.read(s, ensureTxStore(s, dir), version = Some(0))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("bal_q").as("bal_sum_q"))
      .orderBy("c_mktsegment")

  val q70Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS bal_sum_q
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------- registry

  // ------------------------------------------------- q259 heaps' law

  /** Corpus profiling — Heaps'-law vocabulary-growth fit per source:
    * V(n) ≈ K·n^β estimated as the log–log regression of cumulative
    * distinct types against cumulative tokens at each doc boundary.
    * First occurrences come from ONE `min(doc_id)` aggregate per (source,
    * type) — never a running distinct; the two cumulative series share a
    * per-source window (at crawl scale swap in the range-partitioned
    * prefix machinery of [[graft.operators.Ranks.prefixSums]]); logs are
    * rounded to integer millis before the moment sums (q177's float
    * discipline). β ≈ slope_milli / 1000, sublinear < 1 by Heaps' law. */
  def q259HeapsFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs(s, dir).select(col("source"), col("doc_id"),
      expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("t"))
    val perDoc = tok.select(col("source"), col("doc_id"),
      expr("CAST(size(t) AS BIGINT)").as("n_tok"))
    val newTypes = tok
      .select(col("source"), col("doc_id"), explode(col("t")).as("w"))
      .groupBy("source", "w").agg(min("doc_id").as("doc_id"))
      .groupBy("source", "doc_id").agg(count(lit(1)).as("new_types"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc.join(newTypes, Seq("source", "doc_id"), "left")
      .select(col("source"), col("doc_id"), col("n_tok"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .withColumn("cum_typ", sum("new_types").over(w))
      .filter(col("cum_tok") > 0L && col("cum_typ") > 0L)
      .select(col("source"),
        floor(log(col("cum_tok").cast("double")) * 1000.0 + 0.5).cast("long").as("lx"),
        floor(log(col("cum_typ").cast("double")) * 1000.0 + 0.5).cast("long").as("ly"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_points"),
        sum("lx").as("s_x"), sum("ly").as("s_y"),
        sum(col("lx") * col("lx")).as("s_xx"),
        sum(col("lx") * col("ly")).as("s_xy"))
      .withColumn("num", expr("n_points * s_xy - s_x * s_y"))
      .withColumn("den", expr("n_points * s_xx - s_x * s_x"))
      .withColumn("beta_milli", expr(graft.operators.Analytics
        .floorDivScaledSql("num", "den", 1000L)))
      .orderBy("source")
  }

  val q259Sql: String = {
    val fd = graft.operators.Analytics.floorDivScaledSql("num", "den", 1000L, op = "//")
    s"""WITH tok AS (SELECT source, doc_id,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |pd AS (SELECT source, doc_id, CAST(len(t) AS BIGINT) AS n_tok FROM tok),
      |fw AS (SELECT source, w, min(doc_id) AS doc_id
      |  FROM (SELECT source, doc_id, unnest(t) AS w FROM tok) GROUP BY 1, 2),
      |nt AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS new_types
      |  FROM fw GROUP BY 1, 2),
      |c AS (SELECT pd.source,
      |    CAST(sum(n_tok) OVER (PARTITION BY pd.source ORDER BY pd.doc_id) AS BIGINT) AS cum_tok,
      |    CAST(sum(COALESCE(new_types, 0)) OVER (PARTITION BY pd.source ORDER BY pd.doc_id) AS BIGINT) AS cum_typ
      |  FROM pd LEFT JOIN nt ON nt.source = pd.source AND nt.doc_id = pd.doc_id),
      |h AS (SELECT source,
      |    CAST(floor(ln(CAST(cum_tok AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS lx,
      |    CAST(floor(ln(CAST(cum_typ AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS ly
      |  FROM c WHERE cum_tok > 0 AND cum_typ > 0),
      |o AS (SELECT source, CAST(count(*) AS BIGINT) AS n_points,
      |    CAST(sum(lx) AS BIGINT) AS s_x, CAST(sum(ly) AS BIGINT) AS s_y,
      |    CAST(sum(lx * lx) AS BIGINT) AS s_xx,
      |    CAST(sum(lx * ly) AS BIGINT) AS s_xy
      |  FROM h GROUP BY 1),
      |w2 AS (SELECT *, n_points * s_xy - s_x * s_y AS num,
      |    n_points * s_xx - s_x * s_x AS den FROM o)
      |SELECT source, n_points, s_x, s_y, s_xx, s_xy, num, den,
      |  CAST($fd AS BIGINT) AS beta_milli
      |FROM w2 ORDER BY source""".stripMargin
  }

  // ------------------------------------------- q260 clustering coefficient

  /** Graph analytics — local clustering coefficient over the cosine ≥ 0.30
    * similarity graph ([[Graph.clusteringCoeff]]): cc(v) = 2·tri(v) /
    * (deg(v)(deg(v)−1)) in ppm, NULL when deg < 2. Same degree-ordered
    * wedge machinery as q79 — the coefficient adds only the broadcast-
    * scale degree join, so the 100 TB posture is q79's. */
  def q260ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
    Graph.clusteringCoeff(e.select("id"),
        Similarity.cosinePairs(e, minCosine = 0.30).select("id_a", "id_b"))
      .orderBy("id")
  }

  val q260Sql: String = {
    val fd = graft.operators.Analytics.floorDivScaledSql(
      "2 * n_tri", "deg * (deg - 1)", 1000000L, op = "//")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding, x ->
      |        CAST(sign(CAST(x AS DOUBLE)) * floor(abs(CAST(x AS DOUBLE)) * 10000 + 0.5) AS BIGINT)) AS s
      |      FROM embeddings),
      |n AS (SELECT vec_id, s, sqrt(CAST(list_inner_product(s, s) AS DOUBLE)) AS nrm FROM q),
      |e AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |      FROM n a JOIN n b ON a.vec_id < b.vec_id
      |      WHERE CAST(list_inner_product(a.s, b.s) AS DOUBLE) / (a.nrm * b.nrm) >= 0.30),
      |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
      |        SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e) GROUP BY 1),
      |tri AS (SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c
      |        FROM e ab JOIN e bc ON ab.id_b = bc.id_a
      |        JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b),
      |cnt AS (SELECT u.id, CAST(count(*) AS BIGINT) AS n_tri
      |        FROM tri, UNNEST([a, b, c]) AS u(id) GROUP BY 1),
      |f AS (SELECT vec_id AS id, COALESCE(dg.deg, 0) AS deg,
      |        COALESCE(cnt.n_tri, 0) AS n_tri
      |      FROM embeddings LEFT JOIN cnt ON cnt.id = vec_id
      |        LEFT JOIN dg ON dg.id = vec_id)
      |SELECT id, deg, n_tri, CAST($fd AS BIGINT) AS cc_ppm
      |FROM f ORDER BY id""".stripMargin
  }

  // ------------------------------------------------- q261 textrank

  /** Text analysis — TextRank keyword extraction: PageRank
    * ([[Graph.pagerank]], 3 rounds, d=0.85, integer rank_q) over the
    * undirected adjacent-token co-occurrence graph, top-20 words. The
    * unweighted-edge simplification is documented (co-occurrence
    * multiplicity does not reweight); the pair stream is one array-zip
    * per document — no self-join on positions. */
  def q261Textrank(s: SparkSession, dir: String): DataFrame = {
    val pairs = docs(s, dir)
      .select(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("t"))
      .filter(expr("size(t) >= 2"))
      .select(explode(expr(
        """filter(transform(sequence(1, size(t) - 1),
          |  i -> named_struct('wa', element_at(t, i), 'wb', element_at(t, i + 1))),
          |  p -> p.wa != p.wb)""".stripMargin)).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    val edges = pairs.select(col("wa").as("src"), col("wb").as("dst"))
      .unionByName(pairs.select(col("wb").as("src"), col("wa").as("dst")))
    Graph.pagerank(edges, iters = 3, d100 = 85)
      .orderBy(col("rank_q").desc, col("id"))
      .limit(20)
      .select(col("id").as("word"), col("rank_q"))
  }

  val q261Sql: String = {
    def iter(prev: String, cur: String): String =
      s"""s$cur AS (SELECT e.dst AS id, CAST(SUM(r.rank_q // d.out_deg) AS BIGINT) AS in_q
         |       FROM e JOIN r$prev r ON r.id = e.src JOIN deg d ON d.id = e.src GROUP BY 1),
         |r$cur AS (SELECT n.id, CAST(150000000 + COALESCE(s$cur.in_q, 0) * 85 // 100 AS BIGINT) AS rank_q
         |       FROM nodes n LEFT JOIN s$cur ON s$cur.id = n.id)""".stripMargin
    s"""WITH tok AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |            FROM documents WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2),
       |big AS (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z FROM tok),
       |p AS (SELECT z[1] AS wa, z[2] AS wb FROM big WHERE z[1] != z[2]),
       |e AS (SELECT DISTINCT src, dst FROM (
       |        SELECT wa AS src, wb AS dst FROM p
       |        UNION ALL SELECT wb, wa FROM p)),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |deg AS (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY 1),
       |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank_q FROM nodes),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")}
       |SELECT id AS word, rank_q FROM r3
       |ORDER BY rank_q DESC, word LIMIT 20""".stripMargin
  }

  // ------------------------------------------------- q268 bfs distance

  /** Graph analytics — exact ≤4-hop distance to the nearest NATION_0
    * supplier over the undirected co-purchase graph (q62's bipartite
    * customer↔supplier node encoding), via [[Graph.bfsDistance]]: R
    * min-plus rounds, NULL = "not within R hops" (declared semantics,
    * same bounded-round contract as q221/q232). Each round is one
    * equi-join + min-aggregation on node id; only the reached frontier
    * carries state. */
  def q268BfsDistance(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("id_a"),
        (col("l_suppkey") * 2 + 1).as("id_b"))
      .distinct()
    val seeds = t(s, dir, "supplier").filter(col("s_nationkey") === 0)
      .select((col("s_suppkey") * 2 + 1).as("id"))
    Graph.bfsDistance(pairs, seeds, rounds = 4).orderBy("id")
  }

  val q268Sql: String = {
    // each round references d$prev twice — MATERIALIZED per round (the
    // q232 inlining-blowup rule)
    def round(prev: String, cur: String): String =
      s"""n$cur AS (SELECT e.dst AS id, CAST(min(d.dist) + 1 AS BIGINT) AS nd
         |       FROM e JOIN d$prev d ON d.id = e.src AND d.dist IS NOT NULL
         |       GROUP BY 1),
         |d$cur AS MATERIALIZED (SELECT d.id,
         |        COALESCE(LEAST(d.dist, n$cur.nd), d.dist, n$cur.nd) AS dist
         |      FROM d$prev d LEFT JOIN n$cur ON n$cur.id = d.id)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |seeds AS (SELECT s_suppkey * 2 + 1 AS id FROM supplier WHERE s_nationkey = 0),
       |d0 AS MATERIALIZED (SELECT n.id,
       |        CASE WHEN s.id IS NOT NULL THEN CAST(0 AS BIGINT) END AS dist
       |      FROM nodes n LEFT JOIN seeds s ON s.id = n.id),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")},
       |${round("3", "4")}
       |SELECT id, dist FROM d4 ORDER BY id""".stripMargin
  }

  // ------------------------------------------------- q280 weighted sssp

  /** Graph analytics — cheapest procurement cost (integer cents) from any
    * NATION_0 supplier within ≤ 4 edges over the WEIGHTED customer↔supplier
    * co-purchase graph (q268's bipartite node encoding; edge weight = the
    * cheapest l_extendedprice ever traded between the pair, in cents), via
    * [[Graph.ssspWeighted]] — Bellman–Ford min-plus rounds, so a cheap
    * 3-hop route beats an expensive direct edge. NULL = not reachable
    * within 4 edges (the q268 bounded-round contract). Each round is one
    * equi-join + min-aggregation on node id; the weight is exact integer
    * cents on both engines. */
  def q280SsspWeighted(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("id_a"),
        (col("l_suppkey") * 2 + 1).as("id_b"))
      .agg(min(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("w"))
    val seeds = t(s, dir, "supplier").filter(col("s_nationkey") === 0)
      .select((col("s_suppkey") * 2 + 1).as("id"))
    Graph.ssspWeighted(edges, seeds, rounds = 4).orderBy("id")
  }

  val q280Sql: String = {
    // each round references d$prev twice — MATERIALIZED per round (the
    // q232 inlining-blowup rule)
    def round(prev: String, cur: String): String =
      s"""n$cur AS (SELECT e.dst AS id, CAST(min(d.cost + e.w) AS BIGINT) AS nc
         |       FROM e JOIN d$prev d ON d.id = e.src AND d.cost IS NOT NULL
         |       GROUP BY 1),
         |d$cur AS MATERIALIZED (SELECT d.id,
         |        COALESCE(LEAST(d.cost, n$cur.nc), d.cost, n$cur.nc) AS cost
         |      FROM d$prev d LEFT JOIN n$cur ON n$cur.id = d.id)""".stripMargin
    s"""WITH ew AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
       |        min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS w
       |      FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT src, dst, min(w) AS w FROM (
       |        SELECT src, dst, w FROM ew
       |        UNION ALL SELECT dst, src, w FROM ew)
       |      WHERE src != dst GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |seeds AS (SELECT s_suppkey * 2 + 1 AS id FROM supplier WHERE s_nationkey = 0),
       |d0 AS MATERIALIZED (SELECT n.id,
       |        CASE WHEN s.id IS NOT NULL THEN CAST(0 AS BIGINT) END AS cost
       |      FROM nodes n LEFT JOIN seeds s ON s.id = n.id),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")},
       |${round("3", "4")}
       |SELECT id, cost FROM d4 ORDER BY id""".stripMargin
  }

  // ------------------------------------------------- q269 dbscan

  /** Clustering — DBSCAN over the cosine ≥ 0.30 ε-graph (minPts = 4,
    * neighbor count excludes self): core points are nodes with ≥ 4
    * ε-neighbors, clusters are [[Graph.labelPropagation]] min-label
    * components of the core–core subgraph (6 bounded rounds — the
    * declared-semantics contract of q221/q232/q268), border points take
    * the MIN cluster label among their core neighbors (a deterministic
    * refinement of DBSCAN's order-dependent assignment), the rest are
    * noise (−1). Every stage is an equi-join + aggregation on node id;
    * the ε-graph build is q79's bucketed cosine join. */
  def q269Dbscan(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
    val pairs = Similarity.cosinePairs(e, minCosine = 0.30)
      .select("id_a", "id_b")
    dbscanAssign(e.select("id"), pairs)
  }

  /** Shared DBSCAN assignment over a pre-built ε-graph edge frame
    * (id_a < id_b): core = degree ≥ 4 in the symmetrized graph, clusters =
    * min-label components of the core–core subgraph (6 bounded rounds),
    * border = min core-neighbor label, else noise. Factored so q269 (exact
    * all-pairs ε-graph) and q278 (banded-LSH ε-graph, the 100 TB form)
    * share one implementation — only the candidate source differs. */
  private[queries] def dbscanAssign(allIds: DataFrame,
      rawPairs: DataFrame): DataFrame = {
    // the ε-graph feeds FOUR consumers (two sym orientations, the core
    // filter, the core-edge build) — truncate here so the candidate join
    // (exact broadcast scan in q269, banded-LSH index in q278) executes
    // exactly once, not once per plan branch (the q269 193 s lesson)
    val pairs = rawPairs.localCheckpoint()
    val sym = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val core = sym.groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("deg")).filter(col("deg") >= 4L).select("id")
    val coreEdges = pairs
      .join(core.select(col("id").as("id_a")), "id_a", "left_semi")
      .join(core.select(col("id").as("id_b")), "id_b", "left_semi")
    val cc = Graph.labelPropagation(coreEdges, iters = 6)
    val coreLabels = core.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("core_cluster"))
    val nbrCoreMin = sym
      .join(coreLabels.select(col("id").as("id_b"), col("core_cluster")), "id_b")
      .groupBy(col("id_a").as("id")).agg(min("core_cluster").as("nbr_cluster"))
    allIds
      .join(coreLabels, Seq("id"), "left")
      .join(nbrCoreMin, Seq("id"), "left")
      .select(col("id"),
        when(col("core_cluster").isNotNull, "core")
          .when(col("nbr_cluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("core_cluster"), col("nbr_cluster"), lit(-1L)).as("cluster"))
      .orderBy("id")
  }

  /** Shared DBSCAN oracle tail: consumes an `e(id_a, id_b)` ε-graph CTE
    * (already MATERIALIZED by the header) and replicates [[dbscanAssign]]
    * — symmetrize, degree-≥4 core, 6 unrolled min-label rounds over the
    * core subgraph, border/noise assignment. Each round references l$prev
    * twice — MATERIALIZED per round (q232's rule). */
  private def dbscanTailSql: String = {
    def iter(prev: String, cur: String): String =
      s"""n$cur AS (SELECT s.src AS id, CAST(min(l.label) AS BIGINT) AS m
         |       FROM cesym s JOIN l$prev l ON l.id = s.dst GROUP BY 1),
         |l$cur AS MATERIALIZED (SELECT l.id,
         |        CASE WHEN n$cur.m IS NULL OR l.label <= n$cur.m
         |             THEN l.label ELSE n$cur.m END AS label
         |      FROM l$prev l LEFT JOIN n$cur ON n$cur.id = l.id)""".stripMargin
    s"""sym AS MATERIALIZED (SELECT id_a, id_b FROM e UNION ALL SELECT id_b, id_a FROM e),
       |core AS MATERIALIZED (SELECT id_a AS id FROM sym GROUP BY 1 HAVING count(*) >= 4),
       |ce AS (SELECT id_a, id_b FROM e
       |       WHERE id_a IN (SELECT id FROM core) AND id_b IN (SELECT id FROM core)),
       |cesym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ce
       |          UNION ALL SELECT id_b, id_a FROM ce),
       |l0 AS MATERIALIZED (SELECT id, CAST(id AS BIGINT) AS label FROM core),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")},
       |${iter("3", "4")},
       |${iter("4", "5")},
       |${iter("5", "6")},
       |nbr AS (SELECT s.id_a AS id, CAST(min(l.label) AS BIGINT) AS nbr_cluster
       |        FROM sym s JOIN l6 l ON l.id = s.id_b GROUP BY 1)
       |SELECT v.vec_id AS id,
       |  CASE WHEN l6.label IS NOT NULL THEN 'core'
       |       WHEN nbr.nbr_cluster IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  COALESCE(l6.label, nbr.nbr_cluster, -1) AS cluster
       |FROM embeddings v
       |LEFT JOIN l6 ON l6.id = v.vec_id
       |LEFT JOIN nbr ON nbr.id = v.vec_id
       |ORDER BY id""".stripMargin
  }

  val q269Sql: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding, x ->
       |        CAST(sign(CAST(x AS DOUBLE)) * floor(abs(CAST(x AS DOUBLE)) * 10000 + 0.5) AS BIGINT)) AS s
       |      FROM embeddings),
       |n AS (SELECT vec_id, s, sqrt(CAST(list_inner_product(s, s) AS DOUBLE)) AS nrm FROM q),
       |e AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |      FROM n a JOIN n b ON a.vec_id < b.vec_id
       |      WHERE CAST(list_inner_product(a.s, b.s) AS DOUBLE) / (a.nrm * b.nrm) >= 0.30),
       |$dbscanTailSql""".stripMargin

  // --------------------------------------------- q278 dbscan via LSH

  /** Clustering at scale — the SAME DBSCAN contract as q269 (ε = cosine ≥
    * 0.30, minPts = 4, 6-round min-label components, border = min core
    * neighbor), but the ε-graph candidates come from the banded
    * hyperplane-LSH index ([[Similarity.cosinePairsLsh]], q119's 16-plane
    * 4-band OR-construction) instead of the exact all-pairs broadcast —
    * the 100 TB form: candidate cost is Σ bucket², an equi-join on the
    * band key, never O(n²). Approximate by design (a pair missing every
    * band is missed), but the signature arithmetic is exact integer, so
    * the candidate set — and therefore every cluster assignment, misses
    * and all — replicates bit-for-bit in the oracle; the hash gate checks
    * the bucketed result EXACTLY. DbscanLshSpec pins containment: the LSH
    * ε-graph is a subset of q269's exact ε-graph, so clusters can only
    * split, never invent edges. */
  def q278DbscanLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
    val pairs = Similarity.cosinePairsLsh(e, minCosine = 0.30, planes = 16,
        bands = 4, dim = 64)
      .select("id_a", "id_b")
    dbscanAssign(e.select("id"), pairs)
  }

  val q278Sql: String = LlmOps.duckCosinePairsAt("0.30") +
    s""",
       |e AS MATERIALIZED (SELECT id_a, id_b FROM pairs),
       |$dbscanTailSql""".stripMargin

  // ------------------------------------------------- q290 k-truss

  /** Graph/curation — bounded-round 3-TRUSS of the cosine ≥ 0.30 ε-graph
    * ([[Graph.ktruss]], 3 peel rounds): only edges supported by ≥ 1
    * triangle among SURVIVING edges remain (peeling cascades — an edge
    * whose only triangle loses a side is peeled in the next round) — the
    * clique-core refinement of k-core that keeps mutually-confirming
    * near-dup cluster edges and drops spurious pairwise links (an
    * accidental high-cosine pair has no triangle support; a real clone
    * cluster is a clique where every edge sits in |cluster|−2
    * triangles). Candidates come from the q278 banded hyperplane-LSH
    * index — the 100 TB ε-graph path — and the oracle replicates index,
    * rescore, and all three peel rounds. */
  def q290Ktruss(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
    val pairs = Similarity.cosinePairsLsh(e, minCosine = 0.30, planes = 16,
        bands = 4, dim = 64)
      .select("id_a", "id_b")
    Graph.ktruss(pairs, k = 3, rounds = 3).orderBy("id_a", "id_b")
  }

  val q290Sql: String = {
    def round(prev: String, cur: String): String =
      s"""tri$cur AS (SELECT ab.id_a AS a, ab.id_b AS b, ac.id_b AS c
         |       FROM e$prev ab JOIN e$prev ac
         |         ON ac.id_a = ab.id_a AND ab.id_b < ac.id_b
         |       JOIN e$prev bc ON bc.id_a = ab.id_b AND bc.id_b = ac.id_b),
         |sup$cur AS (SELECT x AS id_a, y AS id_b, CAST(count(*) AS BIGINT) AS support
         |       FROM (SELECT a AS x, b AS y FROM tri$cur
         |             UNION ALL SELECT a, c FROM tri$cur
         |             UNION ALL SELECT b, c FROM tri$cur) GROUP BY 1, 2),
         |e$cur AS MATERIALIZED (SELECT e.id_a, e.id_b, s.support
         |       FROM e$prev e JOIN sup$cur s USING (id_a, id_b)
         |       WHERE s.support >= 1)""".stripMargin
    LlmOps.duckCosinePairsAt("0.30") +
      s""",
         |e0 AS MATERIALIZED (SELECT id_a, id_b FROM pairs),
         |${round("0", "1")},
         |${round("1", "2")},
         |${round("2", "3")}
         |SELECT id_a, id_b, support FROM e3 ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------- q291 HITS

  /** Graph analytics — HITS hubs & authorities ([[Graph.hits]], 3
    * integer-renormalized rounds) over the DIRECTED customer→supplier
    * purchase graph (q268's bipartite node encoding): customers score as
    * HUBS (they point at suppliers), suppliers as AUTHORITIES — the
    * mutually-reinforcing ranking PageRank's single score can't express
    * on a bipartite trade graph. Renormalization is a·10⁶ div max(a)
    * per round (1-row broadcast), so every value stays in [0, 10⁶] and
    * the oracle unrolls the same three rounds bit-for-bit. */
  def q291Hits(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    Graph.hits(edges, iters = 3).orderBy("id")
  }

  val q291Sql: String = {
    def round(prev: String, cur: String): String =
      s"""ar$cur AS MATERIALIZED (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS ar
         |       FROM e JOIN h$prev h ON h.id = e.src GROUP BY 1),
         |am$cur AS (SELECT CAST(max(ar) AS BIGINT) AS am FROM ar$cur),
         |a$cur AS MATERIALIZED (SELECT n.id,
         |        CAST(COALESCE(ar.ar, 0) * 1000000 // am.am AS BIGINT) AS a
         |      FROM nodes n LEFT JOIN ar$cur ar ON ar.id = n.id CROSS JOIN am$cur am),
         |hr$cur AS MATERIALIZED (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS hr
         |       FROM e JOIN a$cur a ON a.id = e.dst GROUP BY 1),
         |hm$cur AS (SELECT CAST(max(hr) AS BIGINT) AS hm FROM hr$cur),
         |h$cur AS MATERIALIZED (SELECT n.id,
         |        CAST(COALESCE(hr.hr, 0) * 1000000 // hm.hm AS BIGINT) AS h
         |      FROM nodes n LEFT JOIN hr$cur hr ON hr.id = n.id CROSS JOIN hm$cur hm)""".stripMargin
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")}
       |SELECT n.id, h3.h AS hub_q, a3.a AS auth_q
       |FROM nodes n JOIN h3 ON h3.id = n.id JOIN a3 ON a3.id = n.id
       |ORDER BY n.id""".stripMargin
  }

  // --------------------------------------- q293 negative edge sampling

  /** Training data for link prediction — DETERMINISTIC negative-edge
    * sampling over the co-purchase graph: every node draws 6 candidate
    * partners by pure hash arithmetic over the node-rank space
    * (cand_rank = 1 + (rank·1000003 + i·7919) mod N — no RNG, so the
    * sample replays identically on any cluster and in the oracle), then
    * self-pairs and REAL edges are anti-joined away. The standard
    * negative set for training a link-prediction model against q223's
    * positive Adamic–Adar pairs. The rank space is the distributed
    * zip-with-index ([[graft.operators.Ranks]]); candidate lookup is one
    * equi-join on rank; the reject filter is one anti-join on the
    * (least, greatest) edge key. Expected negatives ≈ 6N·(1 − 2m/N²) —
    * on any sparse graph nearly all draws survive, so sample cost is
    * linear in nodes, never edges². */
  def q293NegativeSampling(s: SparkSession, dir: String): DataFrame = {
    val l2 = coPurchaseEdges(s, dir).localCheckpoint() // universe + anti side
    val nodes = l2.select(col("id_a").as("item"))
      .unionByName(l2.select(col("id_b").as("item"))).distinct()
    val rk = graft.operators.Ranks.globalRank(nodes, "rk", col("item"))
      .select("item", "rk").localCheckpoint() // draw side + lookup side
    val n = rk.agg(count(lit(1)).as("n"))
    val cand = rk.crossJoin(broadcast(n))
      .select(col("item"), col("rk"), col("n"),
        explode(expr("sequence(1, 6)")).as("i"))
      .withColumn("crk", expr("1L + pmod(rk * 1000003L + i * 7919L, n)"))
    cand
      .join(rk.select(col("rk").as("crk"), col("item").as("neg_item")), "crk")
      .filter(col("neg_item") =!= col("item"))
      .join(l2,
        least(col("item"), col("neg_item")) === col("id_a") &&
          greatest(col("item"), col("neg_item")) === col("id_b"), "left_anti")
      .select(col("item"), col("neg_item"), col("i").cast("long").as("i"))
      .orderBy("item", "i")
  }

  val q293Sql: String =
    """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
      |l2 AS MATERIALIZED (SELECT a.item AS id_a, b.item AS id_b
      |       FROM oi a JOIN oi b ON a.ok = b.ok AND a.item < b.item
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |nodes AS (SELECT DISTINCT item FROM (
      |        SELECT id_a AS item FROM l2 UNION ALL SELECT id_b FROM l2)),
      |rk AS MATERIALIZED (SELECT item,
      |        CAST(row_number() OVER (ORDER BY item) AS BIGINT) AS rk FROM nodes),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
      |cand AS (SELECT r.item, r.rk, ix.i,
      |           1 + (r.rk * 1000003 + ix.i * 7919) % nn.n AS crk
      |         FROM rk r CROSS JOIN nn, range(1, 7) ix(i)),
      |wc AS (SELECT c.item, c.i, r2.item AS neg_item
      |       FROM cand c JOIN rk r2 ON r2.rk = c.crk
      |       WHERE r2.item != c.item)
      |SELECT item, neg_item, CAST(i AS BIGINT) AS i
      |FROM wc WHERE NOT EXISTS (SELECT 1 FROM l2
      |        WHERE l2.id_a = least(wc.item, wc.neg_item)
      |          AND l2.id_b = greatest(wc.item, wc.neg_item))
      |ORDER BY item, i""".stripMargin

  // --------------------------------------- q294 random-walk corpus

  /** Training data for graph embeddings (DeepWalk-style) — a DERANDOMIZED
    * random-walk corpus over the co-purchase graph: one 4-step walk per
    * start node, where step k leaves `cur` through neighbor index
    * (start·1000003 + k·7919 + cur·104729) mod deg(cur) — pure hash
    * arithmetic, so the corpus replays identically on any cluster, across
    * partitionings, and in the oracle (the q293/q197 no-RNG rule).
    * Neighbor indexing is a per-node row_number window (bounded by
    * degree); each step is ONE equi-join on (node, index) — walk state is
    * (start, cur), never a path array. The adjacency frame is checkpointed
    * once and probed per step. Every node in the symmetrized graph has
    * deg ≥ 1, so walks never dead-end. */
  def q294WalkCorpus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l2 = coPurchaseEdges(s, dir)
    val sym = l2.select(col("id_a").as("node"), col("id_b").as("nbr"))
      .unionByName(l2.select(col("id_b").as("node"), col("id_a").as("nbr")))
      .distinct()
    val adj = sym.withColumn("j",
        (row_number().over(Window.partitionBy("node").orderBy("nbr")) - 1)
          .cast("long"))
      .localCheckpoint() // probed once per step + the degree rollup
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val w0 = adj.select(col("node").as("start")).distinct()
      .select(col("start"), lit(0L).as("step"), col("start").as("node"))
    val (_, corpus) = (1 to 4).foldLeft((w0, w0)) { case ((walk, acc), k) =>
      val stepped = walk
        .join(deg, "node")
        .withColumn("j",
          expr(s"pmod(start * 1000003L + ${k}L * 7919L + node * 104729L, deg)"))
        .select(col("start"), col("node").as("cur"), col("j"))
        .join(adj.select(col("node").as("cur"), col("j"), col("nbr")),
          Seq("cur", "j"))
        .select(col("start"), lit(k.toLong).as("step"), col("nbr").as("node"))
        .localCheckpoint() // feeds BOTH the next hop and the corpus union —
                           // un-truncated, step k re-executes once per later
                           // hop (4+3+2+1 = 10 step joins instead of 4; the
                           // oracle MATERIALIZEs each w_k for the same
                           // reason; r13 opt)
      (stepped, acc.unionByName(stepped))
    }
    corpus.orderBy("start", "step")
  }

  val q294Sql: String = {
    def step(prev: String, k: Int): String =
      s"""w$k AS MATERIALIZED (SELECT w.start, CAST($k AS BIGINT) AS step, a.nbr AS node
         |      FROM w$prev w JOIN deg d ON d.node = w.node
         |      JOIN adj a ON a.node = w.node
         |        AND a.j = (w.start * 1000003 + $k * 7919 + w.node * 104729) % d.deg)""".stripMargin
    s"""WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
       |pr AS MATERIALIZED (SELECT a.item AS id_a, b.item AS id_b
       |       FROM oi a JOIN oi b ON a.ok = b.ok AND a.item < b.item
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |sym AS (SELECT id_a AS node, id_b AS nbr FROM pr
       |        UNION SELECT id_b, id_a FROM pr),
       |adj AS MATERIALIZED (SELECT node, nbr,
       |        CAST(row_number() OVER (PARTITION BY node ORDER BY nbr) - 1 AS BIGINT) AS j
       |      FROM sym),
       |deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
       |w0 AS (SELECT node AS start, CAST(0 AS BIGINT) AS step, node
       |       FROM (SELECT DISTINCT node FROM adj)),
       |${step("0", 1)},
       |${step("1", 2)},
       |${step("2", 3)},
       |${step("3", 4)}
       |SELECT start, step, node FROM (
       |  SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2
       |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4)
       |ORDER BY start, step""".stripMargin
  }

  // --------------------------------------- q296 maximal matching

  /** Graph — bounded-round greedy MAXIMAL MATCHING
    * ([[Graph.maximalMatching]], 3 handshake rounds) over the co-purchase
    * graph: each round every item proposes its lexicographically-smallest
    * incident edge and an edge matches iff BOTH endpoints proposed it;
    * matched items leave the graph. The deterministic distributed pairing
    * primitive behind multilevel graph coarsening (pair products, contract,
    * recurse); 3 rounds is declared semantics (q221's contract). The
    * oracle encodes the lexicographic edge key as id_a·2³² + id_b and
    * unrolls the same three rounds. */
  def q296MaximalMatching(s: SparkSession, dir: String): DataFrame = {
    Graph.maximalMatching(coPurchaseEdges(s, dir), rounds = 3)
      .orderBy("id_a", "id_b")
  }

  val q296Sql: String = {
    def round(prev: String, r: Int): String =
      s"""prop$r AS (SELECT node, CAST(min(k) AS BIGINT) AS mk FROM (
         |        SELECT id_a AS node, id_a * 4294967296 + id_b AS k FROM e$prev
         |        UNION ALL SELECT id_b, id_a * 4294967296 + id_b FROM e$prev)
         |      GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT e.id_a, e.id_b FROM e$prev e
         |      JOIN prop$r pa ON pa.node = e.id_a
         |        AND pa.mk = e.id_a * 4294967296 + e.id_b
         |      JOIN prop$r pb ON pb.node = e.id_b
         |        AND pb.mk = e.id_a * 4294967296 + e.id_b),
         |mn$r AS (SELECT id_a AS node FROM m$r UNION SELECT id_b FROM m$r),
         |e$r AS MATERIALIZED (SELECT e.id_a, e.id_b FROM e$prev e
         |      WHERE NOT EXISTS (SELECT 1 FROM mn$r n WHERE n.node = e.id_a)
         |        AND NOT EXISTS (SELECT 1 FROM mn$r n WHERE n.node = e.id_b))""".stripMargin
    s"""WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.item AS id_a, b.item AS id_b
       |       FROM oi a JOIN oi b ON a.ok = b.ok AND a.item < b.item
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |${round("0", 1)},
       |${round("1", 2)},
       |${round("2", 3)}
       |SELECT id_a, id_b, round FROM (
       |  SELECT id_a, id_b, CAST(1 AS BIGINT) AS round FROM m1
       |  UNION ALL SELECT id_a, id_b, 2 FROM m2
       |  UNION ALL SELECT id_a, id_b, 3 FROM m3)
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------- q301 maximal independent set (Luby)

  /** Graph — bounded-round MAXIMAL INDEPENDENT SET
    * ([[Graph.maximalIndependentSet]], Luby derandomized via the portable
    * 48-bit md5-prefix node priority, 3 rounds + the isolated sweep) over
    * the co-purchase graph: the distributed symmetry-breaking primitive
    * behind coloring and conflict-free scheduling, and the dual of q296's
    * matching (q296 pairs nodes, this picks a pairwise-NON-adjacent set).
    * The oracle replays the same hash, the same strict-minimum rule, and
    * the same three rounds; hash ties defer identically in both engines,
    * so the gate is exact. */
  def q301MaximalIndependentSet(s: SparkSession, dir: String): DataFrame =
    Graph.maximalIndependentSet(coPurchaseEdges(s, dir), rounds = 3)
      .orderBy("id")

  val q301Sql: String = {
    def h(x: String): String =
      s"CAST(('0x' || substring(md5(CAST($x AS VARCHAR)), 1, 12)) AS BIGINT)"
    def round(prev: String, r: Int): String =
      s"""w$r AS MATERIALIZED (SELECT node FROM (
         |        SELECT id_a AS node, ${h("id_b")} AS nh FROM e$prev
         |        UNION ALL SELECT id_b, ${h("id_a")} FROM e$prev)
         |      GROUP BY node HAVING ${h("node")} < min(nh)),
         |k$r AS MATERIALIZED (SELECT node FROM w$r
         |      UNION
         |      SELECT d.nbr FROM (
         |        SELECT id_a AS node, id_b AS nbr FROM e$prev
         |        UNION ALL SELECT id_b, id_a FROM e$prev) d
         |      JOIN w$r w ON w.node = d.node),
         |e$r AS MATERIALIZED (SELECT e.id_a, e.id_b FROM e$prev e
         |      WHERE NOT EXISTS (SELECT 1 FROM k$r x WHERE x.node = e.id_a)
         |        AND NOT EXISTS (SELECT 1 FROM k$r x WHERE x.node = e.id_b))""".stripMargin
    s"""WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.item AS id_a, b.item AS id_b
       |       FROM oi a JOIN oi b ON a.ok = b.ok AND a.item < b.item
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |n0 AS MATERIALIZED (SELECT id_a AS id FROM e0 UNION SELECT id_b FROM e0),
       |${round("0", 1)},
       |${round("1", 2)},
       |${round("2", 3)},
       |killed AS (SELECT node FROM k1 UNION SELECT node FROM k2 UNION SELECT node FROM k3),
       |undecided AS (SELECT id_a AS id FROM e3 UNION SELECT id_b FROM e3),
       |isolated AS (SELECT id FROM n0
       |  WHERE NOT EXISTS (SELECT 1 FROM killed k WHERE k.node = n0.id)
       |    AND NOT EXISTS (SELECT 1 FROM undecided u WHERE u.id = n0.id))
       |SELECT id, round FROM (
       |  SELECT node AS id, CAST(1 AS BIGINT) AS round FROM w1
       |  UNION ALL SELECT node, 2 FROM w2
       |  UNION ALL SELECT node, 3 FROM w3
       |  UNION ALL SELECT id, 4 FROM isolated)
       |ORDER BY id""".stripMargin
  }

  // ------------------------------- q303 greedy max-coverage selection

  /** Curation — GREEDY MAX-COVERAGE document selection (the submodular
    * facility-location shape behind coverage-driven data selection): five
    * declared rounds, each picking the document adding the most
    * not-yet-covered token BIGRAMS (ties → smallest doc_id), its bigrams
    * joining the covered set; rounds stop early once every bigram is
    * covered (the synthetic corpus's 31-word unigram lexicon saturates in
    * ONE pick — bigrams give a 916-element universe with real greedy
    * structure). The lazy-greedy 1−1/e guarantee is the textbook story;
    * the engine story is the SHAPE — per round one anti-join + one count
    * aggregate at corpus scale and a 1-row argmax, the covered set only
    * grows, and round count is declared semantics (q221's posture).
    * Complements q145's MMR (redundancy-penalized relevance) with pure
    * coverage. Oracle unrolls the same five rounds. */
  def q303GreedyCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
      .select(col("doc_id").as("id"),
        graft.llmops.TextOps.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2) // sequence(1, 0) would step BACKWARD
      .select(col("id"), explode(array_distinct(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(ws[i-1], ' ', ws[i]))")))
        .as("w"))
      .localCheckpoint() // feeds five gain rounds + five coverage unions
    var covered = d.select(col("w")).limit(0)
    var out = s.range(0).select(col("id").as("round"), col("id"),
      col("id").as("gain"))
    for (r <- 1 to 5) {
      val gains = d.join(covered, Seq("w"), "left_anti")
        .groupBy("id").agg(count(lit(1)).as("gain"))
      val win = gains
        .agg(max(struct(col("gain"), (-col("id")).as("negid"))).as("b"))
        .select(lit(r.toLong).as("round"), (-col("b.negid")).as("id"),
          col("b.gain").as("gain"))
        .filter(col("id").isNotNull) // universe exhausted => no pick
        .localCheckpoint() // <=1 row: feeds output + the coverage union
      out = out.unionByName(win)
      covered = covered
        .unionByName(d.join(win.select("id"), Seq("id")).select("w"))
        .distinct().localCheckpoint()
    }
    out.withColumn("covered_total", sum("gain").over(Window.orderBy("round")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("round")
  }

  val q303Sql: String = {
    def round(prev: Int, r: Int): String =
      s"""g$r AS (SELECT id, CAST(count(*) AS BIGINT) AS gain FROM dt
         |  WHERE NOT EXISTS (SELECT 1 FROM c$prev c WHERE c.w = dt.w)
         |  GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT id, gain FROM g$r ORDER BY gain DESC, id LIMIT 1),
         |c$r AS MATERIALIZED (SELECT w FROM c$prev
         |  UNION SELECT dt.w FROM dt JOIN w$r ON dt.id = w$r.id)""".stripMargin
    val rounds = (1 to 5).map(i => round(i - 1, i)).mkString(",\n")
    s"""WITH dt AS MATERIALIZED (SELECT DISTINCT id,
       |      list_extract(ws, CAST(u.i AS INT)) || ' ' ||
       |        list_extract(ws, CAST(u.i AS INT) + 1) AS w
       |    FROM (SELECT doc_id AS id,
       |            regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |          FROM documents) t,
       |    LATERAL unnest(range(1, len(ws))) u(i)),
       |c0 AS (SELECT w FROM dt WHERE false),
       |$rounds
       |SELECT round, id, gain,
       |  CAST(sum(gain) OVER (ORDER BY round) AS BIGINT) AS covered_total
       |FROM (SELECT CAST(1 AS BIGINT) AS round, id, gain FROM w1
       |      UNION ALL SELECT 2, id, gain FROM w2
       |      UNION ALL SELECT 3, id, gain FROM w3
       |      UNION ALL SELECT 4, id, gain FROM w4
       |      UNION ALL SELECT 5, id, gain FROM w5)
       |ORDER BY round""".stripMargin
  }

  // --------------------------------------- q270 personalized pagerank

  /** Graph analytics — personalized PageRank
    * ([[Graph.pagerankPersonalized]], 3 rounds, d=0.85) over the
    * co-purchase graph, restart mass pinned to the NATION_0 supplier
    * nodes: rank = integer-exact proximity to that nation's supply base
    * (the "which customers/suppliers sit closest to this segment"
    * weighting a curation pipeline uses for source-affinity sampling —
    * q268's BFS gives hops, this gives flow). */
  def q270PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = t(s, dir, "supplier").filter(col("s_nationkey") === 0)
      .select((col("s_suppkey") * 2 + 1).as("id"))
    Graph.pagerankPersonalized(edges, seeds, iters = 3, d100 = 85)
      .orderBy("id")
  }

  val q270Sql: String = {
    // e/deg/nodes feed every unrolled round — MATERIALIZED so DuckDB's
    // inlining doesn't re-derive the edge build per round (q232's rule)
    def iter(prev: String, cur: String): String =
      s"""s$cur AS (SELECT e.dst AS id, CAST(SUM(r.rank_q // d.out_deg) AS BIGINT) AS in_q
         |       FROM e JOIN r$prev r ON r.id = e.src JOIN deg d ON d.id = e.src GROUP BY 1),
         |r$cur AS MATERIALIZED (SELECT n.id,
         |        CAST(COALESCE(sd.is_seed, 0) * 150000000
         |          + COALESCE(s$cur.in_q, 0) * 85 // 100 AS BIGINT) AS rank_q
         |       FROM nodes n LEFT JOIN s$cur ON s$cur.id = n.id
         |       LEFT JOIN sd ON sd.id = n.id)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
       |deg AS MATERIALIZED (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY 1),
       |sd AS (SELECT s_suppkey * 2 + 1 AS id, CAST(1 AS BIGINT) AS is_seed
       |       FROM supplier WHERE s_nationkey = 0),
       |r0 AS (SELECT n.id,
       |        CAST(COALESCE(sd.is_seed, 0) * 1000000000 AS BIGINT) AS rank_q
       |       FROM nodes n LEFT JOIN sd ON sd.id = n.id),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")}
       |SELECT id, rank_q FROM r3 ORDER BY id""".stripMargin
  }

  // --------------------------------------- q279 dangling-mass pagerank

  /** Graph analytics — textbook PageRank over the DIRECTED customer →
    * supplier purchase graph ([[Graph.pagerankDangling]], 3 rounds,
    * d = 0.85): suppliers emit no edges, so every supplier's rank is
    * dangling mass each round, redistributed uniformly (D div N) instead
    * of dropped — the random-surfer-correct complement to q62's declared
    * unnormalized variant on the symmetrized graph. Integer-exact: the
    * dangling sum and N attach as broadcast 1-row frames; round order is
    * base + (in + D div N)·85 div 100, replicated operation-for-operation
    * in the oracle. */
  def q279PagerankDangling(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    Graph.pagerankDangling(edges, iters = 3, d100 = 85).orderBy("id")
  }

  val q279Sql: String = {
    // r$prev feeds TWO consumers per round (in-flow + dangling sum) —
    // MATERIALIZED per round, and on the shared e/nodes/deg (q232's rule)
    def iter(prev: String, cur: String): String =
      s"""s$cur AS (SELECT e.dst AS id, CAST(SUM(r.rank_q // d.out_deg) AS BIGINT) AS in_q
         |       FROM e JOIN r$prev r ON r.id = e.src JOIN deg d ON d.id = e.src GROUP BY 1),
         |dg$cur AS (SELECT CAST(COALESCE(SUM(r.rank_q), 0) AS BIGINT) AS dangling_q
         |       FROM r$prev r LEFT JOIN deg d ON d.id = r.id WHERE d.id IS NULL),
         |r$cur AS MATERIALIZED (SELECT n.id,
         |        CAST(150000000 + (COALESCE(s$cur.in_q, 0) + dg$cur.dangling_q // cnt.n_nodes)
         |          * 85 // 100 AS BIGINT) AS rank_q
         |       FROM nodes n LEFT JOIN s$cur ON s$cur.id = n.id
         |       CROSS JOIN dg$cur CROSS JOIN cnt)""".stripMargin
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |deg AS MATERIALIZED (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY 1),
       |cnt AS (SELECT count(*) AS n_nodes FROM nodes),
       |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank_q FROM nodes),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")}
       |SELECT id, rank_q FROM r3 ORDER BY id""".stripMargin
  }

  // ------------------------------------ q283 influential communities

  /** Graph analytics — top influential communities (the VLDB'18
    * influential-community shape, cf. PAPERS.md): a community is a
    * component of the k-core (k = 3, 4 bounded peel rounds — q232's
    * declared semantics; 6 min-label rounds — q221's) of the cosine ≥
    * 0.30 similarity graph, its influence the MINIMUM member weight
    * (document size in chars) — the "every member is at least this big"
    * guarantee that makes min, not sum, the paper's ranking. The
    * co-purchase graph is a single giant component at every threshold
    * (probed), so the naturally-fragmented ε-graph is the base that makes
    * the ranking non-degenerate. Composes three certified primitives
    * ([[Similarity.cosinePairs]] → [[Graph.kcore]] →
    * [[Graph.labelPropagation]]) plus one weight rollup; (influence desc,
    * label) is a total order since labels are unique. */
  def q283InfluentialCommunities(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
    val pairs = Similarity.cosinePairs(e, minCosine = 0.30)
      .select("id_a", "id_b").localCheckpoint() // feeds peel + core-edge build
    val core = Graph.kcore(pairs, k = 3, rounds = 4).select("id")
      .localCheckpoint() // consumed 3×: both core-edge semi-joins + labels
    val coreEdges = pairs
      .join(core.select(col("id").as("id_a")), "id_a", "left_semi")
      .join(core.select(col("id").as("id_b")), "id_b", "left_semi")
    val cc = Graph.labelPropagation(coreEdges, iters = 6)
    val labels = core.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("community"))
    val w = docs(s, dir).select(col("doc_id").as("id"), col("n_chars").as("w"))
    // feeds the rollup AND the member readout — truncate so the weight
    // join (the one base-table scan left in this plan) runs once
    val withW = labels.join(w, "id").localCheckpoint()
    val stats = withW.groupBy("community")
      .agg(count(lit(1)).as("n_members"), min("w").as("influence_chars"))
    // per-MEMBER readout (community stats broadcast back): every node's
    // membership participates in the hash gate, not just the rollup
    withW.select("id", "community")
      .join(broadcast(stats), "community")
      .select(col("id"), col("community"), col("n_members"), col("influence_chars"))
      .orderBy("id")
  }

  val q283Sql: String = {
    def peel(prev: Int, cur: Int): String =
      s"""dg$cur AS (SELECT s.src AS id, CAST(count(*) AS BIGINT) AS deg
         |       FROM esym s JOIN a$prev x ON x.id = s.src
         |              JOIN a$prev y ON y.id = s.dst GROUP BY 1),
         |a$cur AS MATERIALIZED (SELECT id FROM dg$cur WHERE deg >= 3)""".stripMargin
    def iter(prev: String, cur: String): String =
      s"""n$cur AS (SELECT s.src AS id, CAST(min(l.label) AS BIGINT) AS m
         |       FROM cesym s JOIN l$prev l ON l.id = s.dst GROUP BY 1),
         |l$cur AS MATERIALIZED (SELECT l.id,
         |        CASE WHEN n$cur.m IS NULL OR l.label <= n$cur.m
         |             THEN l.label ELSE n$cur.m END AS label
         |      FROM l$prev l LEFT JOIN n$cur ON n$cur.id = l.id)""".stripMargin
    s"""WITH q AS (SELECT vec_id, list_transform(embedding, x ->
       |        CAST(sign(CAST(x AS DOUBLE)) * floor(abs(CAST(x AS DOUBLE)) * 10000 + 0.5) AS BIGINT)) AS s
       |      FROM embeddings),
       |n AS (SELECT vec_id, s, sqrt(CAST(list_inner_product(s, s) AS DOUBLE)) AS nrm FROM q),
       |e AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |      FROM n a JOIN n b ON a.vec_id < b.vec_id
       |      WHERE CAST(list_inner_product(a.s, b.s) AS DOUBLE) / (a.nrm * b.nrm) >= 0.30),
       |esym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM e
       |      UNION ALL SELECT id_b, id_a FROM e),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM esym),
       |${peel(0, 1)},
       |${peel(1, 2)},
       |${peel(2, 3)},
       |${peel(3, 4)},
       |ce AS (SELECT id_a, id_b FROM e
       |       WHERE id_a IN (SELECT id FROM a4) AND id_b IN (SELECT id FROM a4)),
       |cesym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ce
       |          UNION ALL SELECT id_b, id_a FROM ce),
       |l0 AS MATERIALIZED (SELECT id, CAST(id AS BIGINT) AS label FROM a4),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")},
       |${iter("3", "4")},
       |${iter("4", "5")},
       |${iter("5", "6")},
       |st AS (SELECT l6.label AS community, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(min(d.n_chars) AS BIGINT) AS influence_chars
       |       FROM l6 JOIN documents d ON d.doc_id = l6.id GROUP BY 1)
       |SELECT l6.id, l6.label AS community, st.n_members, st.influence_chars
       |FROM l6 JOIN st ON st.community = l6.label
       |ORDER BY id""".stripMargin
  }

  // ---------------------------------- q299 Fellegi–Sunter record linkage

  /** Entity resolution — FELLEGI–SUNTER probabilistic linkage scoring
    * (JASA 1969), the SCORING tier on top of the blocking families the
    * surface already has (LSH q20, PPJoin q19, sorted-neighborhood q288):
    * candidate part pairs from a (brand, name-noun) block equi-join, four
    * field comparisons (adjective token, type, size ±2, price ±5.00),
    * each contributing its declared agreement/disagreement log-odds
    * weight in EXACT milli-units (in production the m/u probabilities
    * come from EM; declared constants keep the gate exact), summed and
    * thresholded into match / possible / non-match. 100 TB shape: the
    * pair generator is a pure blocked self-equi-join — comparisons never
    * leave the block — and the readout is one class rollup. */
  def q299FellegiSunter(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").select(col("p_partkey").as("key"),
      split(col("p_name"), " ").getItem(0).as("adj"),
      split(col("p_name"), " ").getItem(1).as("noun"),
      col("p_brand").as("brand"), col("p_type").as("typ"),
      col("p_size").cast("long").as("size"),
      expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val a = p.as("a"); val b = p.as("b")
    val pairs = a.join(b,
      col("a.brand") === col("b.brand") && col("a.noun") === col("b.noun") &&
        col("a.key") < col("b.key"))
    val score =
      when(col("a.adj") === col("b.adj"), 2565L).otherwise(-511L) +
        when(col("a.typ") === col("b.typ"), 1609L).otherwise(-916L) +
        when(abs(col("a.size") - col("b.size")) <= 2, 1386L).otherwise(-693L) +
        when(abs(col("a.cents") - col("b.cents")) <= 500L, 1099L).otherwise(-1204L)
    pairs
      .select(score.as("score_milli"),
        when(col("a.adj") === col("b.adj"), 1L).otherwise(0L).as("adj_a"),
        when(col("a.typ") === col("b.typ"), 1L).otherwise(0L).as("typ_a"),
        when(abs(col("a.size") - col("b.size")) <= 2, 1L).otherwise(0L).as("size_a"),
        when(abs(col("a.cents") - col("b.cents")) <= 500L, 1L).otherwise(0L).as("price_a"))
      .withColumn("class",
        when(col("score_milli") >= 3500L, "match")
          .when(col("score_milli") >= 0L, "possible")
          .otherwise("nonmatch"))
      .groupBy("class")
      .agg(count(lit(1)).as("n_pairs"), sum("score_milli").as("sum_score_milli"),
        sum("adj_a").as("n_adj_agree"), sum("typ_a").as("n_type_agree"),
        sum("size_a").as("n_size_agree"), sum("price_a").as("n_price_agree"))
      .orderBy("class")
  }

  val q299Sql: String =
    """WITH p AS (SELECT p_partkey AS key,
      |    split_part(p_name, ' ', 1) AS adj, split_part(p_name, ' ', 2) AS noun,
      |    p_brand AS brand, p_type AS typ, CAST(p_size AS BIGINT) AS size,
      |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM part),
      |pr AS (SELECT
      |    (CASE WHEN a.adj = b.adj THEN 2565 ELSE -511 END)
      |    + (CASE WHEN a.typ = b.typ THEN 1609 ELSE -916 END)
      |    + (CASE WHEN abs(a.size - b.size) <= 2 THEN 1386 ELSE -693 END)
      |    + (CASE WHEN abs(a.cents - b.cents) <= 500 THEN 1099 ELSE -1204 END) AS score_milli,
      |    CASE WHEN a.adj = b.adj THEN 1 ELSE 0 END AS adj_a,
      |    CASE WHEN a.typ = b.typ THEN 1 ELSE 0 END AS typ_a,
      |    CASE WHEN abs(a.size - b.size) <= 2 THEN 1 ELSE 0 END AS size_a,
      |    CASE WHEN abs(a.cents - b.cents) <= 500 THEN 1 ELSE 0 END AS price_a
      |  FROM p a JOIN p b ON a.brand = b.brand AND a.noun = b.noun AND a.key < b.key)
      |SELECT CASE WHEN score_milli >= 3500 THEN 'match'
      |            WHEN score_milli >= 0 THEN 'possible'
      |            ELSE 'nonmatch' END AS class,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(score_milli) AS BIGINT) AS sum_score_milli,
      |  CAST(sum(adj_a) AS BIGINT) AS n_adj_agree,
      |  CAST(sum(typ_a) AS BIGINT) AS n_type_agree,
      |  CAST(sum(size_a) AS BIGINT) AS n_size_agree,
      |  CAST(sum(price_a) AS BIGINT) AS n_price_agree
      |FROM pr GROUP BY 1 ORDER BY class""".stripMargin

  // ---------------------------------- q317 Jaro–Winkler fuzzy linkage

  /** Record linkage — fuzzy name matching with the NATIVE Jaro–Winkler
    * comparator ([[org.apache.spark.sql.graft.JaroWinklerPpm]], one
    * codegen'd static call per pair, never a Scala UDF): part names
    * within a (brand, size) block, pairs scoring ≥ 0.90. Complements
    * q299's field-agreement Fellegi–Sunter with the string-distance
    * comparator real linkage stacks feed into it; blocking stays a pure
    * equi-join (the q299/q175 discipline), so the comparator only ever
    * runs on candidate pairs, never d². The gate compares the ×1e6
    * quantization against DuckDB's jaro_winkler_similarity — the
    * textbook parameterization both implement (fuzz- and
    * boundary-margin-verified, see JaroWinklerSpec). */
  def q317JaroLinkage(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").select(col("p_partkey").as("key"),
      col("p_brand").as("brand"), col("p_size").as("size"),
      col("p_name").as("name"))
    p.as("a").join(p.as("b"),
        col("a.brand") === col("b.brand") && col("a.size") === col("b.size") &&
          col("a.key") < col("b.key"))
      .select(col("a.key").as("key_a"), col("b.key").as("key_b"),
        graft.functions.GraftFunctions
          .jaroWinklerPpm(col("a.name"), col("b.name")).as("jw_ppm"))
      .filter(col("jw_ppm") >= 900000L)
      .orderBy("key_a", "key_b")
  }

  val q317Sql: String =
    """WITH p AS (SELECT p_partkey AS key, p_brand AS brand, p_size AS size,
      |    p_name AS name FROM part),
      |j AS (SELECT a.key AS key_a, b.key AS key_b,
      |    CAST(floor(jaro_winkler_similarity(a.name, b.name) * 1000000.0 + 0.5) AS BIGINT) AS jw_ppm
      |  FROM p a JOIN p b ON a.brand = b.brand AND a.size = b.size AND a.key < b.key)
      |SELECT key_a, key_b, jw_ppm FROM j WHERE jw_ppm >= 900000
      |ORDER BY key_a, key_b""".stripMargin

  // ------------------------------------ q318 entity resolution (closure)

  /** Entity resolution — the full linkage stack: q317's blocked native
    * Jaro–Winkler comparator produces the match pairs, and their
    * TRANSITIVE CLOSURE ([[Graph.labelPropagation]] min-label components,
    * 6 bounded rounds — the q269/q221 declared-semantics contract) merges
    * chained matches into entities (A≈B and B≈C ⇒ one entity even when
    * A–C scores below threshold — the step every dedup/MDM pipeline runs
    * after pairwise scoring). Per entity: member count, canonical key
    * range and the cent price spread across merged listings. Blocking
    * keeps the comparator on candidate pairs only; the closure's label
    * frame is localCheckpointed every round, so the final rollup plan
    * consumes the materialized labels and never re-runs the comparator
    * (plan-pinned). Entities never span a (brand, size) block, so cluster
    * diameter is bounded by block size and 6 rounds converge here (the
    * oracle replicates the exact 6-round protocol either way). */
  def q318EntityResolution(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").select(col("p_partkey").as("id"),
      col("p_brand").as("brand"), col("p_size").as("size"),
      col("p_name").as("name"),
      expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"))
    val pairs = p.as("a").join(p.as("b"),
        col("a.brand") === col("b.brand") && col("a.size") === col("b.size") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.GraftFunctions
          .jaroWinklerPpm(col("a.name"), col("b.name")).as("jw_ppm"))
      .filter(col("jw_ppm") >= 900000L)
      .select("id_a", "id_b")
    graft.operators.Graph.labelPropagation(pairs, iters = 6)
      .join(p.select(col("id"), col("cents")), "id")
      .groupBy(col("label").as("entity_id"))
      .agg(count(lit(1)).as("n_members"),
        min("id").as("min_key"), max("id").as("max_key"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
      .withColumn("spread_cents", col("max_cents") - col("min_cents"))
      .orderBy("entity_id")
  }

  val q318Sql: String = {
    // six unrolled min-label rounds (the q269 oracle discipline: each
    // round references the previous label frame twice → MATERIALIZED)
    def iter(prev: String, cur: String): String =
      s"""n$cur AS (SELECT s.src AS id, CAST(min(l.label) AS BIGINT) AS m
         |       FROM sym s JOIN l$prev l ON l.id = s.dst GROUP BY 1),
         |l$cur AS MATERIALIZED (SELECT l.id,
         |        CASE WHEN n$cur.m IS NULL OR l.label <= n$cur.m
         |             THEN l.label ELSE n$cur.m END AS label
         |      FROM l$prev l LEFT JOIN n$cur ON n$cur.id = l.id)""".stripMargin
    s"""WITH p AS (SELECT p_partkey AS id, p_brand AS brand, p_size AS size,
       |    p_name AS name,
       |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM part),
       |e AS MATERIALIZED (SELECT a.id AS id_a, b.id AS id_b
       |  FROM p a JOIN p b ON a.brand = b.brand AND a.size = b.size
       |    AND a.id < b.id
       |  WHERE CAST(floor(jaro_winkler_similarity(a.name, b.name) * 1000000.0 + 0.5) AS BIGINT) >= 900000),
       |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM e
       |         UNION ALL SELECT id_b, id_a FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, CAST(src AS BIGINT) AS label
       |      FROM sym),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")},
       |${iter("3", "4")},
       |${iter("4", "5")},
       |${iter("5", "6")}
       |SELECT l.label AS entity_id, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(min(l.id) AS BIGINT) AS min_key, CAST(max(l.id) AS BIGINT) AS max_key,
       |  CAST(min(p.cents) AS BIGINT) AS min_cents,
       |  CAST(max(p.cents) AS BIGINT) AS max_cents,
       |  CAST(max(p.cents) - min(p.cents) AS BIGINT) AS spread_cents
       |FROM l6 l JOIN p ON p.id = l.id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val declared: Seq[Query] = Seq(
    Query("q317_jaro_linkage", q317JaroLinkage, q317Sql),
    Query("q318_entity_resolution", q318EntityResolution, q318Sql),
    Query("q299_fellegi_sunter", q299FellegiSunter, q299Sql),
    Query("q301_mis", q301MaximalIndependentSet, q301Sql),
    Query("q303_greedy_coverage", q303GreedyCoverage, q303Sql),
    Query("q283_influential_communities", q283InfluentialCommunities, q283Sql),
    Query("q281_stream_outer_join", q281StreamOuterJoin, q281Sql, Query.Streaming),
    Query("q279_pagerank_dangling", q279PagerankDangling, q279Sql),
    Query("q270_personalized_pagerank", q270PersonalizedPagerank, q270Sql),
    Query("q278_dbscan_lsh", q278DbscanLsh, q278Sql),
    Query("q269_dbscan", q269Dbscan, q269Sql),
    Query("q268_bfs_distance", q268BfsDistance, q268Sql),
    Query("q280_sssp_weighted", q280SsspWeighted, q280Sql),
    Query("q285_ttl_dedup", q285TtlDedup, q285Sql, Query.Streaming),
    Query("q286_modularity", q286Modularity, q286Sql),
    Query("q289_frequent_triples", q289FrequentTriples, q289Sql),
    Query("q290_ktruss", q290Ktruss, q290Sql),
    Query("q291_hits", q291Hits, q291Sql),
    Query("q293_negative_sampling", q293NegativeSampling, q293Sql),
    Query("q294_walk_corpus", q294WalkCorpus, q294Sql),
    Query("q296_maximal_matching", q296MaximalMatching, q296Sql),
    Query("q259_heaps_fit", q259HeapsFit, q259Sql),
    Query("q260_clustering_coeff", q260ClusteringCoeff, q260Sql),
    Query("q261_textrank", q261Textrank, q261Sql),
    Query("q61_curation_pipeline", q61Curation, q61Sql),
    Query("q62_pagerank", q62Pagerank, q62Sql),
    Query("q221_label_prop", q221LabelProp, q221Sql),
    Query("q223_adamic_adar", q223AdamicAdar, q223Sql),
    Query("q232_kcore", q232KCore, q232Sql),
    Query("q63_streaming_dedup", q63StreamingDedup, q63Sql, Query.Streaming),
    Query("q64_profile", q64Profile, q64Sql),
    Query("q65_repetition", q65Repetition, q65Sql),
    Query("q66_bloom_join", q66BloomJoin, q66Sql),
    Query("q67_ivfpq", q67IvfPq, q67Sql),
    Query("q68_hybrid_rrf", q68HybridRrf, q68Sql),
    Query("q69_tx_upsert", q69TxUpsert, q69Sql, Query.Staged),
    Query("q128_tx_compact", q128TxCompact, q128Sql, Query.Staged),
    Query("q152_tx_expire", q152TxExpire, q152Sql, Query.Staged),
    Query("q133_tx_evolve", q133TxEvolve, q133Sql, Query.Staged),
    Query("q134_stream_chunk_dedup", q134StreamChunkDedup, q134Sql, Query.Streaming),
    Query("q70_tx_time_travel", q70TxTimeTravel, q70Sql, Query.Staged),
    Query("q71_unigram_logprob", q71UnigramLogprob, q71Sql),
    Query("q72_vocab_report", q72VocabReport, q72Sql),
    Query("q73_pii_scrub", q73PiiScrub, q73Sql),
    Query("q74_boilerplate", q74Boilerplate, q74Sql),
    Query("q75_semantic_dedup", q75SemanticDedup, q75Sql),
    Query("q76_temperature_sample", q76TemperatureSample, q76Sql),
    Query("q77_chunk_sliding", q77ChunkSliding, q77Sql),
    Query("q78_stream_join", q78StreamJoin, q78Sql, Query.Streaming),
    Query("q79_triangles", q79Triangles, q79Sql),
    Query("q80_quantiles", q80Quantiles, q80Sql),
    Query("q81_stream_ingest", q81StreamIngest, q81Sql, Query.Streaming),
    Query("q82_tx_changes", q82TxChanges, q82Sql, Query.Staged))
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.{Bucketing, Tables}

/** Relational operator surface (SURVEY.md §2.2, S1–S17) exercised as declared,
  * DuckDB-oracle-checkable queries over the driver testdata.
  *
  * Determinism rules (the driver hash-compares against DuckDB at sf0.01):
  *   - Double aggregation is done in DECIMAL (exact) and cast to DOUBLE at the
  *     end — both engines then produce bit-identical doubles (the testdata
  *     money/quantity columns carry ≤2 decimals).
  *   - Integer SUMs are cast to BIGINT in the oracle SQL (DuckDB widens integer
  *     sums to HUGEINT, Spark to LONG).
  *   - Every query has a total ORDER BY so row order can never differ.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact decimal view of a ≤2-decimals double column. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def one: Column = lit(1).cast("decimal(18,2)")

  // ---------------------------------------------------------------- queries

  /** S1+S3+S4+S8+S12 — TPC-H Q1-style pricing summary (scan, filter on ts,
    * hash agg with decimal-exact sums, sort). */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec($"l_extendedprice") * (one - dec($"l_discount"))).cast("double").as("sum_disc_price"),
        sum(dec($"l_extendedprice") * (one - dec($"l_discount")) * (one + dec($"l_tax"))).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** S4 — filter predicate battery: =, <, BETWEEN, IN, AND/OR/NOT. */
  def q02FilterPredicates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter(
        $"l_shipdate".between(lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")) &&
        $"l_returnflag".isin("A", "R") &&
        ($"l_quantity" < 10.0 || $"l_discount" === 0.1) &&
        !($"l_linestatus" === "O"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount", $"l_returnflag")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
      |  AND l_returnflag IN ('A','R')
      |  AND (l_quantity < 10.0 OR l_discount = 0.1)
      |  AND NOT (l_linestatus = 'O')
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** S5 — broadcast hash equi-join (KV-store analogue, SURVEY §2.1 R12):
    * nation is the small side-input, joined broadcast. */
  def q03BroadcastJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(dec($"c_acctbal")).cast("double").as("sum_acctbal"))
      .orderBy($"r_name", $"n_name")
  }

  val q03Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** S6 — multi-way shuffle join (customer ⋈ orders ⋈ lineitem), TPC-H Q3-ish. */
  def q04ShuffleJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy($"o_orderkey", $"o_orderdate")
      .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount"))).cast("double").as("revenue"))
      .orderBy(desc("revenue"), $"o_orderkey")
      .limit(20)
  }

  val q04Sql: String =
    """SELECT o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 20""".stripMargin

  /** S7 — left semi join (bulkGet key-list analogue, SURVEY §2.1 R3). */
  def q05SemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter($"o_totalprice" > 150000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val q05Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
      |ORDER BY c_custkey""".stripMargin

  /** S7 — left anti join ("rows lacking a fresh score"). */
  def q06AntiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  val q06Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** S9 — distinct + count distinct. */
  def q07Distinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(
        countDistinct($"o_custkey").as("n_customers"),
        countDistinct($"o_orderpriority").as("n_priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderstatus")
  }

  val q07Sql: String =
    """SELECT o_orderstatus,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(DISTINCT o_orderpriority) AS n_priorities,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** S10 — window row_number: newest order per customer (max-versions
    * semantics of the reference's versioned cells, SURVEY §1.2). */
  def q08WindowTopPerKey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy(desc("o_orderdate"), desc("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .select($"o_custkey", $"rn", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .orderBy($"o_custkey", $"rn")
  }

  val q08Sql: String =
    """SELECT o_custkey, rn, o_orderkey, o_orderdate, o_totalprice FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin

  /** S11 — window lag + running aggregate over frames (change detection
    * vs previous version, SURVEY §2.2 S11). */
  def q09WindowLagRunning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    t(s, dir, "orders")
      .withColumn("prev_price", lag(dec($"o_totalprice"), 1).over(w).cast("double"))
      .withColumn("running_spend",
        sum(dec($"o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
      .filter($"o_custkey" <= 100)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"prev_price", $"running_spend")
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  val q09Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders
      |WHERE o_custkey <= 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** S13 — union of two slices (scored ∪ stale merge shape, SURVEY §2.1 R9). */
  def q10Union(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders")
    val hi = o.filter($"o_totalprice" > 250000.0).select($"o_orderkey", lit("hi").as("bucket"))
    val lo = o.filter($"o_totalprice" < 20000.0).select($"o_orderkey", lit("lo").as("bucket"))
    hi.unionByName(lo).orderBy($"o_orderkey")
  }

  val q10Sql: String =
    """SELECT o_orderkey, 'hi' AS bucket FROM orders WHERE o_totalprice > 250000.0
      |UNION ALL
      |SELECT o_orderkey, 'lo' AS bucket FROM orders WHERE o_totalprice < 20000.0
      |ORDER BY o_orderkey""".stripMargin

  /** S14 — intersect / except (registry diff on reread, SURVEY §2.1 R25). */
  def q11IntersectExcept(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders")
    val buyers96 = o.filter(year($"o_orderdate") === 1996).select($"o_custkey")
    val buyers97 = o.filter(year($"o_orderdate") === 1997).select($"o_custkey")
    val both = buyers96.intersect(buyers97).withColumn("cohort", lit("both"))
    val only96 = buyers96.distinct().exceptAll(buyers97.distinct()).withColumn("cohort", lit("only96"))
    both.unionByName(only96).orderBy($"cohort", $"o_custkey")
  }

  val q11Sql: String =
    """WITH b96 AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996),
      |     b97 AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997)
      |SELECT o_custkey, 'both' AS cohort FROM (SELECT o_custkey FROM b96 INTERSECT SELECT o_custkey FROM b97)
      |UNION ALL
      |SELECT o_custkey, 'only96' AS cohort FROM (SELECT DISTINCT o_custkey FROM b96 EXCEPT SELECT DISTINCT o_custkey FROM b97)
      |ORDER BY cohort, o_custkey""".stripMargin

  /** S15 — string functions: concat, substring, lower/upper, length, split. */
  def q12StringFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .select(
        $"p_partkey",
        concat($"p_brand", lit("#"), $"p_type").as("brand_type"),
        lower($"p_name").as("lname"),
        upper($"p_brand").as("ubrand"),
        substring($"p_type", 1, 5).as("type5"),
        length($"p_name").as("name_len"),
        size(split($"p_type", " ")).as("type_words"))
      .orderBy($"p_partkey")
  }

  val q12Sql: String =
    """SELECT p_partkey,
      |  p_brand || '#' || p_type AS brand_type,
      |  LOWER(p_name) AS lname,
      |  UPPER(p_brand) AS ubrand,
      |  SUBSTRING(p_type, 1, 5) AS type5,
      |  CAST(LENGTH(p_name) AS INT) AS name_len,
      |  CAST(LEN(STRING_SPLIT(p_type, ' ')) AS INT) AS type_words
      |FROM part ORDER BY p_partkey""".stripMargin

  /** S15 — date/timestamp functions (epoch arithmetic; clock always injected). */
  def q13DateFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select(
        $"o_orderkey",
        year($"o_orderdate").as("y"),
        month($"o_orderdate").as("m"),
        dayofmonth($"o_orderdate").as("d"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 1000").as("epoch_ms"),
        date_format($"o_orderdate", "yyyy-MM").as("ym"))
      .filter($"y" === 1997)
      .orderBy($"o_orderkey")
  }

  val q13Sql: String =
    """SELECT o_orderkey,
      |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
      |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
      |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS d,
      |  epoch_ms(o_orderdate) AS epoch_ms,
      |  strftime(o_orderdate, '%Y-%m') AS ym
      |FROM orders
      |WHERE EXTRACT(year FROM o_orderdate) = 1997
      |ORDER BY o_orderkey""".stripMargin

  /** S15 — math: + - * / % round abs, CASE WHEN. Exact decimal arithmetic. */
  def q14MathCase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_orderkey" <= 1000)
      .select(
        $"l_orderkey", $"l_linenumber",
        (dec($"l_extendedprice") * (one - dec($"l_discount"))).cast("double").as("net"),
        ($"l_partkey" % 10).as("pk_mod"),
        abs(dec($"l_quantity") - lit(25).cast("decimal(18,2)")).cast("double").as("qty_dev"),
        round(dec($"l_tax") * lit(100).cast("decimal(18,2)"), 0).cast("int").as("tax_pct"),
        when($"l_quantity" >= 30, lit("bulk"))
          .when($"l_quantity" >= 10, lit("mid"))
          .otherwise(lit("small")).as("qty_band"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q14Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS net,
      |  l_partkey % 10 AS pk_mod,
      |  CAST(ABS(CAST(l_quantity AS DECIMAL(18,2)) - CAST(25 AS DECIMAL(18,2))) AS DOUBLE) AS qty_dev,
      |  CAST(ROUND(CAST(l_tax AS DECIMAL(18,2)) * CAST(100 AS DECIMAL(18,2)), 0) AS INT) AS tax_pct,
      |  CASE WHEN l_quantity >= 30 THEN 'bulk' WHEN l_quantity >= 10 THEN 'mid' ELSE 'small' END AS qty_band
      |FROM lineitem
      |WHERE l_orderkey <= 1000
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** S16 — array functions: split + explode + array_sort + element_at. */
  def q15ArrayFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .select($"p_partkey", split($"p_type", " ").as("words"))
      .select(
        $"p_partkey",
        size($"words").as("n_words"),
        element_at(array_sort($"words"), 1).as("first_sorted"),
        explode($"words").as("word"))
      .orderBy($"p_partkey", $"word")
  }

  val q15Sql: String =
    """SELECT p_partkey,
      |  CAST(LEN(STRING_SPLIT(p_type,' ')) AS INT) AS n_words,
      |  LIST_SORT(STRING_SPLIT(p_type,' '))[1] AS first_sorted,
      |  UNNEST(STRING_SPLIT(p_type, ' ')) AS word
      |FROM part ORDER BY p_partkey, word""".stripMargin

  /** S17 — JSON extraction from the events.props payload (policy-state serde
    * shape, SURVEY §2.1 R17/R18). */
  def q16JsonFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Parse the JSON ONCE per row: the extracted value comes out of a
    // generator (explode of a 1-element array), which predicate pushdown
    // cannot cross. Without the barrier Catalyst pushes `k >= 90` through
    // the projection, inlining `get_json_object` into the filter — every
    // row's JSON then parses twice (projection + filter), which doubled this
    // query's cost at sf0.1. Null extraction (missing key) behaves as
    // before: explode keeps the row, the >= filter drops it.
    t(s, dir, "events")
      .select(
        $"event_id",
        explode(array(get_json_object($"props", "$.k").cast("int"))).as("k"))
      .filter($"k" >= 90)
      .orderBy($"event_id")
  }

  val q16Sql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 90
      |ORDER BY event_id""".stripMargin

  /** S8 — max_by/min_by + having-style post-aggregation filter. */
  def q17MaxByHaving(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"user_id")
      .agg(
        max_by($"event_id", $"ts").as("latest_event_id"),
        count(lit(1)).as("n_events"),
        sum(dec($"value")).cast("double").as("sum_value"))
      .filter($"n_events" >= 40)
      .orderBy($"user_id")
  }

  val q17Sql: String =
    """SELECT user_id,
      |  MAX_BY(event_id, ts) AS latest_event_id,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY user_id
      |HAVING COUNT(*) >= 40
      |ORDER BY user_id""".stripMargin

  /** S8 extension — ROLLUP hierarchy totals + conditional aggregation
    * (FILTER/CASE), exact decimal money sums. */
  def q36RollupConditional(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        count(when($"o_totalprice" > 200000.0, 1)).as("n_big"),
        sum(when(year($"o_orderdate") === 1997, dec($"o_totalprice"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("sum_1997"))
      .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")
  }

  val q36Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
      |  COUNT(*) AS n_orders,
      |  COUNT(*) FILTER (o_totalprice > 200000.0) AS n_big,
      |  CAST(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
      |           THEN CAST(o_totalprice AS DECIMAL(18,2))
      |           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_1997
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin

  /** S15/S23 — edit-distance string similarity: per brand, the number of
    * name-similar part pairs (levenshtein ≤ 6) and the closest distance —
    * the fuzzy-matching shape of record-linkage dedup, blocked by brand so
    * the pairwise cost stays per-block (the blocking key IS the scale knob). */
  def q38EditDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Blocked pairwise comparison, built to parallelize: broadcast the
    // whole dimension (part is a dim table — it stays broadcastable at
    // 100 TB scale-factors) and round-robin repartition the probe side, so
    // each task generates its own rows' pairs map-side against the
    // broadcast hash map. Parallelism scales with the cluster instead of
    // with the 25 distinct brands, and no brand's O(n²/2) triangle can
    // land on a single shuffle task (the r2 plan shuffled on p_brand: a
    // 25-task ceiling + a skewed hot key). Two pair-level cheapeners:
    // levenshtein(a,b) >= |len(a)-len(b)| admits a free length prefilter,
    // and the threshold form of levenshtein abandons the DP once the
    // distance provably exceeds 6 (O(k·len) instead of O(len²)).
    // (If the dimension ever outgrew broadcast, the fallback is triangle
    // decomposition: split each block into g hash-groups and shuffle on
    // (block, group-pair) — g(g+1)/2 evenly-sized tasks per block.)
    val p = t(s, dir, "part")
      .select($"p_partkey", $"p_brand", $"p_name", length($"p_name").as("len"))
    val probe = p.repartition(s.sessionState.conf.numShufflePartitions)
    probe.as("a").join(broadcast(p.as("b")),
        $"a.p_brand" === $"b.p_brand" && $"a.p_partkey" < $"b.p_partkey" &&
          abs($"a.len" - $"b.len") <= 6)
      .withColumn("dist", levenshtein($"a.p_name", $"b.p_name", 6))
      .filter($"dist" >= 0)
      .groupBy($"a.p_brand".as("brand"))
      .agg(count(lit(1)).as("n_similar_pairs"), min($"dist").as("min_dist"))
      .orderBy($"brand")
  }

  val q38Sql: String =
    """SELECT a.p_brand AS brand, count(*) AS n_similar_pairs,
      |  CAST(min(levenshtein(a.p_name, b.p_name)) AS INT) AS min_dist
      |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 6
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** S8/S26 — tumbling time-window aggregation over the events stream table
    * (daily windows, epoch-aligned): the batch form of the windowed
    * streaming aggregate. */
  def q39TimeWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(dec($"value")).cast("double").as("sum_value"))
      .select(date_format($"w.start", "yyyy-MM-dd").as("day"),
        $"event_type", $"n_events", $"sum_value")
      .orderBy($"day", $"event_type")
  }

  val q39Sql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** S8 — pivot: event counts per user spread across the event-type
    * categories as columns (fixed category list ⇒ stable schema). */
  def q40Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"user_id")
  }

  val q40Sql: String =
    """SELECT user_id,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'error') AS error,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'view') AS "view"
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** S15 — string-function battery 2: replace/translate/pad/trim/repeat/
    * reverse/position. */
  def q41StringFuncs2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .filter($"p_partkey" <= 500)
      .select(
        $"p_partkey",
        regexp_replace($"p_name", "[aeiou]", "_").as("devoweled"),
        translate($"p_brand", "Brand#", "BRAND-").as("xlate"),
        lpad($"p_partkey".cast("string"), 8, "0").as("padded_key"),
        rtrim(rpad($"p_type", 30, " ")).as("trimmed"),
        repeat(substring($"p_brand", -2, 2), 2).as("brand_tail_x2"),
        reverse($"p_type").as("rev_type"),
        instr($"p_name", "o").as("first_o"))
      .orderBy($"p_partkey")
  }

  val q41Sql: String =
    """SELECT p_partkey,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      |  translate(p_brand, 'Brand#', 'BRAND-') AS xlate,
      |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
      |  rtrim(rpad(p_type, 30, ' ')) AS trimmed,
      |  repeat(substring(p_brand, -2, 2), 2) AS brand_tail_x2,
      |  reverse(p_type) AS rev_type,
      |  CAST(strpos(p_name, 'o') AS INT) AS first_o
      |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin

  /** S15 — date-function battery 2: add_months/date_add/datediff/last_day/
    * trunc/quarter/dayofweek. */
  def q42DateFuncs2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .filter($"o_orderkey" <= 2000)
      .select(
        $"o_orderkey",
        date_format(add_months($"o_orderdate", 1), "yyyy-MM-dd").as("plus_month"),
        date_format(date_add($"o_orderdate", 30), "yyyy-MM-dd").as("plus_30d"),
        datediff(lit("1998-12-31").cast("date"), $"o_orderdate").as("days_to_eoy98"),
        date_format(last_day($"o_orderdate"), "yyyy-MM-dd").as("month_end"),
        date_format(trunc($"o_orderdate", "month"), "yyyy-MM-dd").as("month_start"),
        quarter($"o_orderdate").as("q"),
        dayofweek($"o_orderdate").as("dow"))
      .orderBy($"o_orderkey")
  }

  val q42Sql: String =
    """SELECT o_orderkey,
      |  strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m-%d') AS plus_month,
      |  -- DATE + int, NOT another INTERVAL: DuckDB 1.0's subexpression
      |  -- elimination treats INTERVAL 1 MONTH == INTERVAL 30 DAY (months
      |  -- normalize to 30 days for equality) and merges the expressions
      |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus_30d,
      |  CAST(datediff('day', o_orderdate, DATE '1998-12-31') AS INT) AS days_to_eoy98,
      |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      |  CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q,
      |  CAST(EXTRACT(dow FROM o_orderdate) + 1 AS INT) AS dow
      |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------- registry

  /** S6 + SURVEY §4 skew — salted fact⋈dim join: the big side spreads each
    * key over 8 deterministic sub-keys (row-hash salt), the dim side
    * replicates ×8, and the join key becomes (key, salt) — a hot key's rows
    * land on 8 tasks instead of 1. This is the explicit fallback for joins
    * AQE's skew handling can't split and broadcast can't avoid (dim too
    * big); results are identical to the plain join, which is exactly what
    * the oracle checks. */
  def q47SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = t(s, dir, "lineitem").select($"l_orderkey".as("o_orderkey"), $"l_quantity")
    val dim = t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
    graft.engine.Skew.saltedJoin(big, dim, "o_orderkey", salt = 8)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec($"l_quantity")).cast("double").as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  val q47Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** S8 — CUBE over (status, order-year): all four grouping combinations
    * with exact decimal money sums. */
  def q48Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .cube($"o_orderstatus", year($"o_orderdate").as("o_year"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        sum(dec($"o_totalprice")).cast("double").as("sum_price"))
      .orderBy($"gid", $"o_orderstatus", $"o_year")
  }

  val q48Sql: String =
    """SELECT o_orderstatus, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
      |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(EXTRACT(year FROM o_orderdate)) AS BIGINT) AS gid,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, EXTRACT(year FROM o_orderdate))
      |ORDER BY gid, o_orderstatus, o_year""".stripMargin

  /** S4/S7 via the SQL entry path — correlated EXISTS / NOT EXISTS and a
    * correlated scalar subquery, run through `spark.sql` over temp views:
    * Catalyst rewrites them into the same semi/anti/aggregate joins the
    * DataFrame queries declare directly (S7), so both API surfaces hit one
    * engine. */
  def q49SqlExists(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT COUNT(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders_v o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        |                    AND o.o_totalprice < 5000)
        |ORDER BY c_custkey""".stripMargin)
  }

  val q49Sql: String =
    """SELECT c_custkey, c_name,
      |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      |                    AND o.o_totalprice < 5000)
      |ORDER BY c_custkey""".stripMargin

  /** Deterministic per-sf-dir suffix for the bucketed catalog tables. */
  def bucketedTag(dir: String): String = math.abs(dir.hashCode.toLong).toString

  /** S2 + SURVEY §4 — bucket-co-located join, the measured artifact of the
    * 100 TB claim: both sides written bucketed+sorted by the order key, then
    * aggregated and joined WITHOUT a shuffle exchange on either join input
    * (BucketingSpec pins the plan: the bucketed scan satisfies both the
    * per-order aggregation's and the join's required distribution). At scale
    * the exchange dominates recurring entity joins — paying the bucketed
    * write once amortizes it away. The declared result reduces to
    * per-priority totals; that final tiny re-key is the plan's only shuffle. */
  def q45BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tag = bucketedTag(dir)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_$tag"
    // Bucketing is a write-ONCE layout decision amortized over every later
    // co-located join — so the tables are (re)written only when absent from
    // this session's catalog, and re-invocations measure the join itself.
    if (!s.catalog.tableExists(s"g_orders_b_$tag")) {
      Bucketing.writeBucketed(t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority"),
        s"g_orders_b_$tag", s"$base/orders", "o_orderkey", 16)
      Bucketing.writeBucketed(t(s, dir, "lineitem").select($"l_orderkey", $"l_quantity"),
        s"g_lineitem_b_$tag", s"$base/lineitem", "l_orderkey", 16)
    }
    bucketedOrderJoin(s, tag)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum($"n_items").as("n_items"),
        sum($"qty").cast("double").as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  /** The co-located join itself (shuffle-free; factored out so BucketingSpec
    * can assert its physical plan contains no hash-partition exchange). */
  def bucketedOrderJoin(s: SparkSession, tag: String): DataFrame = {
    val perOrder = s.table(s"g_lineitem_b_$tag")
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("qty"), count(lit(1)).as("n_items"))
    s.table(s"g_orders_b_$tag")
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
  }

  val q45Sql: String =
    """WITH per AS (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
      |                    COUNT(*) AS n_items
      |             FROM lineitem GROUP BY 1)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(n_items) AS BIGINT) AS n_items,
      |  CAST(SUM(qty) AS DOUBLE) AS sum_qty
      |FROM orders JOIN per ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** S5–S8 composed at TPC-H Q5's shape — regional local-supplier revenue:
    * customer→orders→lineitem→supplier with the customer and supplier in
    * the SAME nation, nation/region dims broadcast, one order-year cut,
    * revenue = Σ extprice_cents·(100 − disc_pct) in exact cent·percent
    * units (both factors 2-dp decimals ×100 — no float product). The
    * canonical "is the optimizer doing its job" join tree: two fact-fact
    * shuffle joins flanked by three broadcast dims with the filters
    * pushed into the scans. */
  def q224RegionalRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(expr("year(CAST(o_orderdate AS TIMESTAMP)) = 1996"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
      expr("100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("keep_pct"))
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val n = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
    val r = broadcast(t(s, dir, "region"))
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("ext_cents") * col("keep_pct")).as("revenue_cp"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_cp").desc, col("n_name"))
  }

  val q224Sql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) AS BIGINT)
      |    AS revenue_cp,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM orders
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
      |JOIN nation ON n_nationkey = c_nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |WHERE CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) = 1996
      |GROUP BY r_name, n_name
      |ORDER BY revenue_cp DESC, n_name""".stripMargin

  /** S8/S15 at TPC-H Q8's shape — per-region market share of one
    * nation's suppliers, by order year: the nation's revenue over the
    * region's total as a conditional aggregate over ONE join tree (no
    * second pass), share in ppm via the shared floor-div. The dims
    * broadcast; the two fact joins shuffle on their keys once. */
  def q225MarketShare(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      expr("CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)").as("yr"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
      expr("100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("keep_pct"))
    val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val n = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
    val r = broadcast(t(s, dir, "region"))
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .withColumn("rev_cp", col("ext_cents") * col("keep_pct"))
      .groupBy("r_name", "yr")
      .agg(sum("rev_cp").as("total_cp"),
        sum(when(col("n_name") === "NATION_0", col("rev_cp"))
          .otherwise(0L)).as("nation_cp"))
      .withColumn("share_ppm", expr(
        graft.operators.Analytics.floorDivScaledSql("nation_cp", "total_cp", 1000000L)))
      .orderBy("r_name", "yr")
  }

  val q225Sql: String = {
    val fd = graft.operators.Analytics.floorDivScaledSql(
      "nation_cp", "total_cp", 1000000L, op = "//")
    s"""WITH j AS (SELECT r_name,
      |    CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr, n_name,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) AS rev_cp
      |  FROM orders
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON n_nationkey = s_nationkey
      |  JOIN region ON r_regionkey = n_regionkey),
      |g AS (SELECT r_name, yr, CAST(sum(rev_cp) AS BIGINT) AS total_cp,
      |        CAST(sum(CASE WHEN n_name = 'NATION_0' THEN rev_cp ELSE 0 END) AS BIGINT)
      |          AS nation_cp
      |      FROM j GROUP BY 1, 2)
      |SELECT r_name, yr, total_cp, nation_cp, CAST($fd AS BIGINT) AS share_ppm
      |FROM g ORDER BY r_name, yr""".stripMargin
  }

  /** S8+S13-adjacent at TPC-H Q13's shape — order-count distribution over a
    * LEFT OUTER join: every customer keeps a row (zero-order customers land
    * in the c_count = 0 bucket), the priority cut rides the orders scan
    * BEFORE the join (equivalent to Q13's join-condition filter, and the
    * shape Catalyst can push), then two aggregations: per-customer order
    * count, then the distribution over counts. The outer-join + double-agg
    * tree is the canonical "does COUNT(nullable) do the right thing" audit. */
  def q226Custdist(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    t(s, dir, "customer").select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q226Sql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** S7+S8 at TPC-H Q22's shape — "rich but dormant" customers: balance
    * above the global positive-balance average AND no urgent order ever
    * (anti join), rolled up by nation. The global average is one broadcast
    * row and the comparison is the exact cross-multiply
    * bal·n_pos > sum_pos — no division, no float threshold. */
  def q227DormantRich(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").cast("long").as("c_nationkey"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal_cents"))
    val gl = broadcast(c.filter(col("bal_cents") > 0L)
      .agg(count(lit(1)).as("n_pos"), sum("bal_cents").as("sum_pos")))
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    c.crossJoin(gl)
      .filter(col("bal_cents") * col("n_pos") > col("sum_pos"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"), sum("bal_cents").as("total_cents"))
      .orderBy("c_nationkey")
  }

  val q227Sql: String =
    """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
      |  FROM customer),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_pos,
      |        CAST(sum(bal_cents) AS BIGINT) AS sum_pos
      |      FROM c WHERE bal_cents > 0)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(sum(bal_cents) AS BIGINT) AS total_cents
      |FROM c CROSS JOIN g
      |WHERE bal_cents * n_pos > sum_pos
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** S8+S5 at TPC-H Q18's shape — large-quantity orders: the HAVING-style
    * per-order quantity rollup (map-side-combinable sum, > 300 units in
    * exact cent-quantities) feeds a join BACK to orders + customer. The
    * aggregate side is tiny after the cut, so AQE broadcasts it into the
    * fact join — filter-by-aggregation without a second fact pass. */
  def q228LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)").as("qty_c"))
      .groupBy("l_orderkey")
      .agg(sum("qty_c").as("total_qty_c"))
      .filter(col("total_qty_c") > 30000L)
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("o_day"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("price_cents"))
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    o.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_day"),
        col("price_cents"), col("total_qty_c"))
      .orderBy(col("price_cents").desc, col("o_orderkey"))
  }

  val q228Sql: String =
    """WITH big AS (SELECT l_orderkey,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |      AS total_qty_c
      |  FROM lineitem GROUP BY 1
      |  HAVING sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) > 30000)
      |SELECT c_name, c_custkey, o_orderkey,
      |  CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS o_day,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
      |  total_qty_c
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY price_cents DESC, o_orderkey""".stripMargin

  /** S7+S8 at TPC-H Q21's shape — the sole blocking supplier: orders with
    * ≥ 2 distinct suppliers where EXACTLY ONE supplier shipped late
    * (> 60 days after the order date), charged to that supplier. Q21's
    * correlated EXISTS / NOT EXISTS pair re-expressed as ONE per-order
    * aggregation — n_supp, n_late (count distinct over a CASE), and the
    * unique late supplier via min-of-case (exact because n_late = 1 is
    * enforced) — so the facts shuffle once on l_orderkey instead of
    * joining lineitem to itself twice. */
  def q229BlockingSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("ship_day"))
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("o_day"))
    val su = broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late_supp",
        when(col("ship_day") - col("o_day") > 60L, col("l_suppkey")))
      .groupBy("l_orderkey")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("late_supp")).as("n_late"),
        min(col("late_supp")).as("the_supp"))
      .filter(col("n_supp") >= 2L && col("n_late") === 1L)
      .groupBy("the_supp")
      .agg(count(lit(1)).as("numwait"))
      .join(su, col("the_supp") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val q229Sql: String =
    """WITH j AS (SELECT l_orderkey, l_suppkey,
      |    CASE WHEN CAST(epoch_us(l_shipdate) AS BIGINT) // 86400000000
      |            - CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 > 60
      |         THEN l_suppkey END AS late_supp
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      |p AS (SELECT l_orderkey,
      |        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
      |        CAST(count(DISTINCT late_supp) AS BIGINT) AS n_late,
      |        min(late_supp) AS the_supp
      |      FROM j GROUP BY 1)
      |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM p JOIN supplier ON s_suppkey = the_supp
      |WHERE n_supp >= 2 AND n_late = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  /** S8 at TPC-H Q15's shape — top supplier per quarter: quarterly
    * supplier revenue (exact cent·percent units), the per-quarter maximum
    * via a metadata-scale aggregate that joins BACK by equality — Q15's
    * "view + max over the view" pattern with ties kept, no window over
    * the fact stream. */
  def q239TopSupplierQuarter(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      expr("CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)").as("yr"),
      expr("CAST(quarter(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)").as("qtr"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
      expr("100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("keep_pct"))
    val rev = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("yr", "qtr", "l_suppkey")
      .agg(sum(col("ext_cents") * col("keep_pct")).as("revenue_cp"))
    val best = rev.groupBy("yr", "qtr").agg(max("revenue_cp").as("revenue_cp"))
    val su = broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")))
    rev.join(best, Seq("yr", "qtr", "revenue_cp"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .select(col("yr"), col("qtr"), col("s_name"), col("revenue_cp"))
      .orderBy("yr", "qtr", "s_name")
  }

  val q239Sql: String =
    """WITH rev AS (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |    CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr, l_suppkey,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) AS BIGINT)
      |      AS revenue_cp
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2, 3),
      |best AS (SELECT yr, qtr, CAST(max(revenue_cp) AS BIGINT) AS revenue_cp
      |         FROM rev GROUP BY 1, 2)
      |SELECT yr, qtr, s_name, revenue_cp
      |FROM rev JOIN best USING (yr, qtr, revenue_cp)
      |JOIN supplier ON s_suppkey = l_suppkey
      |ORDER BY yr, qtr, s_name""".stripMargin

  /** S5+S8 at TPC-H Q2's shape — cheapest qualifying offer per part: among
    * lineitems whose supplier sits in ASIA, each part's minimum
    * extended price and (at that price) the minimum supplier key — Q2's
    * correlated min re-expressed as ONE min(struct) aggregate (price
    * first, supplier as the deterministic tie-break) joined to the
    * broadcast part/supplier/nation/region dims. No join-back second
    * pass: the struct minimum carries the argmin out of the aggregation. */
  def q240CheapestOffer(s: SparkSession, dir: String): DataFrame = {
    val n = broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey")))
    val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
    val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"), col("s_name"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"))
    val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("price_cents"))
    val p = broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand")))
    li.join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(min(struct(col("price_cents"), col("s_suppkey"))).as("m"))
      .select(col("l_partkey"), col("m.price_cents").as("price_cents"),
        col("m.s_suppkey").as("supp"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(broadcast(su), col("supp") === col("s_suppkey"))
      .select(col("l_partkey").as("partkey"), col("p_brand"), col("s_name"),
        col("price_cents"))
      .orderBy("partkey")
  }

  val q240Sql: String =
    """WITH su AS (SELECT s_suppkey, s_name
      |  FROM supplier JOIN nation ON n_nationkey = s_nationkey
      |  JOIN region ON r_regionkey = n_regionkey
      |  WHERE r_name = 'ASIA'),
      |off AS (SELECT l_partkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
      |    s_suppkey
      |  FROM lineitem JOIN su ON s_suppkey = l_suppkey),
      |mp AS (SELECT l_partkey, CAST(min(price_cents) AS BIGINT) AS price_cents
      |       FROM off GROUP BY 1),
      |pick AS (SELECT off.l_partkey, off.price_cents,
      |           CAST(min(off.s_suppkey) AS BIGINT) AS supp
      |         FROM off JOIN mp ON mp.l_partkey = off.l_partkey
      |                        AND mp.price_cents = off.price_cents
      |         GROUP BY 1, 2)
      |SELECT pick.l_partkey AS partkey, p_brand, s_name, pick.price_cents
      |FROM pick JOIN part ON p_partkey = pick.l_partkey
      |JOIN su ON su.s_suppkey = pick.supp
      |ORDER BY partkey""".stripMargin

  /** S8 depth — GROUPING SETS with grouping_id: customer balance rolled
    * up by nation, by market segment, and globally in ONE pass (the
    * Expand operator fans each row into its grouping sets; partial
    * aggregation still combines map-side per set). The explicit-sets
    * sibling of q36's ROLLUP and q48's CUBE; gid disambiguates the
    * NULL-keyed rows exactly as both engines compute it (nation bit,
    * segment bit). */
  def q241GroupingSets(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      col("c_nationkey").cast("long").as("nation"), col("c_mktsegment"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal"))
    c.createOrReplaceTempView("g_q241_customer")
    s.sql(
      """SELECT grouping_id(nation, c_mktsegment) AS gid,
        |  nation, c_mktsegment,
        |  count(*) AS n, sum(bal) AS sum_cents
        |FROM g_q241_customer
        |GROUP BY GROUPING SETS ((nation), (c_mktsegment), ())
        |ORDER BY gid, nation, c_mktsegment""".stripMargin)
  }

  val q241Sql: String =
    """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
      |  FROM customer)
      |SELECT CAST(GROUPING(nation) * 2 + GROUPING(c_mktsegment) AS BIGINT) AS gid,
      |  nation, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n, CAST(sum(bal) AS BIGINT) AS sum_cents
      |FROM c
      |GROUP BY GROUPING SETS ((nation), (c_mktsegment), ())
      |ORDER BY gid, nation, c_mktsegment""".stripMargin

  /** S5/S8/S12 at TPC-H Q3's shape — shipping-priority top-10: unshipped
    * revenue per order for one market segment at a cutoff date. The two
    * date filters push into both fact scans; the customer semi-side
    * reduces orders before the lineitem join; revenue is exact integer
    * cents·pct; top-10 is a TakeOrdered (no global sort materialized). */
  def q245ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("o_day"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
      .select(col("l_orderkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
        expr("100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("keep_pct"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_day", "o_orderpriority")
      .agg(sum(col("ext_cents") * col("keep_pct")).as("revenue_cp"))
      .orderBy(col("revenue_cp").desc, col("l_orderkey"))
      .limit(10)
  }

  val q245Sql: String =
    """SELECT l_orderkey,
      |  CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS o_day,
      |  o_orderpriority,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) AS BIGINT)
      |    AS revenue_cp
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-07-01'
      |  AND l_shipdate > TIMESTAMP '1998-07-01'
      |GROUP BY l_orderkey, o_day, o_orderpriority
      |ORDER BY revenue_cp DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** S6/S8 at TPC-H Q7's shape — cross-nation shipping volume between two
    * named nations, by ship year and direction. Both direction predicates
    * ride ONE join tree (the OR over the broadcast nation pair, not two
    * passes); the fact-side joins shuffle once on their keys. */
  def q246VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("year(CAST(l_shipdate AS TIMESTAMP))").cast("long").as("l_year"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
        expr("100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("keep_pct"))
    li.join(su, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .join(broadcast(n.select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum(col("ext_cents") * col("keep_pct")).as("revenue_cp"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q246Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) AS BIGINT)
      |    AS revenue_cp,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |JOIN nation n2 ON n2.n_nationkey = c_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** S6/S8/S12 at TPC-H Q10's shape — top-20 customers by returned-item
    * revenue for one order quarter. The quarter filter prunes orders
    * before either fact join; returnflag pushes into the lineitem scan;
    * the nation dim broadcasts; top-20 is a TakeOrdered. */
  def q247ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
        expr("100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("keep_pct"))
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
      col("c_nationkey"))
    val n = broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")))
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(col("ext_cents") * col("keep_pct")).as("revenue_cp"),
        count(lit(1)).as("n_returns"))
      .orderBy(col("revenue_cp").desc, col("c_custkey"))
      .limit(20)
  }

  val q247Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) AS BIGINT)
      |    AS revenue_cp,
      |  CAST(count(*) AS BIGINT) AS n_returns
      |FROM orders
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation ON n_nationkey = c_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1999-01-01'
      |  AND o_orderdate < TIMESTAMP '1999-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue_cp DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** S8 at TPC-H Q17's shape — small-quantity-order revenue for one
    * brand: lineitems whose quantity is below 20% of their part's mean
    * quantity. The correlated AVG subquery becomes one map-side-combinable
    * per-part (sum, count) aggregate joined back; the predicate
    * `qty < sum/(5·cnt)` is evaluated as the exact integer cross-product
    * `5·qty·cnt < sum` — no division, no floats, no rank window. */
  def q248SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_brand") === "Brand#12")
      .select(col("p_partkey"))
    val li = t(s, dir, "lineitem").select(col("l_partkey"),
      col("l_quantity").cast("long").as("qty"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"))
    val brandItems = li.join(p, col("l_partkey") === col("p_partkey"))
    val perPart = brandItems.groupBy("p_partkey")
      .agg(sum("qty").as("sum_qty"), count(lit(1)).as("cnt"))
    brandItems.join(perPart, "p_partkey")
      .filter(lit(5L) * col("qty") * col("cnt") < col("sum_qty"))
      .agg(sum("ext_cents").as("small_qty_cents"), count(lit(1)).as("n_small"))
      .select(lit("Brand#12").as("p_brand"), col("small_qty_cents"), col("n_small"))
  }

  val q248Sql: String =
    """WITH b AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS ext_cents
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_brand = 'Brand#12'),
      |pp AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM b GROUP BY 1)
      |SELECT 'Brand#12' AS p_brand,
      |  CAST(sum(ext_cents) AS BIGINT) AS small_qty_cents,
      |  CAST(count(*) AS BIGINT) AS n_small
      |FROM b JOIN pp USING (l_partkey)
      |WHERE 5 * qty * cnt < sum_qty""".stripMargin

  /** S8/S15 at TPC-H Q14's shape — promo revenue share for one ship
    * month as a conditional aggregate over ONE scan+join (no second
    * pass); share in ppm via the shared floor-div so the gate stays
    * integer-exact. */
  def q249PromoShare(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .select(col("l_partkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
        expr("100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("keep_pct"))
    val p = broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type")))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("ext_cents") * col("keep_pct"))
          .otherwise(0L)).as("promo_cp"),
        sum(col("ext_cents") * col("keep_pct")).as("total_cp"))
      .withColumn("promo_ppm", expr(
        graft.operators.Analytics.floorDivScaledSql("promo_cp", "total_cp", 1000000L)))
  }

  val q249Sql: String = {
    val fd = graft.operators.Analytics.floorDivScaledSql(
      "promo_cp", "total_cp", 1000000L, op = "//")
    s"""WITH g AS (SELECT
      |    CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |        * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))
      |      ELSE 0 END) AS BIGINT) AS promo_cp,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) AS BIGINT)
      |      AS total_cp
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      |    AND l_shipdate < TIMESTAMP '1997-10-01')
      |SELECT promo_cp, total_cp, CAST($fd AS BIGINT) AS promo_ppm FROM g""".stripMargin
  }

  /** S4/S8 at TPC-H Q19's shape — discounted revenue under an OR of three
    * brand/size/quantity AND-branches. The whole disjunction stays ONE
    * scan+broadcast-join with the predicate evaluated post-join (Catalyst
    * still pushes the per-branch quantity envelope `qty BETWEEN 1 AND 30`
    * into the lineitem scan via the derived common bound). */
  def q250OrBranchRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey"),
      col("l_quantity").cast("long").as("qty"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
      expr("100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("keep_pct"))
      .filter(col("qty") >= 1L && col("qty") <= 30L)
    val p = broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
      col("p_size")))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("qty").between(1L, 11L)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 10) &&
          col("qty").between(10L, 20L)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("qty").between(20L, 30L)))
      .agg(sum(col("ext_cents") * col("keep_pct")).as("revenue_cp"),
        count(lit(1)).as("n_items"))
  }

  val q250Sql: String =
    """SELECT
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) AS BIGINT)
      |    AS revenue_cp,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |    AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
      |  OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
      |    AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
      |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |    AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)""".stripMargin

  /** S7/S9 at TPC-H Q16's shape — distinct shipping suppliers per part
    * (brand, type, size) profile, excluding one brand and suppliers in
    * arrears (anti join). The supplier exclusion list is broadcast-anti;
    * the distinct count shuffles once on the profile key. */
  def q264PartSupplierDist(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_brand") =!= "Brand#5")
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size").cast("long").as("p_size"))
    val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0.0)
      .select(col("s_suppkey"))
    val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
      .limit(30)
  }

  val q264Sql: String =
    """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#5'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      |LIMIT 30""".stripMargin

  /** S7/S8 at TPC-H Q4's shape — order-priority census of one quarter's
    * orders having at least one lineitem shipped more than 90 days after
    * the order date. The EXISTS is a left-semi join whose date predicate
    * rides the join condition (day arithmetic on both sides — no
    * interval types cross the engines); the quarter filter prunes the
    * orders scan. */
  def q265PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("o_day"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("l_day"))
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_day") > col("o_day") + lit(90L), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_cnt"))
      .orderBy("o_orderpriority")
  }

  val q265Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_cnt
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      |  AND o_orderdate < TIMESTAMP '1997-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND CAST(epoch_us(l_shipdate) AS BIGINT) // 86400000000
      |        > CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 + 90)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** S4/S8 at TPC-H Q6's shape — forecast-revenue-change: one fully
    * pushed-down predicate scan (year + discount band + quantity cap),
    * one integer sum. The whole query should compile to a single
    * WholeStageCodegen span over the parquet scan. */
  def q271ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
        expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("disc_pct"),
        col("l_quantity").cast("long").as("qty"))
      .filter(col("disc_pct") >= 5L && col("disc_pct") <= 7L && col("qty") < 24L)
      .agg(sum(col("ext_cents") * col("disc_pct")).as("revenue_delta_cp"),
        count(lit(1)).as("n_items"))

  val q271Sql: String =
    """SELECT
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    * CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS revenue_delta_cp,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) BETWEEN 5 AND 7
      |  AND CAST(l_quantity AS BIGINT) < 24""".stripMargin

  /** S6/S8 at TPC-H Q9's shape — product-line profit by supplier nation
    * and order year for one part family (name-infix filter): profit =
    * discounted revenue − retail cost of the shipped quantity (the
    * testdata has no partsupp cost side, so p_retailprice stands in —
    * same join tree, same units: cents·pct). Dims broadcast; facts
    * shuffle once. */
  def q272ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val p = broadcast(t(s, dir, "part")
      .filter(col("p_name").contains("widget"))
      .select(col("p_partkey"),
        expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("retail_cents")))
    val su = broadcast(t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey")))
    val n = broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")))
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      expr("year(CAST(o_orderdate AS TIMESTAMP))").cast("long").as("o_year"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_quantity").cast("long").as("qty"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ext_cents"),
      expr("100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("keep_pct"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(sum(col("ext_cents") * col("keep_pct") -
        col("retail_cents") * col("qty") * lit(100L)).as("profit_cp"),
        count(lit(1)).as("n_items"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q272Sql: String =
    """SELECT n_name AS nation,
      |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))
      |    - CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * CAST(l_quantity AS BIGINT) * 100) AS BIGINT) AS profit_cp,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |JOIN orders ON o_orderkey = l_orderkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY n_name, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** S7 at TPC-H Q20's shape — suppliers of one nation who shipped more
    * than 50 units of some PROMO-type part: the inner "available parts"
    * subquery is a broadcast semi chain (part-type semi → per-(supplier,
    * part) quantity aggregate → threshold), the outer a second semi onto
    * supplier. Two nested semi-joins, zero row multiplication. */
  def q273SurplusSuppliers(s: SparkSession, dir: String): DataFrame = {
    val promo = t(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val shipped = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"))
      .join(broadcast(promo), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum("qty").as("sum_qty"))
      .filter(col("sum_qty") > 50L)
      .select(col("l_suppkey")).distinct()
    val n = broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")))
    t(s, dir, "supplier")
      .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  val q273Sql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier JOIN nation ON n_nationkey = s_nationkey
      |WHERE n_name = 'NATION_3'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) > 50)
      |ORDER BY s_suppkey""".stripMargin

  /** S11 depth — the remaining rank-family window functions in one
    * per-nation pass: ntile(4) balance quartiles, percent_rank /
    * cume_dist as exact integer (numerator, denominator) pieces (the
    * ratios themselves are floats — the pieces gate), and the nation's
    * 2nd-highest balance via nth_value over the full frame. ONE
    * hashpartitioning(nation) exchange feeds every window. */
  def q274WindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("nation").orderBy(col("bal").desc, col("c_custkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("n_in_nation", count(lit(1)).over(wFull))
      .withColumn("pct_rank_num", col("rnk") - 1L)
      .withColumn("cume_num", count(lit(1)).over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("second_bal", expr("nth_value(bal, 2)").over(wFull))
      .filter(col("c_custkey") % 10L === 0L)
      .select("c_custkey", "nation", "bal", "quartile", "rnk", "n_in_nation",
        "pct_rank_num", "cume_num", "second_bal")
      .orderBy("c_custkey")
  }

  val q274Sql: String =
    """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
      |  FROM customer),
      |w AS (SELECT c_custkey, nation, bal,
      |    CAST(ntile(4) OVER win AS BIGINT) AS quartile,
      |    CAST(rank() OVER win AS BIGINT) AS rnk,
      |    CAST(count(*) OVER (PARTITION BY nation) AS BIGINT) AS n_in_nation,
      |    CAST(rank() OVER win AS BIGINT) - 1 AS pct_rank_num,
      |    CAST(count(*) OVER (PARTITION BY nation ORDER BY bal DESC, c_custkey
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cume_num,
      |    nth_value(bal, 2) OVER (PARTITION BY nation ORDER BY bal DESC, c_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_bal
      |  FROM c
      |  WINDOW win AS (PARTITION BY nation ORDER BY bal DESC, c_custkey))
      |SELECT c_custkey, nation, bal, quartile, rnk, n_in_nation,
      |  pct_rank_num, cume_num, second_bal
      |FROM w WHERE c_custkey % 10 = 0
      |ORDER BY c_custkey""".stripMargin

  /** S8/S15 — week-over-week contribution decomposition: which nation
    * drove the revenue change between two adjacent ISO weeks. Both weeks
    * aggregate in ONE conditional pass (no self-join); each nation's
    * share of the total delta floors to ppm against the broadcast
    * 1-row total. The root-cause rollup every revenue dashboard runs. */
  def q275WowContribution(s: SparkSession, dir: String): DataFrame = {
    val wk = t(s, dir, "orders")
      .select(col("o_custkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 604800000000").as("wk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val weeks = broadcast(wk.agg(max("wk").as("w1")).select(col("w1"),
      (col("w1") - 1L).as("w0")))
    val c = broadcast(t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation")))
    // localCheckpoint pins the ONE fact pass: the nation frame (≤ |nations|
    // rows, metadata-scale) feeds both the total and the final join — without
    // it each consumer would re-aggregate the orders scan
    val per = wk.crossJoin(weeks)
      .filter(col("wk") === col("w0") || col("wk") === col("w1"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("nation")
      .agg(sum(when(col("wk") === col("w0"), col("cents")).otherwise(0L)).as("rev_w0"),
        sum(when(col("wk") === col("w1"), col("cents")).otherwise(0L)).as("rev_w1"))
      .withColumn("delta", col("rev_w1") - col("rev_w0"))
      .localCheckpoint()
    val tot = broadcast(per.agg(sum("delta").as("total_delta")))
    per.crossJoin(tot)
      .withColumn("contrib_ppm", expr(graft.operators.Analytics
        .floorDivScaledSql("delta", "total_delta", 1000000L)))
      .select("nation", "rev_w0", "rev_w1", "delta", "total_delta", "contrib_ppm")
      .orderBy("nation")
  }

  val q275Sql: String = {
    val fd = graft.operators.Analytics.floorDivScaledSql(
      "delta", "total_delta", 1000000L, op = "//")
    s"""WITH wk AS (SELECT o_custkey,
      |    CAST(epoch_us(o_orderdate) AS BIGINT) // 604800000000 AS wk,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |ws AS (SELECT max(wk) AS w1, max(wk) - 1 AS w0 FROM wk),
      |per AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
      |    CAST(sum(CASE WHEN wk = w0 THEN cents ELSE 0 END) AS BIGINT) AS rev_w0,
      |    CAST(sum(CASE WHEN wk = w1 THEN cents ELSE 0 END) AS BIGINT) AS rev_w1
      |  FROM wk CROSS JOIN ws
      |  JOIN customer ON c_custkey = o_custkey
      |  WHERE wk = w0 OR wk = w1
      |  GROUP BY 1),
      |d AS (SELECT nation, rev_w0, rev_w1, rev_w1 - rev_w0 AS delta FROM per),
      |t AS (SELECT CAST(sum(delta) AS BIGINT) AS total_delta FROM d)
      |SELECT nation, rev_w0, rev_w1, delta, total_delta,
      |  CAST($fd AS BIGINT) AS contrib_ppm
      |FROM d CROSS JOIN t ORDER BY nation""".stripMargin
  }

  /** S8 at TPC-H Q11's shape — important-stock identification, the last
    * of the 22 TPC-H shapes alongside q277. The testdata has no partsupp,
    * so a part's "stock value" is the retail value of units shipped by
    * one nation's suppliers (same join tree: supplier-nation semi →
    * per-part value aggregate → global-fraction HAVING). The fraction
    * threshold is the classic scalar subquery, made SCALE-FREE: classic
    * Q11 hard-codes fraction 0.0001/SF; here a part is "important" when
    * its value exceeds 2× the mean part value (value × n_parts > 2 ×
    * total), which discriminates identically at every SF. The 1-row
    * {total, count} aggregate is broadcast and the HAVING rides a
    * crossJoin against it — no second scan of the fact side
    * (localCheckpoint pins the per-part frame the way q275 pins its
    * nation frame). Integer-exact: cents × qty. */
  /** q276's pre-checkpoint per-part value frame — package-private so
    * PlanSpec pins the REAL pipeline's semi/broadcast nesting (which the
    * checkpoint truncates out of the declared query's plan) instead of a
    * drift-prone private copy. */
  private[graft] def q276PerPartValue(s: SparkSession, dir: String): DataFrame = {
    val natSup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
        .filter(col("n_name") === "NATION_8")
        .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .select(col("s_suppkey"))
    val p = broadcast(t(s, dir, "part").select(col("p_partkey"),
      expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("retail_cents")))
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"))
      .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey")
      .agg(sum(col("retail_cents") * col("qty")).as("value_cents"))
  }

  def q276ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val per = q276PerPartValue(s, dir).localCheckpoint()
    val tot = broadcast(per.agg(sum("value_cents").as("total_cents"),
      count(lit(1)).as("n_parts")))
    per.crossJoin(tot)
      .filter(col("value_cents") * col("n_parts") > col("total_cents") * lit(2L))
      .select(col("l_partkey").as("p_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("p_partkey"))
  }

  val q276Sql: String =
    """WITH per AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_cents
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  WHERE l_suppkey IN (
      |    SELECT s_suppkey FROM supplier JOIN nation ON n_nationkey = s_nationkey
      |    WHERE n_name = 'NATION_8')
      |  GROUP BY l_partkey),
      |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
      |    count(*) AS n_parts FROM per)
      |SELECT l_partkey AS p_partkey, value_cents
      |FROM per CROSS JOIN t
      |WHERE value_cents * n_parts > total_cents * 2
      |ORDER BY value_cents DESC, p_partkey""".stripMargin

  /** S6/S8 at TPC-H Q12's shape — shipping-mode / order-priority census.
    * The testdata lineitem has no shipmode or receiptdate, so the census
    * buckets by l_returnflag (the categorical stand-in) over late-half
    * shipments (shipped > 60 days after order date — the Q12 lateness
    * predicate on the columns that exist), splitting counts into
    * critical (1-URGENT/2-HIGH) vs normal priority. One fact shuffle on
    * orderkey; the CASE split is a conditional aggregate, not two scans. */
  def q277ShipmodePriority(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("o_day"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("l_day"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_day") > col("o_day") + lit(60L))
      .groupBy(col("l_returnflag").as("ship_mode"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
          col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy("ship_mode")
  }

  val q277Sql: String =
    """SELECT l_returnflag AS ship_mode,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND CAST(epoch_us(l_shipdate) AS BIGINT) // 86400000000
      |    > CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 + 60
      |GROUP BY 1
      |ORDER BY ship_mode""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q276_important_stock", q276ImportantStock, q276Sql),
    Query("q277_shipmode_priority", q277ShipmodePriority, q277Sql),
    Query("q274_window_suite", q274WindowSuite, q274Sql),
    Query("q275_wow_contribution", q275WowContribution, q275Sql),
    Query("q271_forecast_revenue", q271ForecastRevenue, q271Sql),
    Query("q272_product_profit", q272ProductProfit, q272Sql),
    Query("q273_surplus_suppliers", q273SurplusSuppliers, q273Sql),
    Query("q264_part_supplier_dist", q264PartSupplierDist, q264Sql),
    Query("q265_priority_exists", q265PriorityExists, q265Sql),
    Query("q245_shipping_priority", q245ShippingPriority, q245Sql),
    Query("q246_volume_shipping", q246VolumeShipping, q246Sql),
    Query("q247_returned_items", q247ReturnedItems, q247Sql),
    Query("q248_small_qty_revenue", q248SmallQtyRevenue, q248Sql),
    Query("q249_promo_share", q249PromoShare, q249Sql),
    Query("q250_or_branch_revenue", q250OrBranchRevenue, q250Sql),
    Query("q224_regional_revenue", q224RegionalRevenue, q224Sql),
    Query("q225_market_share", q225MarketShare, q225Sql),
    Query("q226_custdist", q226Custdist, q226Sql),
    Query("q239_top_supplier_quarter", q239TopSupplierQuarter, q239Sql),
    Query("q240_cheapest_offer", q240CheapestOffer, q240Sql),
    Query("q241_grouping_sets", q241GroupingSets, q241Sql),
    Query("q227_dormant_rich", q227DormantRich, q227Sql),
    Query("q228_large_orders", q228LargeOrders, q228Sql),
    Query("q229_blocking_supplier", q229BlockingSupplier, q229Sql),
    Query("q01_pricing_summary", q01PricingSummary, q01Sql),
    Query("q02_filter_predicates", q02FilterPredicates, q02Sql),
    Query("q03_broadcast_join", q03BroadcastJoin, q03Sql),
    Query("q04_shuffle_join", q04ShuffleJoin, q04Sql),
    Query("q05_semi_join", q05SemiJoin, q05Sql),
    Query("q06_anti_join", q06AntiJoin, q06Sql),
    Query("q07_distinct", q07Distinct, q07Sql),
    Query("q08_window_top_per_key", q08WindowTopPerKey, q08Sql),
    Query("q09_window_lag_running", q09WindowLagRunning, q09Sql),
    Query("q10_union", q10Union, q10Sql),
    Query("q11_intersect_except", q11IntersectExcept, q11Sql),
    Query("q12_string_funcs", q12StringFuncs, q12Sql),
    Query("q13_date_funcs", q13DateFuncs, q13Sql),
    Query("q14_math_case", q14MathCase, q14Sql),
    Query("q15_array_funcs", q15ArrayFuncs, q15Sql),
    Query("q16_json_funcs", q16JsonFuncs, q16Sql),
    Query("q17_max_by_having", q17MaxByHaving, q17Sql),
    Query("q36_rollup_conditional", q36RollupConditional, q36Sql),
    Query("q38_edit_distance", q38EditDistance, q38Sql),
    Query("q39_time_window", q39TimeWindow, q39Sql),
    Query("q40_pivot", q40Pivot, q40Sql),
    Query("q41_string_funcs2", q41StringFuncs2, q41Sql),
    Query("q42_date_funcs2", q42DateFuncs2, q42Sql),
    Query("q45_bucketed_join", q45BucketedJoin, q45Sql, Query.Staged),
    Query("q47_salted_join", q47SaltedJoin, q47Sql),
    Query("q48_cube", q48Cube, q48Sql),
    Query("q49_sql_exists", q49SqlExists, q49Sql))
}

package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.Query

/** Driver contract — see SURVEY.md §7.
  *
  * Every map and set here is derived from the query modules' `declared`
  * lists (one [[Query]] per query, under `graft.queries`): `queries` maps
  * each name to its build, `oracleSql` to the DuckDB-equivalent SQL for the
  * hash-compare gate, and the two sets follow from each query's kind.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q33 runs the whole freshening engine end-to-end (registry attach →
    * policy predicate → scorer → newest-wins merge) — the most
    * representative single smoke check this library has. */
  def entry(spark: SparkSession): DataFrame =
    queries("q33_freshen_merged")(spark, "/root/testdata/sf0.001")

  /** Every declared query, in module order. */
  val declared: Seq[Query] =
    graft.queries.Relational.declared ++ graft.queries.LlmOps.declared ++
      graft.queries.Freshen.declared ++ graft.queries.Extended.declared ++
      graft.queries.Pipeline.declared ++ graft.queries.Curation.declared ++
      graft.queries.Scale.declared ++ graft.queries.Analytics.declared

  locally {
    val dups = declared.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"query names declared more than once: ${dups.mkString(", ")}")
  }

  /** Name → Spark build of every declared query. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = declared.map(q => q.name -> q.oracleSql).toMap

  /** Queries that run a Structured Streaming replay on every invocation.
    * Their cost is a scale-independent per-batch floor, not a plan cost, so
    * [[Bench]] times them once instead of taking a second pass. Bench and
    * DeterminismSpec cross-check the kinds at runtime with a
    * StreamingQueryListener. */
  val streamingQueries: Set[String] =
    declared.filter(_.kind == Query.Streaming).map(_.name).toSet

  /** Queries that build a store or staged file layout on FIRST touch of an
    * sf dir (every non-batch kind). Bench's pre-stage pass executes exactly
    * this set at the target SF so the one-off staging cost never lands
    * inside a timed pass. */
  val stagedQueries: Set[String] =
    declared.filter(_.kind != Query.Batch).map(_.name).toSet
}

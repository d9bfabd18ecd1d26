package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, its Spark build, the DuckDB-equivalent
  * SQL the hash-compare gate runs, and the kind that decides how
  * [[graft.Bench]] stages and times it. Each query module lists its queries
  * once in `declared`; [[graft.SparkEntry]] derives every map and set from
  * those lists. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    kind: Query.Kind = Query.Batch)

object Query {
  sealed trait Kind

  /** Plans over the input tables; starts no stream and stages nothing. */
  case object Batch extends Kind

  /** Builds a store or staged file layout on first touch of an sf dir
    * (TxStore commit sequences, the q45 bucketed-table write, the q157
    * incremental MV); later runs reuse it. */
  case object Staged extends Kind

  /** Runs a Structured Streaming replay to completion on every invocation
    * (one-day-per-trigger staged files, the determinism device described in
    * BASELINE.md); also staged on first touch. */
  case object Streaming extends Kind
}

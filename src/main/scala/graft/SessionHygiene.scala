package graft
import org.apache.spark.sql.SparkSession

/** Shared between [[Bench]] and [[Verify]]: releases every piece of
  * per-query persisted state between suite queries so a full-suite run's
  * storage footprint stays bounded (round-10 forensics: leaked
  * localCheckpoint blocks starved execution until the suite tail measured
  * 2–10× slow — q126 3.2 s isolated vs 51.9 s in-suite). */
object SessionHygiene {

  /** Drops the CacheManager's entries (`DataFrame.persist`) AND every
    * persistent RDD — `clearCache()` alone misses localCheckpoint blocks,
    * whose lineage is truncated and therefore unrecoverable once dropped.
    *
    * INVARIANT (load-bearing): no operator may hold a live persisted /
    * localCheckpointed RDD ACROSS queries. All cross-query state in this
    * repo is parquet paths or memory-sink rows, never a live RDD — a
    * future operator that caches a frame across queries would fail
    * unrecoverably here (truncated lineage cannot recompute). Keep it
    * that way; this helper is the single place that assumption lives. */
  def releaseQueryState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}

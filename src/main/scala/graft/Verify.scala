package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    // Optional name-regex filter for single-query iteration (dev only; the
    // driver never sets it, so the recorded dump always covers the suite).
    val queries = sys.env.get("SPARK_GRAFT_ONLY")
      .map(re => SparkEntry.queries.filter(_._1.matches(re)))
      .getOrElse(SparkEntry.queries)
    // Failures are RECORDED, not just logged: a query that errors gets an
    // entry in errors.json, so a break shrinks the artifact loudly instead
    // of silently (round 7 lost 25 queries to a testdata-dtype drift that
    // only stderr saw).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      // operators persist self-joined intermediates for their own stages;
      // release them (cache entries AND localCheckpoint blocks) between
      // queries so the run's footprint stays bounded — see SessionHygiene
      SessionHygiene.releaseQueryState(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size}/${queries.size} queries FAILED " +
        s"(recorded in $outDir/errors.json): ${errors.keys.mkString(", ")}")
    }
    spark.stop()
  }
}

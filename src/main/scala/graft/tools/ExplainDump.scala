package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for a set of SparkEntry queries
  * to one file each — the plan evidence the optimization rounds commit
  * under `plans/rNN/<query>_{before,after}.txt`.
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix>
  * with SPARK_GRAFT_ONLY='<name-regex>' selecting the queries (required —
  * dumping all ~320 plans at once is never what a round needs) and
  * SPARK_GRAFT_CPUS sizing the session exactly like Bench, so the dumped
  * plan (shuffle partition counts, AQE nodes) matches what the bench runs.
  *
  * The dump is the INITIAL plan (`AdaptiveSparkPlan isFinalPlan=false`):
  * Exchange placement, join strategy, PushedFilters/ReadSchema are all
  * decided there; AQE only coalesces/rewrites at runtime. Queries whose
  * plan depends on staged state (TxStore, streaming replays) stage on
  * first touch exactly as in Bench/Verify. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args
    val spark = graft.GraftSession(graft.GraftSession.envCpus)
    Files.createDirectories(Paths.get(outDir))
    val re = sys.env.getOrElse("SPARK_GRAFT_ONLY",
      sys.error("set SPARK_GRAFT_ONLY to a query-name regex"))
    val queries = graft.SparkEntry.queries.filter(_._1.matches(re))
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[explain] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
      graft.SessionHygiene.releaseQueryState(spark)
    }
    spark.stop()
  }
}

package graft
import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration shared by [[Bench]], [[Verify]],
  * the dev tools, the CLI and the test suite: `cpus` cores, one shuffle
  * partition per core, UTC, AQE with skew-join splitting, no UI, WARN logs. */
object GraftSession {
  def apply(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core count for Bench, Verify and ExplainDump: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}

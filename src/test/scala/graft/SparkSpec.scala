package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole suite (per-suite sessions
  * would dominate test wall time), built like every other session. */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4)
}

package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** Partition-count independence — the SCALE.md "numeric determinism"
  * claim made executable: hash-compared queries must produce IDENTICAL
  * bytes whether the plan runs over 2 partitions or 9 (stand-ins for 32
  * locally vs 20k on a cluster). The sweep enumerates the WHOLE declared
  * surface straight from `SparkEntry.declared`, so a new query is pinned
  * the moment it is registered — no hand-maintained list to drift. Every
  * determinism mechanism rides through here: decimal-exact money,
  * scaled-int cosine, quantized TF-IDF, md5-derived sketches, epoch-µs
  * windows, closed-form ANN index internals, doubled-rank tie algebra,
  * and the staged TxStore / streaming replay paths.
  *
  * The same two runs check each query's declared kind against the streams
  * it actually starts ([[Bench.streamStartCounter]]): a Batch query
  * starts none, a Streaming query starts at least one on every run, and a
  * Staged query may start one only on first touch of the dir. This sees a
  * `readStream` however deep in a helper it sits.
  */
class DeterminismSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val streamStarts = Bench.streamStartCounter(spark)

  /** Canonical rows of one run, and the number of streams it started. */
  private def rows(q: String, parts: Int): (Seq[String], Int) = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    val before = streamStarts.get()
    try {
      val df: DataFrame = SparkEntry.queries(q)(spark, sf)
      // canonical form: sorted column names, row values stringified, sorted
      val cols = df.columns.sorted.toIndexedSeq
      val out = df.selectExpr(cols.map(c => s"`$c`"): _*)
        .collect().map(_.mkString("")).sorted.toSeq
      (out, streamStarts.get() - before)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  for (d <- SparkEntry.declared.sortBy(_.name); q = d.name) {
    test(s"$q: identical bytes at 2 and 9 shuffle partitions") {
      val (r2, s2) = rows(q, 2)
      val (r9, s9) = rows(q, 9)
      assert(r2 == r9, s"$q result depends on partitioning")
      d.kind match {
        case Query.Batch =>
          assert(s2 == 0 && s9 == 0, s"$q is declared Batch but started $s2 + $s9 streams")
        case Query.Streaming =>
          assert(s2 >= 1 && s9 >= 1, s"$q is declared Streaming but started $s2, $s9 streams")
        case Query.Staged =>
          assert(s2 <= 1 && s9 == 0, s"$q is declared Staged but started $s2, $s9 streams")
      }
    }
  }
}

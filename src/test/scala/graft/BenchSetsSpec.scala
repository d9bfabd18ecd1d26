package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Guards [[Bench]]'s run budget: the wall estimated from the committed
  * prior artifact must fit the driver's window. The streaming and staged
  * sets the estimate reads are derived from each query's declared kind;
  * DeterminismSpec checks those kinds at runtime. */
class BenchSetsSpec extends AnyFunSuite {

  test("bench wall estimated from the prior committed artifact fits the budget") {
    // Round-13 pass structure: pre-stage + (batch: 1 pass, +1 more if
    // pass 1 > Bench.secondPassBarSec; streaming: 1 pass). Estimated from
    // BENCH_PRIOR.json's per-query metrics: a sub-bar query costs its
    // metric + ~0.4 s cold codegen; a slower one ~2x metric + 0.5 s; a
    // streaming replay its single-sample floor. The quiet target is
    // <= 1800 s (the driver host runs ~1.85x quiet under ambient load
    // against a 3600 s kill — round-12 forensics); assert with margin
    // below it so a widened suite trips here before it trips the driver.
    val priorPath = "BENCH_PRIOR.json"
    assume(Files.exists(Paths.get(priorPath)), "no prior artifact committed")
    val prior = Bench.priorMetrics(priorPath)
    assert(prior.nonEmpty, "BENCH_PRIOR.json has no parseable queries object")
    val txt = new String(Files.readAllBytes(Paths.get(priorPath)), "UTF-8")
    val prestage = """"prestage_sec":([0-9.eE+\-]+)""".r
      .findFirstMatchIn(txt).map(_.group(1).toDouble).getOrElse(200.0)
    // iterate the LIVE registry, not the prior's keys: a query added since
    // the prior bench is exactly the widening this tripwire exists to
    // catch, so it must cost something — a conservative default (its true
    // cost is unknown until the next committed run), heavier for streaming
    // replays than batch plans
    val est = SparkEntry.queries.keysIterator.map { name =>
      prior.get(name) match {
        case Some(m) =>
          if (SparkEntry.streamingQueries(name)) m
          else if (m < Bench.secondPassBarSec) m + 0.4
          else 2 * m + 0.5
        case None => if (SparkEntry.streamingQueries(name)) 20.0 else 6.0
      }
    }.sum + prestage + 30.0 // + session startup
    assert(est <= 1800.0,
      f"estimated quiet bench wall $est%.0f s exceeds the 1800 s budget — " +
        "trim passes or diet the heaviest queries before the driver run")
  }
}

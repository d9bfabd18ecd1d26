package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionHygiene
import graft.engine.FreshReader
import graft.model.{ColumnName, DataRequest, EntityView}
import graft.policy.ShelfLife
import graft.queries.Freshen
import graft.registry.FreshnessManager
import graft.score.EventValueIncrement
import graft.sources.{Tables, TxStore}

/** One workload run in one JVM. Arguments (all required):
  * `--workload --seed --seconds --trace --data --work --out`.
  *
  * The run sets up once, runs the workload's untimed warm-up, then its
  * closed loop with one client until `--seconds` have passed. The set-up
  * time is measured from the JVM's start to the start of the timed window,
  * so it counts JVM and Spark start, store init and the warm-up. Answers
  * are checked outside the timed calls: point reads and query results are
  * written out for the DuckDB checks in `run.py`, write-back rounds are
  * checked here through TxStore time travel. The result (timings,
  * failures, and with
  * `--trace 1` the spans, jobs, stages and micro-batch progress) goes to
  * `--out` as JSON. */
object Main {
  val PolicyCol = ColumnName("events:value")
  val CopyCol = ColumnName("copy:value")
  val BulkKeys = 100

  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val trace: Trace, val data: String, val work: Path, val cores: Int) {
    val rng = new Random(seed)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    var spark: SparkSession = _
    val jobs = new JobListener
    val progress = new ProgressListener

    def session(): SparkSession = {
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      if (trace.on) {
        spark.sparkContext.addSparkListener(jobs)
        spark.streams.addListener(progress)
      }
      spark
    }

    /** Time one operation; a throw or a failed check counts as a failure. */
    def op(kind: String, attrs: Map[String, Any] = Map.empty)(body: => Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok = try trace(kind, "op")(body) catch {
        case e: Throwable =>
          failures += Map("op" -> kind, "index" -> ops.size, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
          false
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (!ok && !failures.lastOption.exists(_("index") == ops.size))
        failures += Map("op" -> kind, "index" -> ops.size, "error" -> "wrong answer")
      ops += attrs ++ Map("kind" -> kind, "ms" -> ms, "ok" -> ok)
    }

    def path(parts: String*): String = parts.foldLeft(work)(_.resolve(_)).toString
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = Runtime.getRuntime.availableProcessors
    val trace = new Trace(a("trace") == "1")
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble, trace,
      a("data"), Paths.get(a("work")), cores)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = a("workload") match {
      case "point-read" => new PointRead(run)
      case "freshen-writeback" => new FreshenWriteback(run)
      case "llm-batch" => new QueryPass(run, QueryPass.LlmBatch)
      case "stream-replay" => new QueryPass(run, QueryPass.StreamReplay)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    trace("setup", "setup")(w.setup())
    val setupDoneMs = System.currentTimeMillis()
    trace("warmup", "setup")(w.warmup())
    val gc0 = gcMs()
    val timedStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    trace("timed", "run")(w.timed(t0 + (run.seconds * 1e9).toLong))
    val timedS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    w.finish()
    if (trace.on) run.jobs.drain()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> run.workload, "seed" -> run.seed, "cores" -> cores,
      "setup_s" -> (timedStartMs - jvmStart) / 1e3,
      "warmup_s" -> (timedStartMs - setupDoneMs) / 1e3, "timed_s" -> timedS, "gc_s" -> gcS,
      "peak_rss_mb" -> peakRssMb(), "ops" -> run.ops, "failures" -> run.failures,
      "extra" -> run.extra)
    if (trace.on) out("trace") = Map(
      "spans" -> trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "t0" -> s.t0, "t1" -> s.t1, "attrs" -> s.attrs)),
      "jobs" -> run.jobs.jobs.values.map(j => Map("id" -> j.id, "span" -> j.span,
        "t0" -> j.t0, "t1" -> j.t1, "stages" -> j.stageIds, "call_site" -> j.callSite)),
      "stages" -> run.jobs.stages.values.map(s => Map("id" -> s.id, "name" -> s.name,
        "tasks" -> s.tasks, "t0" -> s.t0, "t1" -> s.t1, "run_ms" -> s.runMs,
        "records_read" -> s.recordsRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "peak_mem" -> s.peakMem)),
      "progress" -> run.progress.progress)
    Files.write(Paths.get(a("out")), Json(out).getBytes("UTF-8"))
    run.spark.stop()
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  // -------------------------------------------------------------- helpers

  /** Manager with ShelfLife + EventValueIncrement on `events:value`. */
  def manager(view: DataFrame, shelfMs: Long): FreshnessManager = {
    val m = new FreshnessManager(n => if (n == "events") Some(view.schema) else None)
    m.storePolicy("events", PolicyCol, classOf[EventValueIncrement].getName, new ShelfLife(shelfMs))
    m
  }

  /** (entity_id, ts, value) of each row's newest version of `cell`. */
  def newest(rows: Array[Row], cell: String): Seq[Seq[Any]] = rows.toSeq.map { r =>
    val cells = r.getSeq[Row](r.fieldIndex(cell))
    val c = if (cells == null || cells.isEmpty) null else cells.head
    Seq(r.getAs[Any](EntityView.EntityId), if (c == null) null else c.get(0),
      if (c == null) null else c.get(1))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

trait Workload {
  /** Session, inputs and stores ready, first calls made. */
  def setup(): Unit
  /** Untimed calls between the set-up and the timed window. */
  def warmup(): Unit = ()
  /** The closed loop, until `deadlineNs`. */
  def timed(deadlineNs: Long): Unit
  /** Work after the timed window: end-of-run measurements and files. */
  def finish(): Unit = ()
}

/** Point reads on the events entity view, stored once as a TxStore
  * snapshot: a seeded mix of `get` on the policy column, `get` on the
  * no-policy copy column and `bulkGet` of [[Main.BulkKeys]] keys, with keys
  * uniform over the entities. */
final class PointRead(r: Main.Run) extends Workload {
  import Main._
  private var reader: FreshReader = _
  private val users = 1500
  private val WarmRounds = 40
  private var prefix = ""
  private val answers = mutable.ArrayBuffer.empty[String]

  def setup(): Unit = {
    val s = r.session()
    val view = Freshen.entityView(s, r.data)
      .withColumn(CopyCol.flat, col("events_value"))
    val store = r.path("stores", "point-read")
    r.trace("TxStore.init", "sources")(TxStore.init(view, store, EntityView.EntityId, nBuckets = r.cores))
    val stored = r.trace("TxStore.read", "sources")(TxStore.read(s, store))
    reader = r.trace("FreshReader.build", "engine")(
      FreshReader.builder(manager(stored, Freshen.Shelf))
        .withTable("events", stored).withAsOf(Freshen.AsOf).build())
    // the first call of each kind
    reader.get(0L, DataRequest(Seq(PolicyCol))).collect()
    reader.get(0L, DataRequest(Seq(CopyCol))).collect()
    reader.bulkGet((0L until BulkKeys).toSeq, DataRequest(Seq(PolicyCol))).collect()
  }

  private def read(op: String, keys: Seq[Long], cn: ColumnName): Unit = {
    val kind = prefix + op
    var rows: Array[Row] = null
    r.op(kind) {
      val df = r.trace(if (keys.size == 1) "FreshReader.get" else "FreshReader.bulkGet", "engine") {
        if (keys.size == 1) reader.get(keys.head, DataRequest(Seq(cn)))
        else reader.bulkGet(keys, DataRequest(Seq(cn)))
      }
      rows = r.trace("collect", "exec")(df.collect())
      if (r.trace.on) {
        val phases = df.queryExecution.tracker.phases
        r.trace.annotate("collect", phases.map { case (k, v) => s"catalyst.$k" -> v.durationMs })
      }
      rows.length == keys.size
    }
    answers += Json(Map("i" -> (r.ops.size - 1), "kind" -> kind, "keys" -> keys,
      "rows" -> (if (rows == null) Nil else newest(rows, cn.flat))))
  }

  /** One call of each kind in a seeded order, so that every run makes the
    * three kinds in equal numbers. */
  private def round(): Unit = r.rng.shuffle(List(0, 1, 2)).foreach {
    case 0 => read("get", Seq(r.rng.nextInt(users).toLong), PolicyCol)
    case 1 => read("get_nopolicy", Seq(r.rng.nextInt(users).toLong), CopyCol)
    case _ =>
      val keys = r.rng.shuffle((0 until users).toList).take(BulkKeys).map(_.toLong)
      read("bulk_get", keys, PolicyCol)
  }

  /** Per-call latency keeps falling over the first hundred or so calls of a
    * JVM while query compilation warms up; these rounds are checked but
    * not timed, so the timed window sees a warm reader. */
  override def warmup(): Unit = {
    prefix = "warmup_"
    (0 until WarmRounds).foreach(_ => round())
    prefix = ""
  }

  def timed(deadlineNs: Long): Unit = while (System.nanoTime() < deadlineNs) round()

  override def finish(): Unit = {
    val f = r.path("answers.jsonl")
    Files.write(Paths.get(f), answers.mkString("", "\n", "\n").getBytes("UTF-8"))
    r.extra("answers") = f
    r.extra("as_of_ms") = Freshen.AsOf
    r.extra("shelf_ms") = Freshen.Shelf
  }
}

/** Budgeted write-back rounds over the lineitem entity table (orders as
  * entities, ship dates as versions, extended prices as values) stored in
  * a TxStore. Each round advances `asOf` by [[StepMs]], runs
  * `writeBackTx` with a [[Budget]]-row budget, then times `bulkGet`s on
  * the committed snapshot. Every [[RetainEvery]] rounds `expire` keeps the
  * last two snapshots and `vacuum` removes orphans. */
final class FreshenWriteback(r: Main.Run) extends Workload {
  import Main._
  val Budget = 5000L
  val ShelfMs: Long = 365L * 86400000L
  val AsOf0 = 1009843200000L // 2002-01-01T00:00:00Z
  val StepMs: Long = 7L * 86400000L
  val RetainEvery = 3
  val WarmRounds = 2
  val MinRounds = 3
  val RawReads = 2
  private var store: String = _
  private var round = 0
  private var keys: Array[Long] = _

  private def tall(s: SparkSession): DataFrame =
    Tables.load(s, r.data, "lineitem").select(col("l_orderkey"),
      expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 1000").as("ts_ms"), col("l_extendedprice"))

  def setup(): Unit = {
    val s = r.session()
    val view = EntityView.cellsFromTall(tall(s), "l_orderkey", "ts_ms", "l_extendedprice", "events_value")
    store = r.path("stores", "writeback")
    r.trace("TxStore.init", "sources")(TxStore.init(view, store, EntityView.EntityId, nBuckets = 2 * r.cores))
    val stored = r.trace("TxStore.read", "sources")(TxStore.read(s, store))
    keys = stored.select(EntityView.EntityId).orderBy(EntityView.EntityId)
      .collect().map(_.getLong(0))
    reader(stored, AsOf0).bulkGet(keys.take(BulkKeys).toSeq, DataRequest(Seq(PolicyCol))).collect()
  }

  private def reader(view: DataFrame, asOf: Long): FreshReader =
    r.trace("FreshReader.build", "engine")(FreshReader.builder(manager(view, ShelfMs))
      .withTable("events", view).withAsOf(asOf).withBudgetRows(Budget).build())

  /** Rounds checked but not timed: the first rounds of a JVM compile. */
  override def warmup(): Unit = (0 until WarmRounds).foreach(_ => cycle("warmup_"))

  def timed(deadlineNs: Long): Unit = {
    val first = round
    while (System.nanoTime() < deadlineNs || round - first < MinRounds) cycle("")
  }

  /** One round: the write-back, its check, [[RawReads]] read-after-write
    * reads and, on the retention cadence, expire and vacuum. */
  private def cycle(prefix: String): Unit = {
    val s = r.spark
    val asOf = AsOf0 + round * StepMs
    val before = TxStore.currentVersion(store)
    val dirsBefore = dataDirs()
    var after = before
    r.op(prefix + "writeback", Map("round" -> round)) {
      val view = r.trace("TxStore.read", "sources")(TxStore.read(s, store))
      after = r.trace("FreshReader.writeBackTx", "engine")(
        reader(view, asOf).writeBackTx(DataRequest(Seq(PolicyCol)), store))
      after == before + 1
    }
    if (after == before + 1)
      r.trace("check", "check")(checkRound(before, after, asOf, (dataDirs() -- dirsBefore).toSeq))
    (0 until RawReads).foreach { _ =>
      val sample = r.rng.shuffle(keys.indices.toList).take(BulkKeys).map(keys(_))
      var rows: Array[Row] = null
      r.op(prefix + "read_after_write", Map("round" -> round)) {
        val view = r.trace("TxStore.read", "sources")(TxStore.read(s, store))
        val df = r.trace("FreshReader.bulkGet", "engine")(
          reader(view, asOf).bulkGet(sample, DataRequest(Seq(PolicyCol))))
        rows = r.trace("collect", "exec")(df.collect())
        rows.length == BulkKeys
      }
      if (rows != null) r.trace("check", "check")(checkRead(after, asOf, sample, rows))
    }
    round += 1
    if (round % RetainEvery == 0) r.trace("maintenance", "sources") {
      r.trace("TxStore.expire", "sources")(TxStore.expire(store, TxStore.currentVersion(store) - 1))
      r.trace("TxStore.vacuum", "sources")(TxStore.vacuum(store))
    }
  }

  private def dataDirs(): Set[String] = {
    val d = Paths.get(store, "data")
    val s = Files.list(d)
    try s.toArray.map(_.toString).toSet finally s.close()
  }

  private def stale(c: org.apache.spark.sql.Column, asOf: Long) =
    !coalesce(size(c) > 0 && (lit(asOf) - c.getItem(0).getField("ts")) <= lit(ShelfMs), lit(false))

  /** The round's commit against the previous snapshot, through time
    * travel: exactly min(stale, budget) of the smallest stale ids gain a
    * newest version (asOf, newest value + 1); every other row is unchanged. */
  private def checkRound(before: Int, after: Int, asOf: Long, written: Seq[String]): Unit = {
    val s = r.spark
    val prev = TxStore.read(s, store, Some(before))
    val cur = TxStore.read(s, store, Some(after))
    val staleIds = prev.filter(stale(col("events_value"), asOf)).select(EntityView.EntityId)
    val nStale = staleIds.count()
    val chosen = staleIds.orderBy(EntityView.EntityId).limit(Budget.toInt).withColumn("__pick", lit(true))
    val expected = prev.join(chosen, Seq(EntityView.EntityId), "left")
      .withColumn("events_value", when(col("__pick"),
        concat(array(struct(lit(asOf).as("ts"),
          (col("events_value").getItem(0).getField("value") + 1.0d).as("value"))),
          col("events_value"))).otherwise(col("events_value")))
      .drop("__pick")
    val bad = digest(expected) != digest(cur)
    val scored = math.min(nStale, Budget)
    if (bad) {
      r.failures += Map("op" -> r.ops.last("kind"), "index" -> (r.ops.size - 1),
        "error" -> s"round $round: the commit differs from the expected snapshot")
      r.ops(r.ops.size - 1) = r.ops.last ++ Map("ok" -> false)
    }
    r.ops(r.ops.size - 1) = r.ops.last ++ Map("stale" -> nStale, "scored" -> scored)
    if (r.trace.on) {
      val bytes = written.map(d => dirBytes(Paths.get(d))).sum
      val rewritten = s.read.parquet(written: _*).count()
      val live = cur.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
      r.ops(r.ops.size - 1) = r.ops.last ++ Map("bytes_written" -> bytes,
        "rows_rewritten" -> rewritten, "live_bytes" -> live)
    }
  }

  /** Order-independent digest of a snapshot: row count and the sum of
    * per-row 64-bit hashes (as a decimal, so the sum cannot overflow). */
  private def digest(df: DataFrame): Row =
    df.select(count(lit(1)), sum(xxhash64(col(EntityView.EntityId), col("events_value"))
      .cast("decimal(38,0)"))).first()

  /** The read-after-write answer: the committed snapshot's rows for the
    * sampled keys, freshened at `asOf` (no budget limit is hit: 100 keys). */
  private def checkRead(version: Int, asOf: Long, sample: Seq[Long], rows: Array[Row]): Unit = {
    val snap = TxStore.read(r.spark, store, Some(version))
      .filter(col(EntityView.EntityId).isin(sample: _*))
    val c = col("events_value")
    val want = snap.select(col(EntityView.EntityId),
      when(stale(c, asOf), lit(asOf)).otherwise(c.getItem(0).getField("ts")).as("ts"),
      when(stale(c, asOf), c.getItem(0).getField("value") + 1.0d)
        .otherwise(c.getItem(0).getField("value")).as("value"))
      .collect().map(x => Seq(x.get(0), x.get(1), x.get(2))).toSet
    val got = newest(rows, "events_value").toSet
    if (want != got) {
      r.failures += Map("op" -> r.ops.last("kind"), "index" -> (r.ops.size - 1),
        "error" -> s"round $round: ${(want diff got).size} expected rows missing")
      r.ops(r.ops.size - 1) = r.ops.last ++ Map("ok" -> false)
    }
  }

  override def finish(): Unit = {
    val p = Paths.get(store)
    val live = TxStore.read(r.spark, store).inputFiles
      .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    r.extra("store_bytes") = dirBytes(p)
    r.extra("live_bytes") = live
    r.extra("files_per_snapshot") = TxStore.read(r.spark, store).inputFiles.length
    r.extra("entities") = keys.length
    r.extra("budget") = Budget
  }
}

/** Warm passes over declared queries, each materialised as graft.Bench
  * does (`queryExecution.toRdd`), with per-query state released between
  * queries, in a seeded order. */
final class QueryPass(r: Main.Run, queries: Seq[String]) extends Workload {
  private val fns = graft.SparkEntry.queries
  private val counts = mutable.LinkedHashMap.empty[String, Long]

  def setup(): Unit = {
    val s = r.session()
    Seq("documents", "embeddings", "events").foreach(t => Tables.load(s, r.data, t).schema)
  }

  private def runQuery(q: String, write: Option[String]): Long = {
    val s = r.spark
    val df = r.trace(q, "queries")(fns(q)(s, r.data))
    val n = r.trace("action", "exec") {
      write match {
        case Some(p) => df.write.mode("overwrite").parquet(p); s.read.parquet(p).count()
        case None => df.queryExecution.toRdd.count()
      }
    }
    SessionHygiene.releaseQueryState(s)
    n
  }

  /** One pass over the queries; the warm-up pass keeps each result for
    * the oracle check and records its row count, which every later pass
    * must reproduce. */
  private def pass(warm: Boolean): Unit = {
    val order = if (warm) queries else r.rng.shuffle(queries)
    val perQuery = mutable.LinkedHashMap.empty[String, Double]
    r.op(if (warm) "warmup_pass" else "pass") {
      order.forall { q =>
        val t0 = System.nanoTime()
        val n = runQuery(q, if (warm) Some(r.path("results", q)) else None)
        perQuery(q) = (System.nanoTime() - t0) / 1e9
        if (warm) counts(q) = n
        n == counts(q)
      }
    }
    r.ops(r.ops.size - 1) = r.ops.last ++ Map("queries" -> perQuery)
  }

  override def warmup(): Unit = pass(warm = true)

  def timed(deadlineNs: Long): Unit = {
    pass(warm = false)
    while (System.nanoTime() < deadlineNs) pass(warm = false)
  }

  override def finish(): Unit = {
    r.extra("results") = r.path("results")
    r.extra("oracle") = queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    r.extra("rows") = counts
  }
}

object QueryPass {
  val LlmBatch = Seq("q19_ngram_jaccard", "q118_incremental_dedup", "q287_weighted_jaccard",
    "q67_ivfpq", "q75_semantic_dedup", "q61_curation_pipeline", "q103_int8_ann")
  val StreamReplay = Seq("q34_streaming_freshen", "q304_timer_sessions", "q285_ttl_dedup")
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

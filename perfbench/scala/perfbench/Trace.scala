package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans taken by the benchmark around its own calls into the program.
  * With tracing off, [[apply]] only runs the body. With tracing on, each
  * span records name, layer, start, end and parent (epoch µs), and tags the
  * Spark jobs its body starts through the `perfbench.span` local property,
  * so the job listener can hang those jobs under it. Everything stays in
  * memory until [[Json]] writes it out at the end of the run. */
final class Trace(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      t0: Long, t1: Long, attrs: Map[String, Any])

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1

  /** Run `body` as a span. */
  def apply[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      tag(id)
      val t0 = nowUs
      var done = false
      try { val out = body; done = true; out }
      finally {
        val t1 = nowUs
        stack = stack.tail
        tag(stack.head)
        spans += Span(id, parent, name, layer, t0, t1, if (done) Map.empty else Map("error" -> true))
      }
    }

  private def tag(id: Int): Unit =
    SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped)
      .foreach(_.setLocalProperty("perfbench.span", id.toString))

  /** Attach extra attributes to the innermost finished span named `name`. */
  def annotate(name: String, attrs: Map[String, Any]): Unit =
    if (on) spans.lastIndexWhere(_.name == name) match {
      case -1 =>
      case i => spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }
}

/** Spark jobs, stages and task totals, from Spark's public listener API.
  * Each job keeps the span id that was active on the thread that started
  * it (local properties are inherited by the threads Spark SQL and
  * Structured Streaming start, so broadcast and micro-batch jobs land under
  * the span that caused them). */
final class JobListener extends SparkListener {
  final class StageAgg(val id: Int) {
    var name = ""; var tasks = 0; var t0 = 0L; var t1 = 0L
    var runMs = 0L; var recordsRead = 0L
    var shuffleWrite = 0L; var spill = 0L; var peakMem = 0L
  }
  final case class Job(id: Int, span: Int, t0: Long, var t1: Long, stageIds: Seq[Int], callSite: String)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  @volatile private var events = 0L
  def eventCount: Long = events

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toInt).getOrElse(0)
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(e.jobId, span, e.time * 1000L, e.time * 1000L, e.stageIds, callSite)
    e.stageInfos.foreach(si => stages.getOrElseUpdate(si.stageId, new StageAgg(si.stageId)).name = si.name)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(e.jobId).foreach(_.t1 = e.time * 1000L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val si = e.stageInfo
    val s = stages.getOrElseUpdate(si.stageId, new StageAgg(si.stageId))
    s.name = si.name
    s.t0 = si.submissionTime.getOrElse(0L) * 1000L
    s.t1 = si.completionTime.getOrElse(0L) * 1000L
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.recordsRead += m.inputMetrics.recordsRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  /** Wait until the asynchronous listener bus has stopped delivering. */
  def drain(): Unit = {
    var last = -1L
    while (last != eventCount) { last = eventCount; Thread.sleep(300) }
  }
}

/** Micro-batch progress, from Spark's public streaming listener API. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    val durations = d.keySet().toArray.map(k => k.toString -> d.get(k).longValue()).toMap
    progress += Map(
      "run_id" -> p.runId.toString,
      "batch" -> p.batchId,
      "start_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
      "duration_ms" -> durations,
      "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed call the benchmark makes into a layer. `parent` is the
  * span that caused it (0 = none) and `op` the query/trigger it belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
    phase: String, start: Long, end: Long)

/** Spans at the layer boundaries the benchmark calls, kept in memory.
  *
  * With tracing on, each span also tags the Spark jobs its thread launches
  * (local property [[SpanKey]]), and [[JobListener]] attributes every job,
  * stage and task to the span that caused it. With tracing off only the
  * wall clock of each span is taken and no listener is registered.
  */
final class Tracer(val enabled: Boolean) {
  val SpanKey = "perfbench.span"
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  /** the phase a span belongs to: setup, measure or verify */
  @volatile var phase = "setup"
  @volatile var spark: SparkSession = _

  def nextId(): Long = ids.incrementAndGet()

  /** Time `f` as a span named `name` in `layer`, child of the enclosing span. */
  def span[T](name: String, layer: String, op: Long = -1L)(f: => T): T = {
    val outer = stack.get()
    val parent = outer.headOption.map(_.id).getOrElse(0L)
    val opId = if (op >= 0) op else outer.headOption.map(_.op).getOrElse(0L)
    val id = nextId()
    val sc = if (enabled && spark != null) Some(spark.sparkContext) else None
    val prevKey = sc.map(_.getLocalProperty(SpanKey))
    sc.foreach(_.setLocalProperty(SpanKey, id.toString))
    stack.set(Span(id, parent, opId, name, layer, phase, 0, 0) :: outer)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      sc.foreach(_.setLocalProperty(SpanKey, prevKey.orNull))
      add(Span(id, parent, opId, name, layer, phase, t0, t1))
    }
  }

  def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Task-level totals of one stage. */
final class StageAgg(val stageId: Int, val jobId: Int) {
  var tasks = 0; var failedTasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
  var peakMem = 0L
  var submitted = 0L; var completed = 0L
}

final class JobRec(val jobId: Int, val span: Long, val streamRun: String,
    val batchId: Long, val start: Long) {
  var end = 0L
  var ok = true
  val stages = mutable.ArrayBuffer.empty[Int]
}

/** SparkListener that attributes jobs to spans (tracing on only). Times are
  * System.nanoTime at event delivery, converted from the events' epoch
  * millis so they line up with the spans. */
final class JobListener(epochToNano: Long => Long) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val r = new JobRec(e.jobId, prop("perfbench.span").map(_.toLong).getOrElse(0L),
      prop("sql.streaming.queryId").orElse(prop("spark.jobGroup.id")).getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), epochToNano(e.time))
    e.stageIds.foreach { s => r.stages += s; stageJob(s) = e.jobId }
    jobs(e.jobId) = r
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { r =>
      r.end = epochToNano(e.time)
      r.ok = e.jobResult == JobSucceeded
    }
  }
  private def stage(id: Int): StageAgg =
    stages.getOrElseUpdate(id, new StageAgg(id, stageJob.getOrElse(id, -1)))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submitted =
      e.stageInfo.submissionTime.map(epochToNano).getOrElse(System.nanoTime())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).completed =
      e.stageInfo.completionTime.map(epochToNano).getOrElse(System.nanoTime())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }
}

/** Progress of every streaming trigger, delivered by the engine (tracing on
  * only; the untraced run reads the same records from `recentProgress`). */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

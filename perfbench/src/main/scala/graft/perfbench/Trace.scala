package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** One call the benchmark makes: which layer it belongs to, when it ran and
  * which span enclosed it. Jobs are tied to spans through the
  * [[Trace.SpanProperty]] local property, which Spark copies onto every
  * job the calling thread (or a pool thread it spawned) submits.
  */
final case class Span(id: Int, layer: String, name: String, parent: Int,
    run: String, start: Long, var end: Long = 0L)

/** Per-stage totals folded from task-end events. */
final class StageRec(val jobKey: Long) {
  var submitted = Long.MaxValue
  var completed = 0L
  var tasks = 0L
  var failedTasks = 0L
  var emptyTasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Launch/finish pairs of every task, for the stage's idle time. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

final class JobRec(val key: Long, val span: Int, val description: String,
    val start: Long) {
  var end = 0L
}

/** In-memory trace of one run: the benchmark's spans plus the
  * job/stage/task events the [[TraceListener]] folds in. Nothing is
  * written until the run ends.
  */
object Trace {
  val SpanProperty = "perfbench.span"

  @volatile var enabled = false
  private var runId = ""
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Keyed by [[key]]: ids restart with every SparkContext. */
  val jobs = mutable.LinkedHashMap.empty[Long, JobRec]
  val stages = mutable.HashMap.empty[Long, StageRec]
  private var contexts = 0

  def newContext(): Int = synchronized { contexts += 1; contexts }
  def key(context: Int, id: Int): Long = (context.toLong << 32) | id

  def start(run: String): Unit = synchronized { runId = run; enabled = true }

  /** Innermost open span; the benchmark calls from one thread. */
  private var current = 0

  /** Opens a span under the innermost open one. Untraced runs get null. */
  def begin(layer: String, name: String): Span = synchronized {
    if (!enabled) return null
    nextId += 1
    val sp = Span(nextId, layer, name, current, runId, System.currentTimeMillis())
    spans += sp
    current = sp.id
    sp
  }

  def end(sp: Span): Unit = synchronized {
    if (sp != null) {
      sp.end = System.currentTimeMillis()
      current = sp.parent
    }
  }

  /** Tags every job `sc` runs from this thread (and pool threads it
    * spawns from now on) with the innermost open span.
    */
  def tag(sc: SparkContext): Unit =
    sc.setLocalProperty(SpanProperty, synchronized {
      if (current == 0) null else current.toString
    })

  /** Runs `body` inside a span of `layer`. Untraced runs pay one
    * volatile read and nothing else.
    */
  def span[T](sc: SparkContext, layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val sp = begin(layer, name)
    tag(sc)
    try body
    finally { end(sp); tag(sc) }
  }

  private[perfbench] def jobStarted(ctx: Int, e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(0)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val jk = key(ctx, e.jobId)
    jobs(jk) = new JobRec(jk, span, desc, e.time)
    e.stageIds.foreach { id =>
      if (!stages.contains(key(ctx, id))) stages(key(ctx, id)) = new StageRec(jk)
    }
  }

  private[perfbench] def jobEnded(ctx: Int, e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(key(ctx, e.jobId)).foreach(_.end = e.time)
  }

  private[perfbench] def stageCompleted(ctx: Int, info: StageInfo): Unit = synchronized {
    stages.get(key(ctx, info.stageId)).foreach { s =>
      info.submissionTime.foreach(t => s.submitted = math.min(s.submitted, t))
      info.completionTime.foreach(t => s.completed = math.max(s.completed, t))
    }
  }

  private[perfbench] def taskEnded(ctx: Int, e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(key(ctx, e.stageId)).foreach { s =>
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        val in = m.inputMetrics.bytesRead
        val shIn = m.shuffleReadMetrics.totalBytesRead
        s.inputBytes += in
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (in == 0 && shIn == 0 && m.inputMetrics.recordsRead == 0 &&
            m.shuffleReadMetrics.recordsRead == 0) s.emptyTasks += 1
      }
    }
  }
}

/** Registered through `spark.extraListeners` for traced runs, so it sees
  * the session's first job too. Every instance forwards to [[Trace]].
  */
class TraceListener extends SparkListener {
  private val ctx = Trace.newContext()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.enabled) Trace.jobStarted(ctx, e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (Trace.enabled) Trace.jobEnded(ctx, e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Trace.enabled) Trace.stageCompleted(ctx, e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Trace.enabled) Trace.taskEnded(ctx, e)
}

package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One traced call. Times are epoch milliseconds, the clock Spark's
  * listener events carry, so spans and jobs share one time axis.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Double, var end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Records one span per public graft call the benchmark makes, in
  * memory, and tags every Spark job launched inside with the span's
  * id through a local property. Spans nest by call order; the
  * benchmark is a single client, so the innermost open span also
  * owns jobs launched on other threads (streaming micro-batches).
  */
final class Tracer(sc: SparkContext, val runId: String) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private var open: List[Int] = Nil
  val spans = mutable.ArrayBuffer[Span]()

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def current: Int = synchronized(open.headOption.getOrElse(-1))

  def span[T](name: String)(body: => T): T = {
    val sp = synchronized {
      val s = Span(spans.length, name, open.headOption.getOrElse(-1), runId, now, Double.NaN)
      spans += s
      open = s.id :: open
      s
    }
    sc.setLocalProperty(Tracer.Key, sp.id.toString)
    try body
    finally {
      sp.end = now
      synchronized { open = open.tail }
      sc.setLocalProperty(Tracer.Key, if (sp.parent < 0) null else sp.parent.toString)
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** The span and every span nested in it. */
  def subtree(id: Int): Set[Int] = {
    val out = mutable.Set(id)
    spans.foreach(s => if (out.contains(s.parent)) out += s.id)
    out.toSet
  }

  def selfSeconds(s: Span): Double =
    Stats.uncovered((s.start, s.end), children(s.id).map(c => (c.start, c.end))) / 1000.0

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj(Seq("run_id" -> Json.str(s.runId), "id" -> s.id.toString,
      "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
      "self_s" -> Json.num(selfSeconds(s))))
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** `body` inside a span when tracing, as is otherwise. */
  def span[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
}

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var blockRows = 0L
  var first = Double.MaxValue
  var last = 0.0
  def seconds: Double = if (tasks == 0) 0.0 else (last - first) / 1000.0
}

final case class JobRec(id: Int, span: Int, start: Double, var end: Double)

/** Attributes Spark jobs and stages to the span that launched them.
  * Stage call-site names are useless for this under AQE, so stages are
  * told apart by their metrics instead (see [[Layers]]). Rows read
  * from an encoded store's `blocks/` table are counted from the SQL
  * "number of output rows" metric of every parquet scan whose
  * location is a `blocks` directory.
  */
final class LayerListener(tracer: Tracer) extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageAgg]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val blockScanRows = mutable.HashSet[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
    val sp = tagged.map(_.toInt).getOrElse(tracer.current)
    jobs(e.jobId) = JobRec(e.jobId, sp, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.first = math.min(a.first, e.taskInfo.launchTime.toDouble)
      a.last = math.max(a.last, e.taskInfo.finishTime.toDouble)
      e.taskInfo.accumulables.foreach { acc =>
        if (blockScanRows.contains(acc.id)) acc.update.foreach {
          case v: Long => a.blockRows += v
          case v: java.lang.Long => a.blockRows += v.longValue
          case _ =>
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(collectScans(s.sparkPlanInfo))
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized(collectScans(u.sparkPlanInfo))
    case _ =>
  }

  private def collectScans(p: SparkPlanInfo): Unit = {
    val loc = p.metadata.getOrElse("Location", "")
    if (p.nodeName.contains("Scan") && LayerListener.BlocksDir.findFirstIn(loc).isDefined)
      p.metrics.filter(_.name == "number of output rows")
        .foreach(m => blockScanRows += m.accumulatorId)
    p.children.foreach(collectScans)
  }

  /** Jobs attributed to any span in `spanIds`. */
  def jobsIn(spanIds: Set[Int]): Seq[JobRec] = synchronized(jobs.values.filter(j => spanIds(j.span)).toSeq)

  /** Stages that ran tasks for the given jobs. */
  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = synchronized {
    val ids = js.map(_.id).toSet
    stageJob.collect { case (s, j) if ids(j) && stages.contains(s) => stages(s) }.toSeq
  }
}

object LayerListener {
  private val BlocksDir = "/blocks([\\],\\s]|$)".r
}

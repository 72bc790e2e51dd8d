package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. Spans are recorded only
  * from the benchmark's own files, around its calls into a module's
  * public functions; Spark jobs and Catalyst planning phases are added
  * as child spans from a `SparkListener` and a `QueryExecutionListener`.
  * Times are epoch milliseconds (the listeners' clock) with sub-ms
  * precision from `System.nanoTime`. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var recording = false

  val listener = new Listener
  val planListener = new PlanListener
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Run one operation of the workload; `traced` decides whether its
    * spans (and the Spark work inside it) are recorded. */
  def op[T](name: String, traced: Boolean)(f: => T): T = {
    recording = traced
    try span(name)(f)
    finally { recording = false; spark.sparkContext.setLocalProperty(SpanProp, null) }
  }

  def span[T](name: String)(f: => T): T = {
    if (!recording) return f
    val parent = stack.headOption
    val s = Span(nextId, parent.map(_.id).getOrElse(0),
      parent.map(_.op).getOrElse(nextId), name, nowMs, Double.NaN)
    nextId += 1
    spans += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      s.end = nowMs
      stack = stack.tail
      spark.sparkContext.setLocalProperty(SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait for every queued listener event, then detach. */
  def finish(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Planning phases become child spans of the deepest recorded span
    * that was open when the phase started (the driver is one thread and
    * ops run one at a time, so time attribution is unambiguous). */
  def owner(tMs: Double): Option[Span] =
    spans.filter(s => s.start <= tMs && tMs <= s.end).maxByOption(_.start)

  /** All spans, the listener's jobs and planning phases included, as
    * JSON lines: name, start, end, parent and op id. */
  def jsonLines: Seq[String] = {
    def line(name: String, id: Int, parent: Int, op: Int, s: Double, e: Double) =
      f"""{"name":"$name","id":$id,"parent":$parent,"op":$op,"start_ms":$s%.3f,"end_ms":$e%.3f}"""
    val byId = spans.map(s => s.id -> s).toMap
    spans.map(s => line(s.name, s.id, s.parent, s.op, s.start, s.end)).toSeq ++
      listener.jobs.values.toSeq.sortBy(_.jobId).flatMap { j =>
        byId.get(j.span).map(p => line("sessions.job", -j.jobId - 1, p.id, p.op, j.start, j.end))
      } ++
      planListener.queries.flatMap { q =>
        owner(q.start).map(p => line("plans.planning", 0, p.id, p.op, q.start, q.end))
      }
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        start: Double, var end: Double) {
    def ms: Double = end - start
  }

  final case class JobRec(jobId: Int, span: Int, start: Double, var end: Double)

  /** Task-level sums for one span. */
  final class TaskAgg {
    var tasks = 0L; var stages = 0L
    var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0; var schedMs = 0.0
    var resultBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val runIntervals = mutable.ArrayBuffer[(Double, Double)]()
  }

  /** Nanoseconds spent inside the tracer's listener callbacks (on the
    * listener-bus thread, off the driver's critical path). */
  val callbackNs = new java.util.concurrent.atomic.AtomicLong

  private def timedCallback(f: => Unit): Unit = {
    val s = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - s)
  }

  final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageSpan = mutable.HashMap[Int, Int]()
    val agg = mutable.HashMap[Int, TaskAgg]()
    private def aggOf(span: Int) = agg.getOrElseUpdate(span, new TaskAgg)

    override def onJobStart(e: SparkListenerJobStart): Unit = timedCallback(synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      sp.foreach { s =>
        jobs(e.jobId) = JobRec(e.jobId, s.toInt, e.time.toDouble, e.time.toDouble)
        e.stageIds.foreach(st => stageSpan(st) = s.toInt)
      }
    })
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCallback(synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    })
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timedCallback(synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(s => aggOf(s).stages += 1)
    })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCallback(synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val a = aggOf(s); val m = e.taskMetrics; val info = e.taskInfo
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.resultBytes += m.resultSize
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          val dur = (info.finishTime - info.launchTime).toDouble
          a.schedMs += math.max(0.0, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime)
          a.runIntervals += ((info.finishTime - m.executorRunTime).toDouble -> info.finishTime.toDouble)
        }
      }
    })
  }

  final case class PlanRec(start: Double, end: Double, planMs: Double,
                           udfNodes: Int, codegenStages: Int)

  final class PlanListener extends QueryExecutionListener {
    val queries = mutable.ArrayBuffer[PlanRec]()

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timedCallback(record(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timedCallback(record(qe))

    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values.toSeq
      if (ph.isEmpty) return
      val plan = finalPlan(qe.executedPlan)
      val nodes = allNodes(plan)
      val udfs = nodes.map(_.expressions.map(_.collect { case u: ScalaUDF => u }.length).sum).sum
      val wsc = nodes.count(_.isInstanceOf[WholeStageCodegenExec])
      synchronized {
        queries += PlanRec(ph.map(_.startTimeMs).min.toDouble, ph.map(_.endTimeMs).max.toDouble,
          ph.map(_.durationMs).sum.toDouble, udfs, wsc)
      }
    }
  }

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Every physical node, looking through adaptive query stages. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(allNodes)
  }
}

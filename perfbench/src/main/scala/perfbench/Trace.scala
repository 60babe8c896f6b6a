package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one operation (a query rep or
  * an ingest cycle) share `op`; `parent` is the enclosing span, or -1.
  */
final case class Span(
    id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's own calls into the program.
  * While a span is open its id is a local property of the calling
  * thread, so Spark carries it onto every job, stage and task the call
  * starts (threads the call creates inherit it too).
  */
final class Tracer(sc: SparkContext) {
  /** On only while a traced unit runs: untraced spans cost nothing. */
  @volatile var enabled = false
  private val done = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val outer = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      open = id :: open
      val (n0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        done += Span(id, name, op, parent, n0, System.nanoTime(), m0,
          System.currentTimeMillis())
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProp, outer)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).toSeq
    Stats.uncovered(s.startNs, s.endNs, kids) / 1e9
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
}

/** A finished task, attributed to the span that started its stage. */
final case class TaskRec(
    span: Int, stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, inputBytes: Long, shuffleWriteBytes: Long,
    fetchWaitMs: Long, spillBytes: Long)

/** Job, stage and task counts and task metrics, by span. */
final class ExecListener extends SparkListener {
  private val jobs = ArrayBuffer[Int]() // span of each job started
  private val stageSpan = scala.collection.mutable.Map[Int, Int]()
  private val stagesRun = ArrayBuffer[Int]() // span of each stage attempt
  private val tasks = ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Tracer.spanOf(e.properties)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = Tracer.spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = span
    stagesRun += span
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(
      stageSpan.getOrElse(e.stageId, -1), e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
  }

  def jobsIn(spans: Set[Int]): Int = synchronized(jobs.count(spans.contains))
  def stagesIn(spans: Set[Int]): Int = synchronized(stagesRun.count(spans.contains))
  def tasksIn(spans: Set[Int]): Seq[TaskRec] = synchronized(tasks.filter(t => spans.contains(t.span)).toSeq)
}

/** Micro-batch progress of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  private val progress = ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress reports received since the previous call. */
  def take(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized {
    val out = progress.map(_.progress).toSeq
    progress.clear()
    out
  }
}

/** Planning time and final-plan shape of every Dataset action. */
final class PlanListener extends QueryExecutionListener {
  private val seen = ArrayBuffer[(Double, PlanShape)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
    val shape = PlanShape.of(qe.executedPlan)
    synchronized(seen += planning -> shape)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** (planning seconds, plan shape) of each action since the previous call. */
  def take(): Seq[(Double, PlanShape)] = synchronized {
    val out = seen.toSeq
    seen.clear()
    out
  }
}

/** Exchange and join counts of a physical plan, read through the
  * adaptive wrappers so the final adaptive plan is what is counted.
  */
final case class PlanShape(exchanges: Int, broadcastJoins: Int, shuffledJoins: Int) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges,
    broadcastJoins + o.broadcastJoins, shuffledJoins + o.shuffledJoins)
}

object PlanShape {
  val Zero: PlanShape = PlanShape(0, 0, 0)

  def of(p: SparkPlan): PlanShape = {
    val self = p match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => PlanShape(1, 0, 0)
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => PlanShape(0, 1, 0)
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec | _: CartesianProductExec =>
        PlanShape(0, 0, 1)
      case _ => Zero
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    kids.map(of).foldLeft(self)(_ + _)
  }
}

/** Aggregates of the tasks that ran inside a set of spans. */
object TaskStats {
  def skew(tasks: Seq[TaskRec]): Double =
    if (tasks.isEmpty) 1.0
    else {
      // the slowest stage is the one with the longest wall time
      val slowest = tasks.groupBy(_.stage).values
        .maxBy(ts => ts.map(_.finishMs).max - ts.map(_.launchMs).min)
      val runs = slowest.map(_.runMs.toDouble)
      val med = Stats.median(runs)
      if (med <= 0) 1.0 else runs.max / med
    }

  def intervals(tasks: Seq[TaskRec]): Seq[(Long, Long)] = tasks.map(t => (t.launchMs, t.finishMs))
}

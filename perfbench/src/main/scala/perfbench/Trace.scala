package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `parent` is the enclosing span's id (-1 for a
  * root); every span of one benchmark run carries the same `runId`. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)

/** In-memory span recorder. With a SparkContext it also tags every job
  * started inside a span with the span's name as job group, which is
  * how [[LayerListener]] attributes stages and tasks to layers. */
final class Tracer(val runId: String, var jobGroups: Option[SparkContext]) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), System.nanoTime(), 0L)
    spans += s
    open = s :: open
    jobGroups.foreach(_.setJobGroup(name, name))
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      jobGroups.foreach { sc =>
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.name, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Duration minus the part of it that child spans cover, summed over
    * every span called `name`. */
  def selfSeconds(name: String): Double = spans.filter(_.name == name).map { s =>
    val children = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    children.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }.sum

  def toJson(origin: Long): String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"$runId",""" +
      f""""start_ms":${(s.startNs - origin) / 1e6}%.3f,"end_ms":${(s.endNs - origin) / 1e6}%.3f}"""
  }.mkString("[", ",", "]")
}

/** Task, stage and job counts per job group (= span name), from the
  * listener bus. Read them only after [[org.apache.spark.PerfbenchBus.drain]]. */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var cpuNs, inBytes, inRecords = 0L
    var shuffleBytes, shuffleRecords, fetchWaitMs, spillBytes, peakExecBytes = 0L
  }
  private val groups = mutable.Map[String, Acc]()
  private val stageGroup = mutable.Map[Int, String]()
  private def acc(g: String) = groups.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(LayerListener.NoGroup)
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, LayerListener.NoGroup)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, LayerListener.NoGroup))
    a.tasks += 1
    if (e.reason != Success) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
      a.peakExecBytes = math.max(a.peakExecBytes, m.peakExecutionMemory)
    }
  }

  def group(g: String): Acc = synchronized(groups.getOrElse(g, new Acc))
  def all: Seq[Acc] = synchronized(groups.values.toSeq)
}

object LayerListener {
  val NoGroup = "(none)"
}

/** Output rows of joins and of final aggregates, summed over every
  * query the session executes while registered. */
final class JoinAggListener extends QueryExecutionListener {
  @volatile var joinRows = 0L
  @volatile var aggRows = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val nodes = Plans.nodes(qe.executedPlan)
      joinRows += nodes.collect { case j: BaseJoinExec => Plans.rows(j) }.sum
      aggRows += nodes.collect {
        case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isDefined =>
          Plans.rows(a)
      }.sum
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** SQL metrics of executed (final adaptive) plans. */
object Plans {
  /** Every operator of the final plan, pre-order, each exchange once:
    * adaptive plans are read at their final form, query stages through
    * to their plan, reused exchanges skipped (their rows count at the
    * original), cached relations not entered (built by an earlier job). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Seq.empty
    case m: InMemoryTableScanExec => Seq(m)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Candidate pairs of a verify-shaped pair generator,
    * `candidates.join(sketches, "id1").join(sketches, "id2").where(verify)`:
    * the rows out of the inner of the two joins. The outer one cannot
    * count them, because the optimizer folds the verification predicate
    * into its join condition. */
  def candidateRows(qe: QueryExecution): Long = {
    val joins = nodes(qe.executedPlan).collect { case j: BaseJoinExec => j }
    joins.headOption.flatMap(top => nodes(top).drop(1).collectFirst { case j: BaseJoinExec => rows(j) })
      .getOrElse(0L)
  }
}

package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CollectMetricsExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric totals; a window's cost is the difference of two
  * snapshots. */
final case class Totals(jobs: Int = 0, shuffleWriteBytes: Long = 0L,
    cpuNs: Long = 0L, runMs: Long = 0L, gcMs: Long = 0L, spillBytes: Long = 0L) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs,
    shuffleWriteBytes - o.shuffleWriteBytes, cpuNs - o.cpuNs,
    runMs - o.runMs, gcMs - o.gcMs, spillBytes - o.spillBytes)
  def +(o: Totals): Totals = Totals(jobs + o.jobs,
    shuffleWriteBytes + o.shuffleWriteBytes, cpuNs + o.cpuNs,
    runMs + o.runMs, gcMs + o.gcMs, spillBytes + o.spillBytes)
}

/** One Spark job: wall interval (driver clock, converted to the
  * tracer's nanosecond clock), description, call site, task totals. */
final class JobRec(val id: Int, val startNs: Long, val description: String,
    val callSite: String) {
  var endNs: Long = -1L
  var totals: Totals = Totals(jobs = 1)
}

/** Listener side of the harness: a SparkListener for job, stage and
  * task metrics, and a QueryExecutionListener that keeps the executed
  * plans of the actions run while plan capture is on. */
final class Probe extends SparkListener with QueryExecutionListener {
  // event times are wall-clock ms; spans use nanoTime — map between them
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + wallToNano

  @volatile private var totals = Totals()
  private val jobsById = mutable.HashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  val jobs = ArrayBuffer.empty[JobRec]

  @volatile var capturePlans = false
  val plans = ArrayBuffer.empty[QueryExecution]

  def snapshot: Totals = synchronized(totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val j = new JobRec(e.jobId, toNs(e.time), desc, site)
    jobsById(e.jobId) = j
    e.stageIds.foreach(s => stageToJob(s) = j)
    jobs += j
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.remove(e.jobId).foreach(_.endNs = toNs(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = Totals(0, m.shuffleWriteMetrics.bytesWritten, m.executorCpuTime,
        m.executorRunTime, m.jvmGCTime, m.diskBytesSpilled)
      totals = totals + t
      stageToJob.get(e.stageId).foreach(j => j.totals = j.totals + t)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (capturePlans) synchronized(plans += qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def jobsBetween(t0: Long, t1: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.startNs >= t0 && j.endNs > 0 && j.endNs <= t1).toSeq
  }

  def reset(): Unit = synchronized {
    jobs.clear(); plans.clear()
  }
}

/** Reads SQL-node metrics out of executed plans. */
object PlanStats {

  final case class Node(plan: SparkPlan, parent: Option[SparkPlan])

  /** Every physical node of an executed action, through adaptive
    * wrappers, query stages, reused exchanges and ONE level of
    * in-memory relations (the relation the action materialized;
    * deeper cached relations were counted when they were built). */
  def nodes(qe: QueryExecution): Seq[Node] = {
    val out = ArrayBuffer.empty[Node]
    def walk(p: SparkPlan, parent: Option[SparkPlan], cacheDepth: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, parent, cacheDepth)
      case q: QueryStageExec => walk(q.plan, parent, cacheDepth)
      case r: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec =>
        out += Node(m, parent)
        if (cacheDepth == 0) walk(m.relation.cachedPlan, Some(m), 1)
      case other =>
        out += Node(other, parent)
        other.children.foreach(c => walk(c, Some(other), cacheDepth))
    }
    walk(qe.executedPlan, None, 0)
    out.toSeq
  }

  private def names(es: Seq[Expression]): Set[String] =
    es.flatMap(_.references.map(_.name)).toSet

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** An inner join on the blocking key that emits (id_a, id_b) pairs. */
  private def isBlockingJoin(p: SparkPlan): Boolean = {
    val keys = p match {
      case j: ShuffledHashJoinExec if j.joinType == Inner => j.leftKeys
      case j: SortMergeJoinExec if j.joinType == Inner => j.leftKeys
      case j: BroadcastHashJoinExec if j.joinType == Inner => j.leftKeys
      case _ => Nil
    }
    val out = p.output.map(_.name).toSet
    names(keys)("key") && out("id_a") && out("id_b")
  }

  /** Rows leaving the blocking joins: the join's own output, or that of
    * the filter sitting directly on top of it. */
  def blockingJoinRows(ns: Seq[Node]): Long =
    ns.filter(n => isBlockingJoin(n.plan)).map { n =>
      n.parent match {
        case Some(f: FilterExec) => metric(f, "numOutputRows")
        case _ => metric(n.plan, "numOutputRows")
      }
    }.sum

  /** Shuffle bytes written by hash exchanges whose partitioning
    * columns satisfy `pick`. */
  def exchangeBytes(ns: Seq[Node])(pick: Set[String] => Boolean): Long =
    ns.collect {
      case Node(x: ShuffleExchangeExec, _) if (x.outputPartitioning match {
        case h: HashPartitioning => pick(names(h.expressions))
        case _ => false
      }) => metric(x, "shuffleBytesWritten")
    }.sum

  /** Values of the program's own observe() counters in these plans. */
  def observed(ns: Seq[Node]): Map[String, Row] =
    ns.collect { case Node(c: CollectMetricsExec, _) => c.name -> c.collectedMetrics }.toMap
}

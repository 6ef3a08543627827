package jobbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** What the probe records from Spark's public listener events. */
sealed trait Ev
final case class TaskEv(stageId: Int, runMs: Long, cpuNs: Long, peakMem: Long,
    shuffleBytes: Long, shuffleWriteNs: Long, fetchWaitMs: Long, spillBytes: Long) extends Ev
final case class StageEv(stageId: Int, execId: Long, name: String, startMs: Long,
    endMs: Long) extends Ev
final case class ExecStartEv(execId: Long, rootId: Long, desc: String, ms: Long) extends Ev
final case class ExecEndEv(execId: Long, ms: Long, error: Option[String]) extends Ev
final case class ScanInfo(root: String, rows: Long, bytes: Long, scanMs: Long,
    listedBytes: Long, listedFiles: Int)
final case class WriteInfo(files: Long, bytes: Long, rows: Long)
/** One finished (or failed) query execution with what its executed plan shows. */
final case class QueryEv(execId: Long, durNs: Long, write: Option[WriteInfo],
    scans: Seq[ScanInfo], aggregates: Boolean, failed: Boolean) extends Ev
final case class FenceEv(token: Long) extends Ev

/** Listener for one SparkSession. Both interfaces are served by the shared
  * listener-bus queue on one thread, so `events` keeps bus order; only
  * `events` is also read by the driver thread. A fence
  * (a one-task job) marks a point in that order: once its end is seen,
  * every event posted before it has been recorded.
  *
  * Untraced passes record only what the end-to-end metrics need: task
  * metrics and the write command's output metrics. With `tracing` on, the
  * probe also records stages and SQL executions and walks each executed
  * plan for its scans (listing their files); `tracingNs` sums the time it
  * spends on that extra work.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val events = ArrayBuffer.empty[Ev]
  private val stageExec = scala.collection.mutable.Map.empty[Int, Long]
  private val fenceJobs = scala.collection.mutable.Map.empty[Int, Long]
  @volatile private var waiting: (Long, CountDownLatch) = (-1L, null)
  private var nextFence = 0L
  /** Set by the driver between fences, so every event of a pass sees one value. */
  @volatile var tracing = false
  @volatile private var tracedNs = 0L

  /** Time spent on tracing-only work since the probe started. */
  def tracingNs: Long = tracedNs

  private def traced(f: => Unit): Unit = if (tracing) {
    val t0 = System.nanoTime()
    f
    tracedNs += System.nanoTime() - t0
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def add(e: Ev): Unit = events.synchronized { events += e; () }

  /** onSuccess/onFailure carry no execution id, but the session's listener
    * bus calls them while it handles that execution's end event, which this
    * listener also receives, right before or right after: whichever of the
    * two arrives second completes the pair.
    */
  private def pair(q: QueryEv): Unit = events.synchronized {
    events.lastOption match {
      case Some(e: ExecEndEv) => events += q.copy(execId = e.execId)
      case _ => events += q
    }
    ()
  }

  private def ended(e: ExecEndEv): Unit = events.synchronized {
    events.lastOption match {
      case Some(q: QueryEv) if q.execId == -1L => events(events.length - 1) = q.copy(execId = e.execId)
      case _ => ()
    }
    events += e
    ()
  }

  /** Index in the event log after every event posted so far. */
  def fence(): Int = {
    val token = events.synchronized { nextFence += 1; nextFence }
    val latch = new CountDownLatch(1)
    waiting = (token, latch)
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.FenceKey, token.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Probe.FenceKey, null)
    if (!latch.await(60, TimeUnit.SECONDS)) sys.error("listener bus did not drain within 60 s")
    events.synchronized {
      val i = events.indexWhere { case FenceEv(t) => t == token; case _ => false }
      i + 1
    }
  }

  def slice(from: Int, until: Int): Seq[Ev] = events.synchronized {
    events.slice(from, until).toSeq.filterNot(_.isInstanceOf[FenceEv])
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Probe.FenceKey))).foreach { t =>
      fenceJobs(e.jobId) = t.toLong
      e.stageIds.foreach(s => stageExec(s) = Probe.FenceExec)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    fenceJobs.remove(e.jobId).foreach { t =>
      add(FenceEv(t))
      val (tok, latch) = waiting
      if (tok == t && latch != null) latch.countDown()
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = traced {
    val id = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      .getOrElse(-1L)
    if (!stageExec.get(e.stageInfo.stageId).contains(Probe.FenceExec))
      stageExec(e.stageInfo.stageId) = id
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = traced {
    val s = e.stageInfo
    val ex = stageExec.getOrElse(s.stageId, -1L)
    if (ex != Probe.FenceExec)
      add(StageEv(s.stageId, ex, s.name, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val isFence = stageExec.get(e.stageId).contains(Probe.FenceExec)
    if (m != null && !isFence)
      add(TaskEv(e.stageId, m.executorRunTime, m.executorCpuTime, m.peakExecutionMemory,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => traced {
      add(ExecStartEv(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
        s.description, s.time))
    }
    case s: SparkListenerSQLExecutionEnd => traced(ended(ExecEndEv(s.executionId, s.time, s.errorMessage)))
    case _ => ()
  }

  private def query(qe: QueryExecution, durNs: Long, failed: Boolean): Unit =
    if (tracing) traced(pair(Probe.describe(qe, durNs, failed)))
    else add(QueryEv(-1L, durNs, Probe.writeInfo(Probe.nodes(qe.executedPlan)), Seq.empty,
      aggregates = false, failed))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe, durationNs, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    query(qe, 0L, failed = true)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  val FenceKey = "jobbench.fence"
  val FenceExec: Long = -2L

  /** Every node of an executed plan, including the final plans of adaptive
    * query stages and the physical plan under a command result.
    */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case other => other.children ++ other.subqueries
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(-1L)

  def writeInfo(plan: Iterator[SparkPlan]): Option[WriteInfo] =
    try plan.collectFirst { case w: DataWritingCommandExec =>
      WriteInfo(metric(w, "numFiles"), metric(w, "numOutputBytes"), metric(w, "numOutputRows"))
    } catch { case _: Throwable => None }

  def describe(qe: QueryExecution, durNs: Long, failed: Boolean): QueryEv = {
    val all = try nodes(qe.executedPlan).toVector catch { case _: Throwable => Vector.empty }
    val write = writeInfo(all.iterator)
    val scans = all.collect { case s: FileSourceScanExec =>
      val listed = try s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
        .flatMap(_.files) catch { case _: Throwable => Seq.empty }
      ScanInfo(s.relation.location.rootPaths.mkString(","), metric(s, "numOutputRows"),
        metric(s, "filesSize"), metric(s, "scanTime"), listed.map(_.getLen).sum, listed.length)
    }
    val aggregates = all.exists(_.nodeName.contains("Aggregate"))
    QueryEv(-1L, durNs, write, scans, aggregates, failed)
  }
}

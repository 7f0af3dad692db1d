package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

final class JobRec(val id: Int, val span: Int, val startUs: Long,
                   val sqlExecution: Boolean, val stageIds: Seq[Int],
                   val callSite: String) {
  var endUs: Long = -1L
}

final class StageRec(val id: Int) {
  var job: Int = -1
  var submitUs: Long = -1L
  var endUs: Long = -1L
  var tasks: Int = 0
  var shuffleReadBytes: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var shuffleWriteNs: Long = 0L
  var spillBytes: Long = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  def durUs: Long = endUs - submitUs
  def ran: Boolean = submitUs >= 0 && endUs >= submitUs
}

/** A finished Dataset action as the QueryExecutionListener saw it. */
final case class QeEvent(funcName: String, qe: QueryExecution, durationNs: Long)

/** Spark's public listeners, attached only in traced runs: the
  * scheduler listener (jobs, stages, tasks), the QueryExecutionListener
  * (finished actions with their plans and SQL metrics) and the
  * StreamingQueryListener (micro-batch progress).
  *
  * Jobs are attributed to spans by the `perfbench.span` local property
  * the runner sets before each layer call; stream query threads inherit
  * it. Plan and progress events carry no such property, so they are
  * attributed to the op during which they arrive: the runner flushes
  * the listener bus after every op ([[drain]]).
  */
final class SparkTrace(spark: SparkSession) {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val lock = new Object
  private val qeBuf = mutable.ArrayBuffer.empty[QeEvent]
  private val progressBuf =
    mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Runner.SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val sql = props.exists(_.getProperty("spark.sql.execution.id") != null)
      val last = e.stageInfos.maxByOption(_.stageId)
      val rec = new JobRec(e.jobId, span, e.time * 1000L, sql,
        e.stageIds, last.map(_.name).getOrElse(""))
      jobs(e.jobId) = rec
      e.stageInfos.foreach { si =>
        val s = stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId))
        if (s.job < 0) s.job = e.jobId
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        val s = stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId))
        s.submitUs = si.submissionTime.map(_ * 1000L).getOrElse(-1L)
        s.endUs = si.completionTime.map(_ * 1000L).getOrElse(-1L)
        s.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
        .taskMs += e.taskInfo.duration
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      lock.synchronized { qeBuf += QeEvent(f, qe, d) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      lock.synchronized { qeBuf += QeEvent(f, qe, -1L) }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progressBuf += e.progress }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }

  /** Flush the listener bus, then hand over the plan and progress
    * events that arrived since the previous drain.
    */
  def drain(): (Seq[QeEvent], Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
    lock.synchronized {
      val out = (qeBuf.toList, progressBuf.toList)
      qeBuf.clear(); progressBuf.clear()
      out
    }
  }

  def jobsOf(spanIds: Set[Int]): Seq[JobRec] =
    lock.synchronized(jobs.values.filter(j => spanIds(j.span)).toList)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = lock.synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => ids(s.job) && s.ran).toList
  }

  /** Forget records of finished ops so a long run stays small. */
  def forget(js: Seq[JobRec]): Unit = lock.synchronized {
    js.foreach { j => jobs.remove(j.id); j.stageIds.foreach(stages.remove) }
  }
}

object SparkTrace {

  /** Every physical node reachable from a plan, looking through the
    * adaptive wrapper, its query stages and eagerly run commands.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case w: DataWritingCommandExec => w +: nodes(w.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Whether an action wrote files: a sync's sink call. */
  def writes(e: QeEvent): Boolean =
    nodes(e.qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec])

  /** Catalyst phase times of a QueryExecution, in milliseconds. */
  def phasesMs(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  def progressDurations(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Map[String, Double] =
    Option(p.durationMs).map(_.asScala.map { case (k, v) => k -> v.toDouble }.toMap)
      .getOrElse(Map.empty)
}

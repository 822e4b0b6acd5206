package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder, built on Spark's public listener API only.
  * Jobs carry the job group and phase the harness set before submitting
  * them; stages carry their call site (`StageInfo.name`) and the summed
  * metrics of their tasks; each finished QueryExecution carries its
  * Catalyst phase times. Everything stays in memory until the run ends.
  * All callbacks arrive on the listener bus's shared queue, one at a time.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val aggs = mutable.HashMap.empty[(Int, Int), StageAgg]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val qes = mutable.ArrayBuffer.empty[Qe]
  private val sqlSites = mutable.HashMap.empty[Long, String]
  @volatile private var waiting: Option[(String, CountDownLatch)] = None

  def snapshot: Trace = synchronized {
    Trace(jobs.values.toVector, stages.toVector, qes.toVector)
  }

  /** Blocks until every event posted before this call has been delivered:
    * the sentinel job's end is queued behind all of them.
    */
  def drain(spark: SparkSession, id: String): Unit = {
    val latch = new CountDownLatch(1)
    waiting = Some(id -> latch)
    val sc = spark.sparkContext
    sc.setJobGroup(id, id, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    require(latch.await(60, TimeUnit.SECONDS), s"listener bus did not drain ($id)")
    waiting = None
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlSites(s.executionId) = s.rootExecutionId.flatMap(sqlSites.get).getOrElse(s.description)
    }
    case _ =>
  }

  /** A job's call site: the user-level action of its SQL execution (a job
    * submitted from a broadcast or subquery thread has no user frame of its
    * own), else the name of its result stage.
    */
  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val stageSite = if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).name
    val site = prop("spark.sql.execution.id").toLongOption.flatMap(sqlSites.get).getOrElse(stageSite)
    jobs(js.jobId) = Job(js.jobId, prop("spark.jobGroup.id"), prop(Harness.PhaseKey),
      js.time, js.stageIds.toVector, site)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val group = synchronized {
      jobs.get(je.jobId).map { j =>
        j.endMs = je.time
        j.ok = je.jobResult == JobSucceeded
        j.group
      }
    }
    waiting.foreach { case (id, latch) => if (group.contains(id)) latch.countDown() }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val a = aggs.getOrElseUpdate((te.stageId, te.stageAttemptId), StageAgg())
    val ti = te.taskInfo
    a.tasks += 1
    if (ti.failed || ti.killed) a.tasksFailed += 1
    val m = te.taskMetrics
    if (m != null) {
      val gettingResult = if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.delayMs += math.max(0L, ti.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val i = sc.stageInfo
    val agg = aggs.remove((i.stageId, i.attemptNumber())).getOrElse(StageAgg())
    stages += Stage(i.stageId, i.attemptNumber(), i.name, i.submissionTime.getOrElse(-1L),
      i.completionTime.getOrElse(-1L), i.numTasks, i.failureReason.isDefined, agg)
  }

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = synchronized {
    qes += Qe(func, ok, qe.tracker.phases.map { case (k, p) => k -> Vector(p.startTimeMs, p.endTimeMs) })
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, ok = true)

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, ok = false)
}

object Tracer {
  final case class Job(id: Int, group: String, phase: String, startMs: Long, stageIds: Vector[Int],
      site: String, var endMs: Long = -1L, var ok: Boolean = false)

  /** Summed task metrics of one stage attempt, updated in place as tasks end. */
  final case class StageAgg(var tasks: Int = 0, var tasksFailed: Int = 0, var runMs: Long = 0L,
      var cpuNs: Long = 0L, var gcMs: Long = 0L, var delayMs: Long = 0L, var inputBytes: Long = 0L,
      var inputRecords: Long = 0L, var outputBytes: Long = 0L, var outputRecords: Long = 0L,
      var shuffleWriteBytes: Long = 0L, var shuffleReadBytes: Long = 0L, var fetchWaitMs: Long = 0L,
      var spillBytes: Long = 0L)

  final case class Stage(id: Int, attempt: Int, name: String, submitMs: Long, endMs: Long,
      numTasks: Int, failed: Boolean, agg: StageAgg)

  /** A finished QueryExecution: Catalyst phase name -> [start ms, end ms]. */
  final case class Qe(func: String, ok: Boolean, phases: Map[String, Vector[Long]])

  final case class Trace(jobs: Vector[Job], stages: Vector[Stage], qes: Vector[Qe])
}

package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** One timed interval of the traced run. Kinds nest run → query →
  * {build, action} → job → stage; `parent` is the id of the enclosing span
  * (-1 for the run). Times are epoch milliseconds, the clock Spark's listener
  * events carry.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long)

/** The traced run's listener pair. Job spans are parented by the local
  * property [[Trace.SpanProperty]] the harness sets around each phase (Spark
  * copies local properties to the threads a query spawns); each job is
  * attributed to a module by its call site ([[Attribution]]). Everything is
  * kept in memory and read after [[drain]].
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private final class Module {
    var jobs = 0L; var jobMs = 0L; var cpuNs = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val openJobs = mutable.Map.empty[Int, (Long, Long, String)] // start, parent span, module
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val moduleOf = mutable.Map.empty[Int, String]
  private val stages = mutable.ArrayBuffer.empty[(Span, Int)] // span, job id
  private val modules = mutable.LinkedHashMap(Attribution.modules.map(_ -> new Module): _*)
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** SQL executions' modules, from the call site Spark records on the
    * thread that started the execution; the jobs of an execution may run on
    * other threads (adaptive stages, broadcasts) whose own stacks hold no
    * graft frame.
    */
  private val executionModule = mutable.Map.empty[Long, String]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def newSpanId(): Long = synchronized { nextId += 1; nextId }

  def record(s: Span): Unit = synchronized { spans += s }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionModule(s.executionId) = Attribution.module(s.details)
    }
    case _ => ()
  }

  /** Only jobs of a timed query span are recorded; the harness's untimed
    * read-back of written results runs without the span property.
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(SpanProperty).map(_.toLong).foreach { parent =>
      // the result stage is created last, from the job's own call site
      val own = Attribution.module(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
      val module = if (own != "unattributed") own else prop(SQLExecution.EXECUTION_ID_KEY)
        .flatMap(id => executionModule.get(id.toLong)).getOrElse(own)
      openJobs(e.jobId) = (e.time, parent, module)
      moduleOf(e.jobId) = module
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (start, parent, module) =>
      val id = newSpanId()
      jobSpan(e.jobId) = id
      spans += Span(id, parent, "job", s"${e.jobId}:$module", start, e.time)
      val m = modules(module)
      m.jobs += 1; m.jobMs += e.time - start
      c("scheduler.jobs") += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (start <- si.submissionTime; end <- si.completionTime; job <- stageJob.get(si.stageId)) {
      stages += ((Span(newSpanId(), -1, "stage", s"${si.stageId}.${si.attemptNumber()}",
        start, end), job))
      c("scheduler.stages") += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (module <- stageJob.get(e.stageId).flatMap(moduleOf.get)) {
      c("scheduler.tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val overheadMs = info.duration - m.executorDeserializeTime - m.executorRunTime -
          m.resultSerializationTime - info.gettingResultTime
        c("scheduler.delay_s") += math.max(0L, overheadMs) / 1e3
        c("executor.run_s") += m.executorRunTime / 1e3
        c("executor.cpu_s") += m.executorCpuTime / 1e9
        c("executor.gc_s") += m.jvmGCTime / 1e3
        c("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / MB
        c("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / MB
        c("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        c("memory.spill_mb") += m.memoryBytesSpilled / MB
        c("scan.read_mb") += m.inputMetrics.bytesRead / MB
        c("scan.rows") += m.inputMetrics.recordsRead
        c("output.write_mb") += m.outputMetrics.bytesWritten / MB
        c("output.rows") += m.outputMetrics.recordsWritten
        modules(module).cpuNs += m.executorCpuTime
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid) {
      c("checkpoint.blocks") += 1
      c("checkpoint.mb") += (b.memSize + b.diskSize) / MB
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = synchronized {
    c("catalyst.executions") += 1
    c("catalyst.plan_s") += PlanPhases.map(p => qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)).sum / 1e3
  }

  /** All spans so far, stage spans included; call after [[drain]]. */
  def allSpans: Seq[Span] = synchronized {
    spans.toSeq ++ stages.map { case (s, job) => s.copy(parent = jobSpan.getOrElse(job, -1L)) }
  }

  /** Counter totals plus the per-module job split, keyed by metric name. */
  def counters: Map[String, Double] = synchronized {
    val perModule = modules.toSeq.flatMap { case (name, m) =>
      Seq(s"$name.jobs" -> m.jobs.toDouble, s"$name.job_s" -> m.jobMs / 1e3,
        s"$name.task_cpu_s" -> m.cpuNs / 1e9)
    }
    (Counters.map(k => k -> c(k)) ++ perModule).toMap
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  private val MB = 1024.0 * 1024.0
  private val PlanPhases = Seq(
    org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS,
    org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION,
    org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING)

  val Counters: Seq[String] = Seq(
    "catalyst.plan_s", "catalyst.executions",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "memory.spill_mb",
    "checkpoint.blocks", "checkpoint.mb",
    "scan.read_mb", "scan.rows", "output.write_mb", "output.rows")

  /** Self time of each span: its duration minus the part of it that its
    * children cover.
    */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s -> ((s.end - s.start) - Stats.covered(kids, s.start, s.end))
    }
  }
}

package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run instrumentation, all of it outside the engine: spans the
  * benchmark records around its calls into each layer, a SparkListener
  * that attributes every job, stage and task metric to the op whose
  * thread started the job (the job carries the op id as a local
  * property; stages map to jobs through `SparkListenerJobStart
  * .stageInfos`), and a QueryExecutionListener that reads Catalyst's
  * phase times and the final plan's WholeStageCodegen durations.
  * Everything stays in memory and is written out when the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext

  val spans = ArrayBuffer[Map[String, Any]]()
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val wscgSeen = new ConcurrentHashMap[Long, Long]()
  @volatile private var currentOp = -1

  private final class JobAcc(val id: Int, val op: Int, val startMs: Long) {
    @volatile var endMs = -1L
    @volatile var ok = true
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new JobAcc(e.jobId, op, e.time))
      e.stageInfos.foreach(si => stageToJob.put(si.stageId, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      Option(stageToJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.stages += 1
          j.tasks += si.numTasks
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
        stages.add(Map("stage" -> si.stageId, "job" -> j.id, "op" -> j.op,
          "start_us" -> si.submissionTime.getOrElse(0L) * 1000L,
          "end_us" -> si.completionTime.getOrElse(0L) * 1000L,
          "tasks" -> si.numTasks))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(f, qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(f, qe, ok = false)
  }

  private def record(f: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start_us" -> p.startTimeMs * 1000L, "end_us" -> p.endTimeMs * 1000L)
    }
    // a plan node reused across queries keeps accumulating into the same
    // SQLMetric, so count only what each metric gained since last seen
    val wscg = try Plans.all(qe.executedPlan) { case w: WholeStageCodegenExec => w }
      .flatMap(_.metrics.get("pipelineTime")).distinct.map { m =>
        val gained = m.value - wscgSeen.getOrDefault(m.id, 0L)
        wscgSeen.put(m.id, m.value)
        math.max(gained, 0L)
      }.sum
    catch { case _: Throwable => 0L }
    qes.add(Map("op" -> currentOp, "action" -> f, "ok" -> ok,
      "phases" -> phases, "wscg_ms" -> wscg))
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Open op `id`'s root span; jobs the driver thread starts from here on
    * carry the op id. */
  def begin(id: Int, name: String): Scope = {
    currentOp = id
    sc.setLocalProperty(OpKey, id.toString)
    new Scope(this, id, name, Clock.nowUs)
  }

  /** Close the root span, then wait (outside the span) until the listener
    * bus has delivered every event the op caused. */
  def end(s: Scope): Unit = {
    spans += Map("name" -> s.name, "op" -> s.op, "start_us" -> s.startUs,
      "end_us" -> Clock.nowUs, "root" -> true)
    sc.setLocalProperty(OpKey, null)
    PerfbenchBus.drain(sc)
    currentOp = -1
  }

  /** Tag jobs of an untimed probe call, so they are not counted as
    * unattributed. */
  def probe[A](body: => A): A = {
    sc.setLocalProperty(OpKey, ProbeOp.toString)
    try body finally { sc.setLocalProperty(OpKey, null); PerfbenchBus.drain(sc) }
  }

  private[perfbench] def child(op: Int, name: String, startUs: Long): Unit =
    spans += Map("name" -> name, "op" -> op, "start_us" -> startUs,
      "end_us" -> Clock.nowUs, "root" -> false)

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def result: Map[String, Any] = Map(
    "spans" -> spans.toSeq,
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "job" -> j.id, "op" -> j.op, "start_us" -> j.startMs * 1000L,
      "end_us" -> j.endMs * 1000L, "ok" -> j.ok, "stages" -> j.stages,
      "tasks" -> j.tasks, "executor_run_ms" -> j.runMs,
      "executor_cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
      "shuffle_read_bytes" -> j.shuffleRead,
      "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill)),
    "stages" -> stages.asScala.toSeq,
    "qes" -> qes.asScala.toSeq)
}

object Tracer {
  val OpKey = "perfbench.op"
  /** Op id carried by the jobs of probe calls. */
  val ProbeOp = -2

  /** Handle for one op's root span; `span` records a child around a call
    * into one layer. Untraced runs use [[NoScope]], which only runs the
    * body. */
  class Scope(t: Tracer, val op: Int, val name: String, val startUs: Long) {
    def span[A](layerCall: String)(body: => A): A = {
      val s = Clock.nowUs
      try body finally if (t != null) t.child(op, layerCall, s)
    }
  }
  object NoScope extends Scope(null, -1, "", 0L)
}

/** Walks AQE's final plan, query stages included. */
private object Plans extends AdaptiveSparkPlanHelper {
  def all[B](p: SparkPlan)(pf: PartialFunction[SparkPlan, B]): Seq[B] =
    collectWithSubqueries(p)(pf)
}

package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a query key's time goes, layer by layer:
  * `runMain graft.Profile <keys|all> <sfDir>` runs every key once warm,
  * then each key [[Reps]] measured times, and keeps the fastest run's
  *   - wall time;
  *   - Catalyst analysis / optimization / planning ms, summed over every
  *     QueryExecution the key ran (a QueryExecutionListener);
  *   - job, stage and task counts — a stage belongs to the job whose
  *     START event lists it (`stageInfos`), exact under AQE subquery,
  *     broadcast and exchange-reuse jobs;
  *   - shuffle read/write, spill, executor run and GC totals;
  *   - the driver gap: wall minus the sum of job times (planning, driver
  *     work, scheduling — a 2 s key made of 30 × 60 ms jobs is fixed-cost
  *     bound, one made of a single 1.8 s job is plan bound);
  *   - the SQLMetrics of the last QueryExecution's final AQE plan.
  * It writes PROFILE.json and each key's formatted final plan under
  * `plans/profile/`. A key that throws lands in `errors`, never as a
  * timing, and the run exits 1.
  *
  * `SPARK_GRAFT_CONF="k=v;k=v"` sets extra session conf first — the one
  * A/B mechanism (e.g. `spark.graft.columnarAgg.enabled=false` for the
  * stock-aggregate twin of a kernel key). Timing goes through [[Q.force]]
  * (noop sink), never count(). */
object Profile {
  /** Measured runs per key after the warm one; the fastest is kept. */
  val Reps = 3
  /** Plan-file line cap: a literal can render as megabytes of hex (d13's
    * inlined bloom filter: 2.5 M characters per line). */
  private val MaxPlanLine = 2000

  type Query = (SparkSession, String) => DataFrame

  final case class NodeMetrics(node: String, metrics: Map[String, Long])

  final case class KeyProfile(wallMs: Double, phasesMs: Map[String, Long],
      queryExecutions: Int, jobs: Int, stages: Int, tasks: Int, jobMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      executorRunMs: Long, gcMs: Long, planMetrics: Seq[NodeMetrics],
      plan: String) {
    def driverGapMs: Double = wallMs - jobMs

    def toJson: Map[String, Any] = ListMap(
      "wall_ms" -> wallMs,
      "analysis_ms" -> phasesMs.getOrElse("analysis", 0L),
      "optimization_ms" -> phasesMs.getOrElse("optimization", 0L),
      "planning_ms" -> phasesMs.getOrElse("planning", 0L),
      "query_executions" -> queryExecutions,
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "job_ms" -> jobMs, "driver_gap_ms" -> driverGapMs,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes,
      "executor_run_ms" -> executorRunMs, "gc_ms" -> gcMs,
      "plan_metrics" -> planMetrics.map(n =>
        ListMap("node" -> n.node, "metrics" -> n.metrics)))
  }

  final case class Report(profiles: Seq[(String, KeyProfile)],
      errors: Seq[(String, String)])

  /** Profile `queries` in order on `spark`; each key's formatted final
    * plan is written to `<planDir>/<key>.txt`. Every key's warm run
    * comes first, so no key is measured on a driver JIT-warmed only by
    * the keys before it. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      planDir: String): Report = {
    val rec = new Recorder(spark)
    val profiles = Seq.newBuilder[(String, KeyProfile)]
    val errors = Seq.newBuilder[(String, String)]
    def failed(name: String, e: Throwable): Unit = {
      System.err.println(s"[profile] $name failed: $e")
      errors += name -> String.valueOf(e)
    }
    val warm = queries.filter { case (name, fn) =>
      try { Q.force(fn(spark, sfDir)); true } // codegen, footers, artifacts
      catch { case e: Throwable => failed(name, e); false }
    }
    try warm.foreach { case (name, fn) =>
      try {
        val best = (1 to Reps).map { _ =>
          rec.reset()
          val t0 = System.nanoTime()
          Q.force(fn(spark, sfDir))
          rec.result((System.nanoTime() - t0) / 1e6)
        }.minBy(_.wallMs)
        Files.createDirectories(Paths.get(planDir))
        Files.writeString(Paths.get(planDir, s"$name.txt"),
          best.plan.split("\n", -1).map(l =>
            if (l.length <= MaxPlanLine) l
            else s"${l.take(MaxPlanLine)}... [${l.length} chars]")
            .mkString("\n"))
        profiles += name -> best
      } catch { case e: Throwable => failed(name, e) }
    } finally rec.detach()
    Report(profiles.result(), errors.result())
  }

  def toJson(r: Report, sfDir: String, conf: String): String = Json.render(
    ListMap("sf" -> sfDir, "cpus" -> GraftSession.cpus, "reps" -> Reps,
      "conf" -> conf,
      "errors" -> r.errors.map { case (k, e) =>
        ListMap("key" -> k, "error" -> e) },
      "queries" -> ListMap(r.profiles.map { case (k, p) =>
        k -> p.toJson }: _*)))

  def main(args: Array[String]): Unit = {
    val (keys, sfDir) = args match {
      case Array(k, d) => (k, d)
      case _ =>
        System.err.println("usage: graft.Profile <q1,q2,...|all> <sfDir>")
        sys.exit(2)
    }
    val all = SparkEntry.queries
    val names = if (keys == "all") all.keys.toSeq.sorted
      else keys.split(',').toSeq
    val unknown = names.filterNot(all.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[profile] unknown keys: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val spark = GraftSession.build()
    val conf = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
    conf.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ => ()
      }
    }
    val report = run(spark, sfDir, names.map(n => n -> all(n)),
      "plans/profile")
    spark.stop()
    Files.writeString(Paths.get("PROFILE.json"),
      toJson(report, sfDir, conf) + "\n")
    report.profiles.sortBy(-_._2.wallMs).foreach { case (k, p) =>
      println(f"[profile] $k%-28s wall ${p.wallMs}%9.1f ms  jobs ${p.jobs}%3d" +
        f"  gap ${p.driverGapMs}%8.1f ms  catalyst " +
        f"${p.phasesMs.values.sum}%6d ms")
    }
    if (report.errors.nonEmpty) {
      System.err.println(s"[profile] ${report.errors.size} failed: " +
        report.errors.map(_._1).mkString(","))
      sys.exit(1)
    }
  }

  /** Job, stage and query-execution listeners for one measured run. */
  private final class Recorder(spark: SparkSession) {
    private final class Job(val start: Long) {
      @volatile var end = -1L
      var stages, tasks = 0
      var runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    }
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageToJob = new ConcurrentHashMap[Int, Int]()
    private val qes = new ConcurrentLinkedQueue[QueryExecution]()

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, new Job(e.time))
        e.stageInfos.foreach(si => stageToJob.put(si.stageId, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageToJob.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { j =>
            j.synchronized {
              j.stages += 1
              j.tasks += si.numTasks
              val m = si.taskMetrics
              if (m != null) {
                j.runMs += m.executorRunTime
                j.gcMs += m.jvmGCTime
                j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
                j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
                j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
              }
            }
          }
      }
    }
    private val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = qes.add(qe)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)

    private def drain(): Unit = GraftShim.drainListenerBus(spark.sparkContext)

    def reset(): Unit = {
      drain()
      jobs.clear(); stageToJob.clear(); qes.clear()
    }

    def result(wallMs: Double): KeyProfile = {
      drain()
      val js = jobs.values.asScala.toSeq
      val qs = qes.asScala.toSeq
      val phases = qs.flatMap(_.tracker.phases.toSeq)
        .groupMapReduce(_._1)(_._2.durationMs)(_ + _)
      val last = qs.lastOption
      KeyProfile(wallMs, phases, qs.size, js.size, js.map(_.stages).sum,
        js.map(_.tasks).sum, js.filter(_.end >= 0).map(j => j.end - j.start).sum,
        js.map(_.shuffleRead).sum, js.map(_.shuffleWrite).sum,
        js.map(_.spill).sum, js.map(_.runMs).sum, js.map(_.gcMs).sum,
        last.map(qe => Plans.metrics(qe.executedPlan)).getOrElse(Nil),
        last.map(qe => qe.explainString(FormattedMode)).getOrElse(""))
    }

    def detach(): Unit = {
      drain()
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Walks a final AQE plan, query stages and subqueries included. */
  private object Plans extends AdaptiveSparkPlanHelper {
    def metrics(p: SparkPlan): Seq[NodeMetrics] =
      collectWithSubqueries(p) { case n => n }.flatMap { n =>
        val ms = n.metrics.collect { case (k, m) if m.value != 0 => k -> m.value }
        if (ms.isEmpty) None
        else Some(NodeMetrics(n.nodeName, TreeMap(ms.toSeq: _*)))
      }
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload. `setup` builds a fresh instance (CqlSession,
  * tables, bulk load) and replaces the previous one; the run sets up
  * [[Main.SetupReps]] times, then warms the last instance up with checked
  * ops of its own mix and measures it. */
trait Workload {
  def setup(rep: Int): Unit
  def warmUp(rec: Recorder): Unit
  def measure(rec: Recorder, deadlineNs: Long): Unit
  /** Untimed facts gathered after the measured window. */
  def finish(): Map[String, Any]

  /** JVM temp-dir entries that existed before the measured instance's
    * setup; engine temp roots created after them are that instance's. */
  var rootsBefore: Set[String] = Set.empty
  /** Bytes under the measured instance's temp roots (end of run unless the
    * workload samples a fixed point of its own). */
  def diskBytes(): Long = Disk.tempRootBytes(rootsBefore).values.sum
}

object Workload {
  /** Bytes of one parquet write of `df`, in a scratch dir removed after. */
  def parquetBytes(df: DataFrame): Long = {
    val dir = Files.createTempDirectory("perfbench-live")
    try {
      df.write.mode("overwrite").parquet(dir.resolve("t").toString)
      Disk.bytes(dir.resolve("t"))
    } finally {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }
}

/** Drives one run: `perfbench.Main --workload w --seed n --seconds s
  * --trace 0|1 --out result.json --work dir --nproc n`. Writes raw op
  * records (and, traced, spans and listener events) as JSON; run.py turns
  * them into metrics. */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.build(a)
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    val w: Workload = a.workload match {
      case "cql_oltp" => new CqlOltp(spark, a.seed)
      case "bulk_merge" => new BulkMerge(spark, a.seed)
      case "analytics" => new Analytics(spark, a.seed, a.workDir)
      case other => sys.error(s"unknown workload $other")
    }
    val repS = (0 until SetupReps).map { r =>
      w.rootsBefore = Disk.tempChildren()
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val warm = new Recorder(None)
    val tw = System.nanoTime()
    w.warmUp(warm)
    val warmS = (System.nanoTime() - tw) / 1e9
    val firstOpS = (System.currentTimeMillis() - startMs) / 1e3
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val rec = new Recorder(tracer)
    val t0 = System.nanoTime()
    w.measure(rec, t0 + a.seconds * 1000000000L)
    val wallS = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.detach())
    // heap the engine (and the benchmark's model) still holds after a full
    // collection: live data, free of the collector's sizing policy
    System.gc()
    val heapLiveBytes = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val roots = Disk.tempRootBytes(w.rootsBefore)
    val diskBytes = w.diskBytes()
    val facts = w.finish()
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "nproc" -> a.nproc, "seconds" -> a.seconds,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "session_s" -> sessionS, "setup_reps_s" -> repS, "warmup_s" -> warmS, "first_op_s" -> firstOpS,
      "wall_s" -> wallS,
      "warm_ops" -> warm.ops.map(_.toMap), "ops" -> rec.ops.map(_.toMap),
      "probes" -> rec.probes,
      "disk_roots" -> roots, "disk_bytes" -> diskBytes,
      "vm_hwm_kb" -> Disk.vmHwmKb(), "heap_live_bytes" -> heapLiveBytes) ++ facts ++
      tracer.map(_.result).getOrElse(Map.empty)
    Files.writeString(a.out, Json(result))
    spark.stop()
  }
}

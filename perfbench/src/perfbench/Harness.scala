package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line arguments of [[Main]]; `run.py` passes all of them. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, out: Path, workDir: Path, nproc: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("out")), Paths.get(need("work")),
      need("nproc").toInt)
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans); the benchmark adds no library. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** One timed operation, as seen from outside the engine. */
final case class OpRec(id: Int, kind: String, sub: String, startUs: Long,
    ms: Double, ok: Boolean, err: String, attrs: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "sub" -> sub,
    "start_us" -> startUs, "ms" -> ms, "ok" -> ok, "err" -> err) ++ attrs
}

/** Thrown by a workload's answer check; the op then counts as failed. */
final class WrongAnswer(msg: String) extends Exception(msg)

/** Times ops from outside, checks their answers untimed, and keeps every
  * record in memory until the run ends. An op that throws or answers
  * wrongly is recorded with `ok = false`; its latency never enters the
  * percentiles (run.py drops it). */
final class Recorder(val tracer: Option[Tracer]) {
  def traced: Boolean = tracer.isDefined
  val ops = ArrayBuffer[OpRec]()
  val probes = ArrayBuffer[Map[String, Any]]()
  private var nextId = 0

  /** Run `body` as op `kind/sub`, then `check` its result untimed. */
  def op[A](kind: String, sub: String, attrs: Map[String, Any] = Map.empty)(
      body: Tracer.Scope => A)(check: A => Unit): Option[A] = {
    val id = nextId; nextId += 1
    val scope = tracer.map(_.begin(id, s"op.$kind")).getOrElse(Tracer.NoScope)
    val t0 = System.nanoTime()
    val startUs = Clock.nowUs
    val res = try Right(body(scope)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.foreach(_.end(scope))
    val verdict = res.flatMap { a =>
      try { check(a); Right(a) } catch { case e: Throwable => Left(e) }
    }
    verdict.left.foreach { e =>
      System.err.println(s"[perfbench] op $id $kind/$sub failed: $e")
    }
    ops += OpRec(id, kind, sub, startUs, ms, verdict.isRight,
      verdict.left.toOption.map(_.toString.take(400)).orNull, attrs)
    verdict.toOption
  }

  /** An untimed probe call outside any op span (parse re-run, reconcile
    * force); traced runs keep it as its own root span. */
  def probe[A](name: String, opId: Int)(body: => A): A = {
    val t0 = System.nanoTime()
    val startUs = Clock.nowUs
    val r = tracer.fold(body)(_.probe(body))
    val ms = (System.nanoTime() - t0) / 1e6
    probes += Map("name" -> name, "op" -> opId, "start_us" -> startUs, "ms" -> ms)
    r
  }

  def lastOpId: Int = nextId - 1
}

/** Epoch-microsecond clock from the monotonic timer, anchored once, so
  * spans from the benchmark and millisecond Spark event times share an
  * axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** The Spark session every workload runs on: sized from the host
  * (`local[nproc]`, nproc shuffle partitions) with the same engine conf as
  * the repository's own `graft.Bench` harness. */
object Session {
  def build(a: Args): SparkSession = {
    val local = a.workDir.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .appName(s"perfbench-${a.workload}")
      .master(s"local[${a.nproc}]")
      .config("spark.sql.shuffle.partitions", a.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Disk usage helpers for the storage metrics. */
object Disk {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Children of the JVM temp dir, so a workload can tell which temp roots
    * its measured session created. */
  def tempChildren(): Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.map(_.getFileName.toString).toSet }
    finally s.close()
  }

  /** Bytes under each engine temp root created since `before`. */
  def tempRootBytes(before: Set[String]): Map[String, Long] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    (tempChildren() -- before).filter(_.startsWith("graft-"))
      .map(n => n -> bytes(tmp.resolve(n))).toMap
  }

  /** Peak resident set (VmHWM) of this process, in kB. */
  def vmHwmKb(): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}

/** Seeded draws shared by the workload generators. */
final class Gen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = rnd.nextInt(n)
  def long(n: Long): Long = rnd.nextLong(n)
  def double(): Double = rnd.nextDouble()
  def chance(p: Double): Boolean = rnd.nextDouble() < p
  def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
  def split(): Gen = new Gen(rnd.nextLong())
  /** A permutation of 0 until n. */
  def perm(n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
}

/** Zipf(s) over ranks 1..n by inverse CDF; rank r maps through a seeded
  * permutation so the hot keys differ between seeds. */
final class Zipf(n: Int, s: Double, g: Gen) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  private val perm = g.perm(n)
  def next(): Int = {
    val u = g.double()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    perm(math.min(i, n - 1))
  }
}

/** Per-row pseudo-random columns that Spark SQL and the benchmark's model
  * compute identically: Spark's `hash(id, seed, j)` (Murmur3, seed 42),
  * mirrored here. Bulk loads are generated inside Spark from `range(n)`;
  * the model replays the same function. */
object Seeded {
  import org.apache.spark.unsafe.hash.Murmur3_x86_32

  def sqlHash(seed: Long)(j: Int): String = s"hash(id, CAST($seed AS BIGINT), $j)"

  def sqlArray(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("array(", ", ", ")")

  def hash(seed: Long)(i: Long, j: Int): Int =
    Murmur3_x86_32.hashInt(j, Murmur3_x86_32.hashLong(seed, Murmur3_x86_32.hashLong(i, 42)))

  def pmod(h: Int, n: Int): Int = ((h % n) + n) % n
}

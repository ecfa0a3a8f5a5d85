package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.cql.CqlSession

/** `bulk_merge`: a catalog table `items (lk bigint PRIMARY KEY, qty double,
  * flag text)` loaded with 200k distinct keys, then blocks of three cycles
  * and a `COMPACT TABLE`. A cycle is one catalog MERGE of a seeded change
  * batch followed by three catalog aggregate reads, each over half the key
  * range at a seeded offset (the first pays the per-epoch snapshot
  * rebuild). A block's three
  * batches take one size from each of [100, 1k), [1k, 10k) and
  * [10k, 60k], log-uniform within it, so every block has the same mix and
  * the run's statistics do not depend on how many blocks fit. About 10%
  * of a batch are new keys; matched rows are updated, or deleted when
  * flag = 'R'. The window holds at least two blocks, and the block in
  * progress at the deadline is finished. Reads
  * are checked against the benchmark's model of the table, whose sums are
  * exact. */
final class BulkMerge(spark: SparkSession, seed: Long) extends Workload {
  import BulkMerge._

  // key -> qty * 4 + flag index; qty stays integral so decimal sums are exact
  private var model: mutable.LongMap[Int] = _
  private var keys: mutable.ArrayBuffer[Long] = _
  private var pos: mutable.LongMap[Int] = _
  private var nextNew = 0L
  private var cs: CqlSession = _
  private var cat = ""
  private var epoch = 0L
  private var reconciledEpoch = -1L
  private var readEpoch = -1L

  private def put(k: Long, qty: Int, flag: Int): Unit = {
    if (!model.contains(k)) { pos(k) = keys.size; keys += k }
    model(k) = qty * 4 + flag
  }
  private def remove(k: Long): Unit = {
    val i = pos(k); val last = keys.last
    keys(i) = last; pos(last) = i
    keys.remove(keys.size - 1); pos.remove(k); model.remove(k)
  }

  def setup(rep: Int): Unit = {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE items (lk bigint PRIMARY KEY, qty double, flag text)")
    cat = s"pbm$rep"
    s.exposeAsCatalog(cat)
    // row i: key 10i+1+h0%7, qty 1+h1%50, flag R for a quarter, else A or N
    val h = Seeded.sqlHash(seed) _
    spark.sql(s"""INSERT INTO $cat.default.items
      |SELECT 10 * id + 1 + pmod(${h(0)}, 7) AS lk,
      |  CAST(1 + pmod(${h(1)}, 50) AS DOUBLE) AS qty,
      |  CASE pmod(${h(2)}, 4) WHEN 0 THEN 'R' WHEN 1 THEN 'A' ELSE 'N' END AS flag
      |FROM range($BaseRows)""".stripMargin)
    cs = s
  }

  def warmUp(rec: Recorder): Unit = {
    model = mutable.LongMap(); keys = mutable.ArrayBuffer(); pos = mutable.LongMap()
    val h = Seeded.hash(seed) _
    (0 until BaseRows).foreach { i =>
      val f = Seeded.pmod(h(i, 2), 4) match { case 0 => 2; case 1 => 0; case _ => 1 }
      put(10L * i + 1 + Seeded.pmod(h(i, 0), 7), 1 + Seeded.pmod(h(i, 1), 50), f)
    }
    nextNew = 10L * BaseRows + 1
    // from its own seed stream: both commit paths (per-row replay and
    // distributed), the snapshot rebuild, the reads and COMPACT
    val g = new Gen(seed ^ 0x5eed0000L)
    Seq(500, 20000).foreach { m =>
      merge(rec, g, m)
      read(rec, g)
    }
    compact(rec)
  }

  def measure(rec: Recorder, deadlineNs: Long): Unit = {
    compacts.clear()
    val g = new Gen(seed * 31 + 7)
    var blocks = 0
    while (blocks < MinBlocks || System.nanoTime() < deadlineNs) {
      block(rec, g)
      blocks += 1
    }
  }

  /** A MERGE from each size bucket in seeded order, each followed by three
    * reads, then COMPACT. The log's footprint is sampled at the same point
    * of every run: before the first measured COMPACT, three merges after
    * the warm-up's. */
  private def block(rec: Recorder, g: Gen): Unit = {
    g.perm(SizeBuckets.size).foreach { b =>
      val (lo, hi) = SizeBuckets(b)
      merge(rec, g, math.exp(math.log(lo) + g.double() * (math.log(hi) - math.log(lo))).toInt)
      (0 until 3).foreach(_ => read(rec, g))
    }
    if (diskSample == 0L) diskSample = super.diskBytes()
    compact(rec)
  }

  private def merge(rec: Recorder, g: Gen, m: Int): Unit = {
    val nNew = math.round(m * NewShare).toInt
    val picked = mutable.LinkedHashSet[Long]()
    while (picked.size < m - nNew) picked += keys(g.int(keys.size))
    val delta = picked.toSeq.map(k => (k, 1 + g.int(100), if (g.chance(0.1)) 2 else g.int(2))) ++
      (0 until nNew).map { _ =>
        val k = nextNew; nextNew += 1 + g.int(3)
        (k, 1 + g.int(100), g.int(3))
      }
    spark.createDataFrame(delta.map { case (k, p, f) => Row(k, p.toDouble, Flags(f)) }.asJava, Schema)
      .createOrReplaceTempView("items_delta")
    val sql = s"""MERGE INTO $cat.default.items t USING items_delta s ON t.lk = s.lk
      |WHEN MATCHED AND s.flag = 'R' THEN DELETE
      |WHEN MATCHED THEN UPDATE SET qty = s.qty, flag = s.flag
      |WHEN NOT MATCHED THEN INSERT (lk, qty, flag) VALUES (s.lk, s.qty, s.flag)""".stripMargin
    val r = rec.op("write", "merge", Map("delta_rows" -> m)) { sc =>
      sc.span("storage.merge")(spark.sql(sql))
    }(_ => ())
    if (r.isDefined) delta.foreach { case (k, p, f) =>
      if (model.contains(k)) { if (f == 2) remove(k) else put(k, p, f) }
      else put(k, p, f)
    }
    epoch += 1
  }

  private def read(rec: Recorder, g: Gen): Unit = {
    // half the key space at a seeded offset: every read scans about the
    // same number of rows
    val width = nextNew / 2
    val lo = g.long(nextNew - width + 1)
    val hi = lo + width
    val sql = s"""SELECT flag, count(*) AS n,
      |CAST(sum(CAST(qty AS DECIMAL(38,6))) AS DOUBLE) AS total, min(lk) AS first_key
      |FROM $cat.default.items WHERE lk BETWEEN $lo AND $hi
      |GROUP BY flag ORDER BY flag""".stripMargin
    val fresh = readEpoch != epoch
    readEpoch = epoch
    rec.op("read", if (fresh) "after_merge" else "same_epoch",
      Map("after_write" -> fresh)) { sc =>
      if (rec.traced) sc.span(if (fresh) "storage.snapshot" else "storage.resolve")(
        spark.table(s"$cat.default.items").queryExecution.analyzed)
      val df = sc.span("catalyst.sql")(spark.sql(sql))
      sc.span("runtime.action")(df.collect())
    } { got =>
      val want = expected(lo, hi)
      val rows = got.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      if (rows != want)
        throw new WrongAnswer(s"range [$lo, $hi]: got $rows, want $want")
    }
    if (rec.traced && reconciledEpoch != epoch) {
      reconciledEpoch = epoch
      rec.probe("storage.reconcile", rec.lastOpId)(graft.Q.force(cs.view("items")))
    }
  }

  /** Per flag: row count, exact sum of qty, smallest key, over [lo, hi]. */
  private def expected(lo: Long, hi: Long): Seq[(String, Long, Double, Long)] = {
    val n, sum = new Array[Long](3) // qty is integral: the sums are exact
    val first = Array.fill(3)(Long.MaxValue)
    model.foreachKey { k =>
      if (k >= lo && k <= hi) {
        val v = model(k)
        val f = v & 3
        n(f) += 1
        sum(f) += v >> 2
        if (k < first(f)) first(f) = k
      }
    }
    (0 until 3).filter(n(_) > 0).map(f => (Flags(f), n(f),
      new java.math.BigDecimal(sum(f)).doubleValue, first(f))).sortBy(_._1)
  }

  private def compact(rec: Recorder): Unit = {
    val r = rec.op("compact", "compact") { sc =>
      sc.span("storage.compact")(cs.execute("COMPACT TABLE items").head())
    } { row =>
      // the surviving subset keeps tombstones, so it holds at least every live row
      if (row.getLong(3) < model.size || row.getLong(2) < row.getLong(3))
        throw new WrongAnswer(s"COMPACT ${row.getLong(2)} -> ${row.getLong(3)} rows, " +
          s"model has ${model.size} live")
    }
    r.foreach(row => compacts += Map("rows_in" -> row.getLong(2), "rows_out" -> row.getLong(3)))
    epoch += 1
  }

  private val compacts = mutable.ArrayBuffer[Map[String, Any]]()
  private var diskSample = 0L
  override def diskBytes(): Long = diskSample

  def finish(): Map[String, Any] = Map(
    "live_rows" -> model.size.toLong,
    "compactions" -> compacts.toSeq,
    "live_parquet_bytes" -> Workload.parquetBytes(cs.view("items")))
}

object BulkMerge {
  val BaseRows = 200000
  val MinBlocks = 2
  val NewShare = 0.1
  val SizeBuckets = IndexedSeq((100, 1000), (1000, 10000), (10000, 60000))
  val Flags = IndexedSeq("A", "N", "R")
  val Schema = StructType(Seq(StructField("lk", LongType),
    StructField("qty", DoubleType), StructField("flag", StringType)))
}

package perfbench

import java.util.{TreeMap => JTreeMap}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cql.{CqlParser, CqlSession}

/** `cql_oltp`: one CqlSession serves `orders_kv`, keyed
  * `PRIMARY KEY (o_custkey, o_orderkey)`, bulk-loaded through the catalog
  * from 150k generated orders rows over 15k customers (so it is
  * file-backed). Closed loop, one client: 70% partition point reads, 10%
  * clustering-slice reads with LIMIT, 10% INSERT, 7% UPDATE, 3% DELETE,
  * dealt from seeded decks; keys Zipf(s=1) over the customers. Every read
  * is checked against the benchmark's in-memory model of the table. */
final class CqlOltp(spark: SparkSession, seed: Long) extends Workload {
  import CqlOltp._

  private final case class Order(status: String, price: Double, priority: String)

  // the instance the last setup built
  private var cs: CqlSession = _
  private var model: mutable.LongMap[JTreeMap[Long, Order]] = _
  private var nextKey = 0L
  private var wroteSinceRead = false
  private var epoch = 0L
  private var reconciledEpoch = -1L

  def setup(rep: Int): Unit = {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE orders_kv (o_custkey bigint, o_orderkey bigint, " +
      "o_orderstatus text, o_totalprice double, o_orderpriority text, " +
      "PRIMARY KEY (o_custkey, o_orderkey))")
    val cat = s"pbo$rep"
    s.exposeAsCatalog(cat)
    import Seeded.{sqlArray => arr}
    val h = Seeded.sqlHash(seed) _
    spark.sql(s"""INSERT INTO $cat.default.orders_kv
      |SELECT 1 + pmod(${h(0)}, $Customers) AS o_custkey, 4 * id + 1 AS o_orderkey,
      |  element_at(${arr(Statuses)}, 1 + pmod(${h(1)}, ${Statuses.size})) AS o_orderstatus,
      |  CAST(pmod(${h(2)}, 50000000) AS DOUBLE) / 100D AS o_totalprice,
      |  element_at(${arr(Priorities)}, 1 + pmod(${h(3)}, ${Priorities.size})) AS o_orderpriority
      |FROM range($Orders)""".stripMargin)
    cs = s
  }

  def warmUp(rec: Recorder): Unit = {
    model = mutable.LongMap()
    val h = Seeded.hash(seed) _
    (0 until Orders).foreach { i =>
      val o = Order(Statuses(Seeded.pmod(h(i, 1), Statuses.size)),
        Seeded.pmod(h(i, 2), 50000000) / 100.0, Priorities(Seeded.pmod(h(i, 3), Priorities.size)))
      model.getOrElseUpdate(1L + Seeded.pmod(h(i, 0), Customers), new JTreeMap[Long, Order]())
        .put(4L * i + 1, o)
    }
    nextKey = 4L * Orders + 1
    wroteSinceRead = false
    // codegen and plan-cache warm-up: the same mix, its own seed stream
    val g = new Gen(seed ^ 0x5eed0000L)
    val z = new Zipf(Customers, 1.0, g.split())
    val mix = new Mix(g.split())
    (0 until WarmOps).foreach(_ => step(rec, g, z, mix))
    // writes are sub-millisecond: enough of them to get their path compiled
    (0 until WarmWrites).foreach(_ => insert(rec, g, z))
  }

  def measure(rec: Recorder, deadlineNs: Long): Unit = {
    val g = new Gen(seed * 31 + 7)
    val z = new Zipf(Customers, 1.0, g.split())
    val mix = new Mix(g.split())
    while (System.nanoTime() < deadlineNs) step(rec, g, z, mix)
  }

  /** A customer that has at least one order (writes that modify a row). */
  private def rowOwner(z: Zipf): Long = {
    var tries = 0
    var c = 1L + z.next()
    while (!model.get(c).exists(!_.isEmpty) && tries < 100) { c = 1L + z.next(); tries += 1 }
    if (model.get(c).exists(!_.isEmpty)) c
    else model.iterator.collectFirst { case (k, m) if !m.isEmpty => k }.get
  }

  private def someOrder(g: Gen, c: Long): Long = {
    val ks = model(c).keySet.asScala.toIndexedSeq
    ks(g.int(ks.size))
  }

  private def price(g: Gen): (String, Double) = {
    val cents = g.int(50000000)
    (java.math.BigDecimal.valueOf(cents.toLong, 2).toPlainString, cents / 100.0)
  }

  /** A seeded deck: its cards in shuffled order, reshuffled when dealt out. */
  private final class Deck(g: Gen, cards: IndexedSeq[Int]) {
    private var order = Array.empty[Int]
    private var i = 0
    def next(): Int = {
      if (i == order.length) { order = g.perm(cards.size).map(cards); i = 0 }
      i += 1
      order(i - 1)
    }
  }

  /** The op mix held exactly by three decks: every 5 ops are 4 reads and
    * a write, every 8 reads are 7 point reads and a slice, every 20 writes
    * are 10 INSERT, 7 UPDATE and 3 DELETE (70/10/10/7/3 overall). */
  private final class Mix(g: Gen) {
    val kind = new Deck(g, IndexedSeq(0, 0, 0, 0, 1))
    val read = new Deck(g, IndexedSeq.fill(7)(0) :+ 1)
    val write = new Deck(g, IndexedSeq.fill(10)(0) ++ IndexedSeq.fill(7)(1) ++ IndexedSeq.fill(3)(2))
  }

  private def step(rec: Recorder, g: Gen, z: Zipf, mix: Mix): Unit =
    if (mix.kind.next() == 0) read(rec, g, z, slice = mix.read.next() == 1)
    else mix.write.next() match {
      case 0 => insert(rec, g, z)
      case 1 =>
        val c = rowOwner(z)
        val o = someOrder(g, c)
        val (lit, p) = price(g)
        write(rec, "update", s"UPDATE orders_kv SET o_totalprice = $lit, " +
          s"o_orderstatus = 'F' WHERE o_custkey = $c AND o_orderkey = $o") {
          val old = model(c).get(o)
          model(c).put(o, old.copy(status = "F", price = p))
        }
      case _ =>
        val c = rowOwner(z)
        val o = someOrder(g, c)
        write(rec, "delete",
          s"DELETE FROM orders_kv WHERE o_custkey = $c AND o_orderkey = $o") {
          model(c).remove(o)
        }
    }

  private def insert(rec: Recorder, g: Gen, z: Zipf): Unit = {
    val c = 1L + z.next()
    val o = nextKey; nextKey += 4
    val (lit, p) = price(g)
    val v = Order("O", p, g.pick(Priorities))
    write(rec, "insert", s"INSERT INTO orders_kv (o_custkey, o_orderkey, " +
      s"o_orderstatus, o_totalprice, o_orderpriority) VALUES ($c, $o, " +
      s"'${v.status}', $lit, '${v.priority}')") {
      model.getOrElseUpdate(c, new JTreeMap[Long, Order]()).put(o, v)
    }
  }

  private def write(rec: Recorder, sub: String, cql: String)(
      applyToModel: => Unit): Unit = {
    val r = rec.op("write", sub) { sc => sc.span("cql.execute")(cs.execute(cql)) }(_ => ())
    if (r.isDefined) applyToModel
    wroteSinceRead = true
    epoch += 1
    if (rec.traced) rec.probe("cql.parse", rec.lastOpId)(CqlParser.parseDml(cql))
  }

  private def read(rec: Recorder, g: Gen, z: Zipf, slice: Boolean): Unit = {
    val c = 1L + z.next()
    val part = model.getOrElse(c, new JTreeMap[Long, Order]())
    val cols = "o_orderkey, o_orderstatus, o_totalprice, o_orderpriority"
    val (cql, expected) =
      if (!slice) (s"SELECT $cols FROM orders_kv WHERE o_custkey = $c",
        part.asScala.toSeq)
      else {
        val from = if (part.isEmpty) 1L else someOrder(g, c)
        (s"SELECT $cols FROM orders_kv WHERE o_custkey = $c AND o_orderkey >= $from LIMIT $SliceLimit",
          part.tailMap(from, true).asScala.toSeq.take(SliceLimit))
      }
    val want = expected.map { case (o, v) => (o, v.status, v.price, v.priority) }
    val afterWrite = wroteSinceRead
    wroteSinceRead = false
    rec.op("read", if (slice) "slice" else "point",
      Map("after_write" -> afterWrite, "rows" -> want.size)) { sc =>
      val df = sc.span("cql.execute")(cs.execute(cql))
      sc.span("runtime.action")(df.collect())
    } { got =>
      val rows = got.toSeq.map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      if (rows.sortBy(_._1) != want)
        throw new WrongAnswer(s"$cql: got ${rows.take(5)} (${rows.size} rows), " +
          s"want ${want.take(5)} (${want.size} rows)")
    }
    if (rec.traced) {
      rec.probe("cql.parse", rec.lastOpId)(CqlParser.parse(cql))
      if (reconciledEpoch != epoch) {
        reconciledEpoch = epoch
        rec.probe("storage.reconcile", rec.lastOpId)(graft.Q.force(cs.view("orders_kv")))
      }
    }
  }

  def finish(): Map[String, Any] = Map(
    "live_rows" -> model.valuesIterator.map(_.size.toLong).sum,
    "live_parquet_bytes" -> Workload.parquetBytes(cs.view("orders_kv")))
}

object CqlOltp {
  val Orders = 150000
  val Customers = 15000
  val WarmOps = 30
  val WarmWrites = 200
  val SliceLimit = 3
  val Statuses = IndexedSeq("F", "O", "P")
  val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
}

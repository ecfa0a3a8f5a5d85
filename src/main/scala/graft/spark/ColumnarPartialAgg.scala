package graft.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute, AttributeReference, BinaryComparison, Cast, EqualTo, Expression, GenericInternalRow, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Multiply, NamedExpression, Not, Or, Subtract, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Partial, Sum}
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, MicrosToTimestamp, TruncTimestamp}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, LeafExecNode, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.ColumnarRule
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** Columnar PARTIAL aggregation over a vectorized parquet scan (r11,
  * VERDICT task 7). The measured floor decomposition (a columnar probe
  * at the sf10-equivalent fixture) showed the stock path's wall is NOT
  * parquet decode: a hand-rolled aggregate over `executeColumnar()`
  * batches ran at count-star speed (0.157 s vs 0.160 s) while the full
  * SQL plan took 0.829 s — the ColumnarToRow materialization plus the
  * row-based partial hash aggregate is ~80% of t1's cost. This exec
  * removes exactly that boundary and nothing else: it replaces ONLY the
  * partial HashAggregate (+ fused Project) directly above a columnar
  * parquet scan, consuming the scan's ColumnarBatches and emitting the
  * SAME partial buffer rows (same attributes, same exprIds) the stock
  * partial agg would — the exchange and final aggregate above are
  * untouched, so merge semantics, grouping and determinism are Spark's
  * own. [P: the design point is the public RAPIDS/Gluten ColumnarRule
  * integration surface — `injectColumnar` + a plan-segment swap.]
  *
  * Scope is deliberately narrow and bail-out-first: a supported plan is
  *   HashAggregate(Partial, [Project,] FileSourceScan(parquet, columnar))
  * whose grouping keys and aggregate inputs compile to the typed column
  * programs below; anything else returns the plan unchanged. The row
  * loop is allocation-free: group keys evaluate into a reused long[]
  * (strings interned to dense ids per partition, nulls in a bitmask),
  * sum inputs stay primitive, and decimal quantization runs an exact
  * guard-banded long fast path (see DecimalSumAcc). Null group keys and
  * null sum inputs follow Sum/Count's documented buffer semantics
  * (sum-null-until-first-value, isEmpty flag for decimal); double/long
  * sums accumulate in row order per partition exactly like the stock
  * partial agg; hour/day truncation only compiles under the engine's
  * pinned UTC sessions.
  */
object ColumnarPartialAgg {

  private val MicrosPerSecond = 1000000L
  private val MicrosPerMinute = 60L * MicrosPerSecond
  private val MicrosPerHour = 60L * MicrosPerMinute
  private val MicrosPerDay = 24L * MicrosPerHour

  private def utcZone(z: Option[String]): Boolean =
    z.exists(s => s == "UTC" || s == "Etc/UTC" || s == "GMT" || s == "Z")

  /** Spark's double ordering (SQLOrderingUtil.compareDoubles): primitive
    * `==` first, so -0.0 == 0.0 (unlike java.lang.Double.compare, which
    * orders -0.0 < 0.0); NaN still compares greatest and self-equal via
    * the Double.compare fallback. Parquet data CAN contain -0.0, and a
    * residual `v = 0.0` or min/max over doubles must match the stock plan. */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** test probe: high-water string-intern table size observed at any
    * memory-bound flush reset (asserts the tables are cleared with the
    * accumulators instead of growing for the task's lifetime). */
  private[graft] val maxInternAtReset =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Stack of reusable (double[], boolean[]) buffer pairs for batch
    * expression evaluation. Col trees are SHARED across concurrent tasks
    * (compiled once at plan time), so all mutable evaluation state lives
    * here — one Scratch per accumulator instance, and accumulators are
    * created per-partition by `accFactory()`. Borrow/release is strictly
    * stack-wise (an inner node pushes one frame per extra operand). */
  private[spark] final class Scratch(val sharedFills: SharedFills) {
    def this() = this(null)
    private var ds = new Array[Array[Double]](4)
    private var bs = new Array[Array[Boolean]](4)
    private var depth = 0
    /** Borrow one frame of capacity ≥ n; returns its index for d()/b(). */
    def push(n: Int): Int = {
      if (depth == ds.length) {
        ds = java.util.Arrays.copyOf(ds, depth * 2)
        bs = java.util.Arrays.copyOf(bs, depth * 2)
      }
      if (ds(depth) == null || ds(depth).length < n) {
        ds(depth) = new Array[Double](n)
        bs(depth) = new Array[Boolean](n)
      }
      depth += 1
      depth - 1
    }
    def d(ix: Int): Array[Double] = ds(ix)
    def b(ix: Int): Array[Boolean] = bs(ix)
    def pop(): Unit = depth -= 1
  }

  /** Per-partition cache of batch-filled SHARED subexpression results
    * (r16 — a1's charge input re-evaluated its disc-price subtree every
    * batch): one (values, nulls) frame per shared subtree id, valid for
    * the generation the exec bumps per consumed batch. The batch OBJECT
    * is not a valid key — Spark's vectorized reader reuses the same
    * ColumnarBatch instance across next() calls. */
  private[spark] final class SharedFills(n: Int) {
    var gen = 0
    private val genFor = new Array[Int](n)
    private val lens = new Array[Int](n)
    private val vals = new Array[Array[Double]](n)
    private val nls = new Array[Array[Boolean]](n)
    def newBatch(): Unit = gen += 1
    /** Copy id's cached frame into (out, nl) if valid for this batch. */
    def fetch(id: Int, n0: Int, out: Array[Double], nl: Array[Boolean]): Boolean =
      if (genFor(id) == gen && lens(id) == n0) {
        System.arraycopy(vals(id), 0, out, 0, n0)
        System.arraycopy(nls(id), 0, nl, 0, n0)
        true
      } else false
    def store(id: Int, n0: Int, out: Array[Double], nl: Array[Boolean]): Unit = {
      if (vals(id) == null || vals(id).length < n0) {
        vals(id) = new Array[Double](n0); nls(id) = new Array[Boolean](n0)
      }
      System.arraycopy(out, 0, vals(id), 0, n0)
      System.arraycopy(nl, 0, nls(id), 0, n0)
      genFor(id) = gen; lens(id) = n0
    }
  }

  /** Driver-side registry of double arithmetic subtrees appearing ≥2
    * times across one aggregate's batch-filled inputs (keyed by the
    * canonicalized expression); ids are assigned in compile order, which
    * is deterministic, so the plan-time and execution-time compiles of
    * the same aggregate agree. */
  private[spark] final class ShareMap {
    private val counts = new java.util.HashMap[Expression, Integer]()
    private val ids = new java.util.HashMap[Expression, Integer]()
    def bump(e: Expression): Unit = {
      counts.merge(e.canonicalized, 1, (a, b) => a + b); ()
    }
    /** Shared id for `e`, or -1 when it is not worth caching. */
    def shareId(e: Expression): Int = {
      val k = e.canonicalized
      if (counts.getOrDefault(k, 0) < 2) -1
      else ids.computeIfAbsent(k, _ => ids.size()).intValue()
    }
    def n: Int = ids.size()
  }

  /** The share registry active while compiling one aggregate's inputs —
    * a ThreadLocal instead of threading a parameter through every
    * recursive compile call; compileAgg (driver-side, single-threaded
    * per plan) sets and clears it around the input compiles only, so key
    * and predicate compiles never wrap. */
  private val activeShares = new ThreadLocal[ShareMap]

  private def maybeShare(e: Expression, node: DoubleCol): DoubleCol = {
    val shares = activeShares.get()
    if (shares == null) node
    else {
      val id = shares.shareId(e)
      if (id < 0) node else new SharedDoubleCol(id, node)
    }
  }

  /** Wraps a filled subtree: the first fill of a batch computes and
    * caches, every later fill of the same subtree in the same batch is
    * two arraycopies. Falls through untouched on the per-row path. */
  private final class SharedDoubleCol(id: Int, inner: DoubleCol)
      extends DoubleCol {
    def isNull(b: ColumnarBatch, i: Int) = inner.isNull(b, i)
    def get(b: ColumnarBatch, i: Int) = inner.get(b, i)
    override def fill(batch: ColumnarBatch, n: Int, out: Array[Double],
        nulls: Array[Boolean], s: Scratch): Unit = {
      val sf = s.sharedFills
      if (sf == null) inner.fill(batch, n, out, nulls, s)
      else if (!sf.fetch(id, n, out, nulls)) {
        inner.fill(batch, n, out, nulls, s)
        sf.store(id, n, out, nulls)
      }
    }
  }

  // ——— typed per-row column programs over a ColumnarBatch ———
  private[spark] sealed trait Col extends Serializable {
    def isNull(b: ColumnarBatch, i: Int): Boolean
  }
  private[spark] abstract class LongCol extends Col {
    def get(b: ColumnarBatch, i: Int): Long // defined only when !isNull
    /** Batch evaluation widened to double (the only cross-type edge the
      * double fill path needs: Cast(long→double)). Default: per-row. */
    def fillDouble(batch: ColumnarBatch, n: Int, out: Array[Double],
        nulls: Array[Boolean], s: Scratch): Unit = {
      var i = 0
      while (i < n) {
        val nu = isNull(batch, i)
        nulls(i) = nu
        out(i) = if (nu) 0d else get(batch, i).toDouble
        i += 1
      }
    }
  }
  private[spark] abstract class DoubleCol extends Col {
    def get(b: ColumnarBatch, i: Int): Double
    /** Batch evaluation into caller-owned buffers: out(i) is defined only
      * where !nulls(i) (null positions hold a 0d placeholder — callers
      * mask on nulls, and double arithmetic over placeholders cannot
      * throw). The default falls back to the per-row virtual path; leaf
      * and arithmetic nodes override it with tight monomorphic loops —
      * the per-row path pays one virtual-call CHAIN per row per node,
      * which honest forcing measured as the dominant term of wide
      * decimal aggregates (a1) once the hash side was fixed. */
    def fill(batch: ColumnarBatch, n: Int, out: Array[Double],
        nulls: Array[Boolean], s: Scratch): Unit = {
      var i = 0
      while (i < n) {
        val nu = isNull(batch, i)
        nulls(i) = nu
        out(i) = if (nu) 0d else get(batch, i)
        i += 1
      }
    }
  }
  private[spark] abstract class StringCol extends Col {
    def get(b: ColumnarBatch, i: Int): UTF8String
    /** The parquet DICTIONARY-ID vector when this column is served
      * dictionary-encoded in the current batch, else null. Only the leaf
      * scan column overrides this: Spark's vectorized reader keeps the
      * dictionary iff EVERY page decoded into the batch was
      * dictionary-encoded (a mid-chunk plain fallback decodes eagerly
      * and clears it), so a non-null return guarantees every row of the
      * batch resolves through `getDictId`. The kernel uses it to intern
      * a string key once per DISTINCT dictionary id per batch instead of
      * once per row (r15 — the per-row UTF8String materialize + hash was
      * the dominant term of a1's key path at the 100 M-row fixture). */
    def dictIds(b: ColumnarBatch)
        : org.apache.spark.sql.execution.vectorized.WritableColumnVector =
      null
  }

  /** Compile `e` (already substituted down to scan attributes) to a typed
    * column program, or None when outside the supported subset.
    *
    * CONTRACT — rows-beyond-filter evaluation (r15 advisor note): the
    * batch `fill`/`fillDouble` path evaluates the compiled tree for EVERY
    * row of the batch, including slot<0 (filtered-out) rows a per-row
    * evaluation would never touch. Every node admitted here must
    * therefore be THROW-FREE on arbitrary in-domain column values (nulls are
    * placeholder-0 and masked; double arithmetic never throws; division
    * is by non-zero literals only). A future node that can raise on data
    * (e.g. non-literal division under ANSI, overflow-checked casts) must
    * either stay out of this subset or override fill to skip unfiltered
    * rows. */
  private def compile(e: Expression, scanOut: Seq[Attribute]): Option[Col] = e match {
    case a: AttributeReference =>
      val ord = scanOut.indexWhere(_.exprId == a.exprId)
      if (ord < 0) None
      else a.dataType match {
        case LongType | TimestampType | TimestampNTZType => Some(new LongCol {
          def isNull(b: ColumnarBatch, i: Int) = b.column(ord).isNullAt(i)
          def get(b: ColumnarBatch, i: Int) = b.column(ord).getLong(i)
          override def fillDouble(batch: ColumnarBatch, n: Int,
              out: Array[Double], nulls: Array[Boolean], s: Scratch): Unit = {
            val v = batch.column(ord)
            var i = 0
            while (i < n) {
              val nu = v.isNullAt(i)
              nulls(i) = nu
              out(i) = if (nu) 0d else v.getLong(i).toDouble
              i += 1
            }
          }
        })
        case IntegerType | DateType => Some(new LongCol {
          def isNull(b: ColumnarBatch, i: Int) = b.column(ord).isNullAt(i)
          def get(b: ColumnarBatch, i: Int) = b.column(ord).getInt(i).toLong
          override def fillDouble(batch: ColumnarBatch, n: Int,
              out: Array[Double], nulls: Array[Boolean], s: Scratch): Unit = {
            val v = batch.column(ord)
            var i = 0
            while (i < n) {
              val nu = v.isNullAt(i)
              nulls(i) = nu
              out(i) = if (nu) 0d else v.getInt(i).toDouble
              i += 1
            }
          }
        })
        case DoubleType => Some(new DoubleCol {
          def isNull(b: ColumnarBatch, i: Int) = b.column(ord).isNullAt(i)
          def get(b: ColumnarBatch, i: Int) = b.column(ord).getDouble(i)
          override def fill(batch: ColumnarBatch, n: Int, out: Array[Double],
              nulls: Array[Boolean], s: Scratch): Unit = {
            val v = batch.column(ord)
            var i = 0
            while (i < n) {
              val nu = v.isNullAt(i)
              nulls(i) = nu
              out(i) = if (nu) 0d else v.getDouble(i)
              i += 1
            }
          }
        })
        case FloatType => Some(new DoubleCol {
          def isNull(b: ColumnarBatch, i: Int) = b.column(ord).isNullAt(i)
          def get(b: ColumnarBatch, i: Int) = b.column(ord).getFloat(i).toDouble
          override def fill(batch: ColumnarBatch, n: Int, out: Array[Double],
              nulls: Array[Boolean], s: Scratch): Unit = {
            val v = batch.column(ord)
            var i = 0
            while (i < n) {
              val nu = v.isNullAt(i)
              nulls(i) = nu
              out(i) = if (nu) 0d else v.getFloat(i).toDouble
              i += 1
            }
          }
        })
        case StringType => Some(new StringCol {
          def isNull(b: ColumnarBatch, i: Int) = b.column(ord).isNullAt(i)
          def get(b: ColumnarBatch, i: Int) = b.column(ord).getUTF8String(i)
          override def dictIds(b: ColumnarBatch)
              : org.apache.spark.sql.execution.vectorized.WritableColumnVector =
            b.column(ord) match {
              case w: org.apache.spark.sql.execution.vectorized.WritableColumnVector
                  if w.hasDictionary => w.getDictionaryIds
              case _ => null
            }
        })
        case _ => None
      }
    case Alias(child, _) => compile(child, scanOut)
    case Literal(v: Long, LongType) => Some(new LongCol {
      def isNull(b: ColumnarBatch, i: Int) = false
      def get(b: ColumnarBatch, i: Int) = v
      override def fillDouble(batch: ColumnarBatch, n: Int,
          out: Array[Double], nulls: Array[Boolean], s: Scratch): Unit = {
        java.util.Arrays.fill(out, 0, n, v.toDouble)
        java.util.Arrays.fill(nulls, 0, n, false)
      }
    })
    case Literal(v: Int, IntegerType) => Some(new LongCol {
      def isNull(b: ColumnarBatch, i: Int) = false
      def get(b: ColumnarBatch, i: Int) = v.toLong
      override def fillDouble(batch: ColumnarBatch, n: Int,
          out: Array[Double], nulls: Array[Boolean], s: Scratch): Unit = {
        java.util.Arrays.fill(out, 0, n, v.toDouble)
        java.util.Arrays.fill(nulls, 0, n, false)
      }
    })
    case Literal(v: Double, DoubleType) => Some(new DoubleCol {
      def isNull(b: ColumnarBatch, i: Int) = false
      def get(b: ColumnarBatch, i: Int) = v
      override def fill(batch: ColumnarBatch, n: Int, out: Array[Double],
          nulls: Array[Boolean], s: Scratch): Unit = {
        java.util.Arrays.fill(out, 0, n, v)
        java.util.Arrays.fill(nulls, 0, n, false)
      }
    })
    case d: IntegralDivide => (d.left.dataType, d.right) match {
      // den == -1 excluded: Long.MinValue div -1 overflows, where ANSI
      // stock throws and non-ANSI wraps — not worth modeling for a negate
      case (LongType | IntegerType, Literal(den: Long, LongType))
          if den != 0L && den != -1L =>
        compile(d.left, scanOut).collect { case le: LongCol => new LongCol {
          def isNull(b: ColumnarBatch, i: Int) = le.isNull(b, i)
          // Spark's `div` truncates toward zero (long division), NOT floor
          def get(b: ColumnarBatch, i: Int) = le.get(b, i) / den
        }}
      case _ => None
    }
    case m: MicrosToTimestamp => compile(m.child, scanOut) // µs passthrough
    case t: TruncTimestamp =>
      // hour/day truncation is local-time arithmetic; only compile under
      // the engine's pinned UTC session (minute/second are zone-safe but
      // the sessions are UTC anyway — keep one guard for all units)
      val width = t.format match {
        case Literal(s, StringType) if s != null =>
          s.toString.toLowerCase match {
            case "second" => Some(MicrosPerSecond)
            case "minute" => Some(MicrosPerMinute)
            case "hour" => Some(MicrosPerHour)
            case "day" | "dd" => Some(MicrosPerDay)
            case _ => None
          }
        case _ => None
      }
      (width, compile(t.timestamp, scanOut)) match {
        case (Some(w), Some(te: LongCol)) if utcZone(t.timeZoneId) =>
          Some(new LongCol {
            def isNull(b: ColumnarBatch, i: Int) = te.isNull(b, i)
            def get(b: ColumnarBatch, i: Int) = {
              val micros = te.get(b, i)
              micros - Math.floorMod(micros, w) // floors in time, like Spark
            }
          })
        case _ => None
      }
    case c: Cast => (c.child.dataType, c.dataType) match {
      case (IntegerType, LongType) => compile(c.child, scanOut)
      case (LongType | IntegerType, DoubleType) =>
        compile(c.child, scanOut).collect { case le: LongCol => new DoubleCol {
          def isNull(b: ColumnarBatch, i: Int) = le.isNull(b, i)
          def get(b: ColumnarBatch, i: Int) = le.get(b, i).toDouble
          override def fill(batch: ColumnarBatch, n: Int, out: Array[Double],
              nulls: Array[Boolean], s: Scratch): Unit =
            le.fillDouble(batch, n, out, nulls, s)
        }}
      case (FloatType, DoubleType) => compile(c.child, scanOut)
      // NTZ↔TZ reinterpretation is identity on the µs value exactly when
      // the cast's zone is UTC (the engine pins session UTC everywhere)
      case (TimestampNTZType, TimestampType) | (TimestampType, TimestampNTZType)
          if utcZone(c.timeZoneId) =>
        compile(c.child, scanOut)
      case _ => None
    }
    // double binary arithmetic (a1's sum inputs: price * (1 - discount)):
    // IEEE double ops are bit-exact in any engine, null propagates
    case m: Multiply if m.dataType == DoubleType =>
      (compile(m.left, scanOut), compile(m.right, scanOut)) match {
        case (Some(l: DoubleCol), Some(r: DoubleCol)) => Some(maybeShare(m, new DoubleCol {
          def isNull(b: ColumnarBatch, i: Int) = l.isNull(b, i) || r.isNull(b, i)
          def get(b: ColumnarBatch, i: Int) = l.get(b, i) * r.get(b, i)
          override def fill(batch: ColumnarBatch, n: Int, out: Array[Double],
              nulls: Array[Boolean], s: Scratch): Unit = {
            val ix = s.push(n)
            l.fill(batch, n, out, nulls, s)
            r.fill(batch, n, s.d(ix), s.b(ix), s)
            val o2 = s.d(ix); val n2 = s.b(ix)
            var i = 0
            while (i < n) {
              out(i) = out(i) * o2(i); nulls(i) = nulls(i) || n2(i); i += 1
            }
            s.pop()
          }
        }))
        case _ => None
      }
    case a: Add if a.dataType == DoubleType =>
      (compile(a.left, scanOut), compile(a.right, scanOut)) match {
        case (Some(l: DoubleCol), Some(r: DoubleCol)) => Some(maybeShare(a, new DoubleCol {
          def isNull(b: ColumnarBatch, i: Int) = l.isNull(b, i) || r.isNull(b, i)
          def get(b: ColumnarBatch, i: Int) = l.get(b, i) + r.get(b, i)
          override def fill(batch: ColumnarBatch, n: Int, out: Array[Double],
              nulls: Array[Boolean], s: Scratch): Unit = {
            val ix = s.push(n)
            l.fill(batch, n, out, nulls, s)
            r.fill(batch, n, s.d(ix), s.b(ix), s)
            val o2 = s.d(ix); val n2 = s.b(ix)
            var i = 0
            while (i < n) {
              out(i) = out(i) + o2(i); nulls(i) = nulls(i) || n2(i); i += 1
            }
            s.pop()
          }
        }))
        case _ => None
      }
    case sub: Subtract if sub.dataType == DoubleType =>
      (compile(sub.left, scanOut), compile(sub.right, scanOut)) match {
        case (Some(l: DoubleCol), Some(r: DoubleCol)) => Some(maybeShare(sub, new DoubleCol {
          def isNull(b: ColumnarBatch, i: Int) = l.isNull(b, i) || r.isNull(b, i)
          def get(b: ColumnarBatch, i: Int) = l.get(b, i) - r.get(b, i)
          override def fill(batch: ColumnarBatch, n: Int, out: Array[Double],
              nulls: Array[Boolean], s: Scratch): Unit = {
            val ix = s.push(n)
            l.fill(batch, n, out, nulls, s)
            r.fill(batch, n, s.d(ix), s.b(ix), s)
            val o2 = s.d(ix); val n2 = s.b(ix)
            var i = 0
            while (i < n) {
              out(i) = out(i) - o2(i); nulls(i) = nulls(i) || n2(i); i += 1
            }
            s.pop()
          }
        }))
        case _ => None
      }
    case Literal(v: Long, TimestampType | TimestampNTZType) =>
      Some(new LongCol {
        def isNull(b: ColumnarBatch, i: Int) = false
        def get(b: ColumnarBatch, i: Int) = v
      })
    case Literal(v: Int, DateType) => Some(new LongCol {
      def isNull(b: ColumnarBatch, i: Int) = false
      def get(b: ColumnarBatch, i: Int) = v.toLong
    })
    case Literal(v: UTF8String, StringType) => Some(new StringCol {
      def isNull(b: ColumnarBatch, i: Int) = false
      def get(b: ColumnarBatch, i: Int) = v
    })
    case _ => None
  }

  /** Compile a residual filter predicate to a 3-valued evaluator
    * (1 = TRUE, 0 = FALSE, -1 = NULL): the swapped exec keeps a row only
    * on TRUE — exactly FilterExec's semantics over the same residual
    * (parquet pushdown is best-effort; the residual re-check is the
    * correctness boundary in the stock plan too). */
  private def compilePred(e: Expression, scanOut: Seq[Attribute])
      : Option[(ColumnarBatch, Int) => Byte] = e match {
    case Literal(v, BooleanType) =>
      val r: Byte = if (v == null) -1 else if (v.asInstanceOf[Boolean]) 1 else 0
      Some((_, _) => r)
    case IsNotNull(child) => compile(child, scanOut).map { c => (b, i) =>
      if (c.isNull(b, i)) 0.toByte else 1.toByte
    }
    case IsNull(child) => compile(child, scanOut).map { c => (b, i) =>
      if (c.isNull(b, i)) 1.toByte else 0.toByte
    }
    case Not(child) => compilePred(child, scanOut).map { p => (b, i) =>
      p(b, i) match { case 1 => 0.toByte; case 0 => 1.toByte; case _ => (-1).toByte }
    }
    case And(l, r) =>
      (compilePred(l, scanOut), compilePred(r, scanOut)) match {
        case (Some(lp), Some(rp)) => Some { (b, i) =>
          val a = lp(b, i)
          if (a == 0) 0.toByte
          else { val c = rp(b, i)
            if (c == 0) 0.toByte else if (a == 1 && c == 1) 1.toByte
            else (-1).toByte }
        }
        case _ => None
      }
    case Or(l, r) =>
      (compilePred(l, scanOut), compilePred(r, scanOut)) match {
        case (Some(lp), Some(rp)) => Some { (b, i) =>
          val a = lp(b, i)
          if (a == 1) 1.toByte
          else { val c = rp(b, i)
            if (c == 1) 1.toByte else if (a == 0 && c == 0) 0.toByte
            else (-1).toByte }
        }
        case _ => None
      }
    case cmp: BinaryComparison =>
      val sign: Int => Boolean = cmp match {
        case _: EqualTo => _ == 0
        case _: LessThan => _ < 0
        case _: LessThanOrEqual => _ <= 0
        case _: GreaterThan => _ > 0
        case _: GreaterThanOrEqual => _ >= 0
        case _ => return None
      }
      (compile(cmp.left, scanOut), compile(cmp.right, scanOut)) match {
        case (Some(l: LongCol), Some(r: LongCol)) => Some { (b, i) =>
          if (l.isNull(b, i) || r.isNull(b, i)) (-1).toByte
          else if (sign(java.lang.Long.compare(l.get(b, i), r.get(b, i))))
            1.toByte else 0.toByte
        }
        case (Some(l: DoubleCol), Some(r: DoubleCol)) => Some { (b, i) =>
          if (l.isNull(b, i) || r.isNull(b, i)) (-1).toByte
          else if (sign(compareDoubles(l.get(b, i), r.get(b, i))))
            1.toByte else 0.toByte
        }
        case (Some(l: StringCol), Some(r: StringCol)) => Some { (b, i) =>
          if (l.isNull(b, i) || r.isNull(b, i)) (-1).toByte
          else if (sign(l.get(b, i).compareTo(r.get(b, i))))
            1.toByte else 0.toByte
        }
        case _ => None
      }
    case _ => None
  }

  // ——— group keys ———
  private[spark] sealed trait KeySpec extends Serializable
  /** emitInt: the grouping expression's dataType is int-width (Integer/
    * Date), so the buffer row must carry a boxed Int, not Long. */
  private[spark] final case class LongKey(col: LongCol, emitInt: Boolean)
    extends KeySpec
  private[spark] final case class StringKey(col: StringCol) extends KeySpec

  /** Dense group key: per-key long slots (string keys hold interned ids)
    * plus a null bitmask in the last slot. No boxing on probe. */
  private[spark] final class LKey(val vals: Array[Long]) extends Serializable {
    override def hashCode(): Int = java.util.Arrays.hashCode(vals)
    override def equals(o: Any): Boolean = o match {
      case k: LKey => java.util.Arrays.equals(vals, k.vals)
      case _ => false
    }
    def frozen: LKey = new LKey(java.util.Arrays.copyOf(vals, vals.length))
  }

  // ——— aggregate accumulators: SLOT-INDEXED, BATCH-AT-A-TIME ———
  // The first (per-row `accs(a).update(b, i)`) layout measured slower
  // than whole-stage codegen on wide aggregates: every row paid one
  // megamorphic virtual call per accumulator. This layout makes ONE
  // virtual call per accumulator per BATCH; each implementation then
  // runs a tight monomorphic loop over (row, slot) with its state in
  // slot-indexed parallel arrays — the Gluten/RAPIDS accumulator shape.
  private[spark] sealed trait Acc extends Serializable {
    /** Ensure state for group slots [0, n). New slots get INITIAL buffer
      * values (count 0, sum unseen/null, decimal isEmpty). */
    def grow(n: Int): Unit
    /** Fold rows [0, n) of the batch into their slots; slots(i) < 0
      * means the row was filtered out. */
    def updateBatch(b: ColumnarBatch, n: Int, slots: Array[Int]): Unit
    /** Write slot `slot`'s buffer column(s) into `row` at `off`. */
    def emit(slot: Int, row: GenericInternalRow, off: Int): Int
    /** Drop all slot state (memory-bound flush). */
    def reset(): Unit
  }
  private final class CountAcc(input: Option[Col]) extends Acc {
    private var ns = new Array[Long](0)
    def grow(n: Int): Unit =
      if (ns.length < n) ns = java.util.Arrays.copyOf(ns, math.max(n, ns.length * 2))
    def updateBatch(b: ColumnarBatch, n: Int, slots: Array[Int]): Unit =
      input match {
        case None =>
          var i = 0
          while (i < n) { val s = slots(i); if (s >= 0) ns(s) += 1; i += 1 }
        case Some(c) =>
          var i = 0
          while (i < n) {
            val s = slots(i)
            if (s >= 0 && !c.isNull(b, i)) ns(s) += 1
            i += 1
          }
      }
    def emit(slot: Int, row: GenericInternalRow, off: Int): Int = {
      row.update(off, ns(slot)); off + 1
    }
    def reset(): Unit = ns = new Array[Long](0)
  }
  private final class DoubleSumAcc(e: DoubleCol, sf: SharedFills)
      extends Acc {
    private var sums = new Array[Double](0)
    private var seen = new Array[Boolean](0)
    private val scratch = new Scratch(sf)
    private var vals = new Array[Double](0)
    private var vnulls = new Array[Boolean](0)
    def grow(n: Int): Unit = if (sums.length < n) {
      val c = math.max(n, sums.length * 2)
      sums = java.util.Arrays.copyOf(sums, c)
      seen = java.util.Arrays.copyOf(seen, c)
    }
    def updateBatch(b: ColumnarBatch, n: Int, slots: Array[Int]): Unit = {
      if (vals.length < n) {
        vals = new Array[Double](n); vnulls = new Array[Boolean](n)
      }
      e.fill(b, n, vals, vnulls, scratch)
      var i = 0
      while (i < n) {
        val s = slots(i)
        if (s >= 0 && !vnulls(i)) { sums(s) += vals(i); seen(s) = true }
        i += 1
      }
    }
    def emit(slot: Int, row: GenericInternalRow, off: Int): Int = {
      row.update(off,
        if (seen(slot)) java.lang.Double.valueOf(sums(slot)) else null)
      off + 1
    }
    def reset(): Unit = { sums = new Array[Double](0); seen = new Array[Boolean](0) }
  }
  private final class LongSumAcc(e: LongCol, ansi: Boolean) extends Acc {
    private var sums = new Array[Long](0)
    private var seen = new Array[Boolean](0)
    def grow(n: Int): Unit = if (sums.length < n) {
      val c = math.max(n, sums.length * 2)
      sums = java.util.Arrays.copyOf(sums, c)
      seen = java.util.Arrays.copyOf(seen, c)
    }
    def updateBatch(b: ColumnarBatch, n: Int, slots: Array[Int]): Unit = {
      var i = 0
      while (i < n) {
        val s = slots(i)
        if (s >= 0 && !e.isNull(b, i)) {
          // ANSI stock Sum THROWS on long overflow; non-ANSI wraps —
          // mirror whichever mode compiled this kernel. The error must
          // carry Spark's ARITHMETIC_OVERFLOW shape (error class +
          // try_add/ANSI hint), not addExact's bare ArithmeticException —
          // swapped and stock plans should fail identically
          if (ansi) sums(s) =
            try Math.addExact(sums(s), e.get(b, i))
            catch {
              case _: ArithmeticException =>
                throw org.apache.spark.sql.GraftShim
                  .arithmeticOverflow("long overflow", "try_add")
            }
          else sums(s) += e.get(b, i)
          seen(s) = true
        }
        i += 1
      }
    }
    def emit(slot: Int, row: GenericInternalRow, off: Int): Int = {
      row.update(off,
        if (seen(slot)) java.lang.Long.valueOf(sums(slot)) else null)
      off + 1
    }
    def reset(): Unit = { sums = new Array[Long](0); seen = new Array[Boolean](0) }
  }
  /** Average over a double input: buffer is Spark Average's
    * (sum: double, count: long) — the final agg computes the division. */
  private final class DoubleAvgAcc(e: DoubleCol, sf: SharedFills)
      extends Acc {
    private var sums = new Array[Double](0)
    private var ns = new Array[Long](0)
    private val scratch = new Scratch(sf)
    private var vals = new Array[Double](0)
    private var vnulls = new Array[Boolean](0)
    def grow(n: Int): Unit = if (sums.length < n) {
      val c = math.max(n, sums.length * 2)
      sums = java.util.Arrays.copyOf(sums, c)
      ns = java.util.Arrays.copyOf(ns, c)
    }
    def updateBatch(b: ColumnarBatch, n: Int, slots: Array[Int]): Unit = {
      if (vals.length < n) {
        vals = new Array[Double](n); vnulls = new Array[Boolean](n)
      }
      e.fill(b, n, vals, vnulls, scratch)
      var i = 0
      while (i < n) {
        val s = slots(i)
        if (s >= 0 && !vnulls(i)) { sums(s) += vals(i); ns(s) += 1 }
        i += 1
      }
    }
    def emit(slot: Int, row: GenericInternalRow, off: Int): Int = {
      row.update(off, sums(slot)) // Average's buffer sum initializes to 0.0
      row.update(off + 1, ns(slot))
      off + 2
    }
    def reset(): Unit = { sums = new Array[Double](0); ns = new Array[Long](0) }
  }
  private final class LongMinMaxAcc(e: LongCol, isMin: Boolean,
      emitInt: Boolean) extends Acc {
    private var cur = new Array[Long](0)
    private var seen = new Array[Boolean](0)
    def grow(n: Int): Unit = if (cur.length < n) {
      val c = math.max(n, cur.length * 2)
      cur = java.util.Arrays.copyOf(cur, c)
      seen = java.util.Arrays.copyOf(seen, c)
    }
    def updateBatch(b: ColumnarBatch, n: Int, slots: Array[Int]): Unit = {
      var i = 0
      while (i < n) {
        val s = slots(i)
        if (s >= 0 && !e.isNull(b, i)) {
          val v = e.get(b, i)
          if (!seen(s) || (if (isMin) v < cur(s) else v > cur(s))) cur(s) = v
          seen(s) = true
        }
        i += 1
      }
    }
    def emit(slot: Int, row: GenericInternalRow, off: Int): Int = {
      if (!seen(slot)) row.update(off, null)
      else if (emitInt) row.update(off, cur(slot).toInt)
      else row.update(off, cur(slot))
      off + 1
    }
    def reset(): Unit = { cur = new Array[Long](0); seen = new Array[Boolean](0) }
  }
  private final class DoubleMinMaxAcc(e: DoubleCol, isMin: Boolean)
      extends Acc {
    private var cur = new Array[Double](0)
    private var seen = new Array[Boolean](0)
    def grow(n: Int): Unit = if (cur.length < n) {
      val c = math.max(n, cur.length * 2)
      cur = java.util.Arrays.copyOf(cur, c)
      seen = java.util.Arrays.copyOf(seen, c)
    }
    def updateBatch(b: ColumnarBatch, n: Int, slots: Array[Int]): Unit = {
      var i = 0
      while (i < n) {
        val s = slots(i)
        if (s >= 0 && !e.isNull(b, i)) {
          val v = e.get(b, i)
          // compareDoubles: -0.0 == 0.0, NaN greatest — Spark's ordering
          if (!seen(s)) { cur(s) = v; seen(s) = true }
          else if (isMin) {
            if (compareDoubles(v, cur(s)) < 0) cur(s) = v
          } else if (compareDoubles(v, cur(s)) > 0) cur(s) = v
        }
        i += 1
      }
    }
    def emit(slot: Int, row: GenericInternalRow, off: Int): Int = {
      row.update(off,
        if (seen(slot)) java.lang.Double.valueOf(cur(slot)) else null)
      off + 1
    }
    def reset(): Unit = { cur = new Array[Double](0); seen = new Array[Boolean](0) }
  }
  private final class StringMinMaxAcc(e: StringCol, isMin: Boolean)
      extends Acc {
    private var cur = new Array[UTF8String](0)
    def grow(n: Int): Unit =
      if (cur.length < n) cur = java.util.Arrays.copyOf(cur, math.max(n, cur.length * 2))
    def updateBatch(b: ColumnarBatch, n: Int, slots: Array[Int]): Unit = {
      var i = 0
      while (i < n) {
        val s = slots(i)
        if (s >= 0 && !e.isNull(b, i)) {
          val v = e.get(b, i)
          if (cur(s) == null || (if (isMin) v.compareTo(cur(s)) < 0
            else v.compareTo(cur(s)) > 0)) cur(s) = v.clone()
        }
        i += 1
      }
    }
    def emit(slot: Int, row: GenericInternalRow, off: Int): Int = {
      row.update(off, cur(slot))
      off + 1
    }
    def reset(): Unit = cur = new Array[UTF8String](0)
  }

  /** Sum over Cast(double → decimal(p,s)): each input quantized with
    * SPARK'S cast semantics — HALF_UP rounding of the double's SHORTEST
    * DECIMAL REPRESENTATION (`BigDecimal.decimal(v)` goes through
    * `Double.toString`), not of its exact binary expansion; the two can
    * disagree exactly at a `…5` boundary at the target scale. The hot
    * path multiplies into an unscaled long (exact: away from a boundary,
    * every round-nearest agrees, and the double-multiply error — at most
    * ~2e-4 ulps-of-scale for |v|≤1e6 — cannot cross the 1e-3 guard band);
    * values inside the guard band take the exact string route. The
    * accumulator is an unscaled long (combine-order-proof, the repo's
    * dec6 convention) escalating to BigDecimal on overflow. Buffer is
    * Spark Sum-over-decimal's (sum: decimal, isEmpty: bool).
    *
    * Overflow mirrors the session's ANSI mode, captured at plan time
    * (Spark 4 defaults ANSI ON — a blanket ANSI bail would disable the
    * rule in every production session). Non-ANSI: an input whose
    * quantized value does not fit decimal(p,s) — including NaN/Inf — is
    * what Cast would null out, so Sum skips it (isEmpty untouched), and
    * a SUM that overflows decimal(p,s) goes null-and-stays-null
    * (CheckOverflowInSum's sticky null), emitted as (null,
    * isEmpty=false) so the final aggregate reports null. ANSI: both
    * cases THROW, exactly where the stock cast/sum would. */
  private final class DecimalSumAcc(e: DoubleCol, precision: Int, scale: Int,
      ansi: Boolean, sf: SharedFills) extends Acc {
    private val scratch = new Scratch(sf)
    private var vals = new Array[Double](0)
    private var vnulls = new Array[Boolean](0)
    private val factor = math.pow(10d, scale)
    // largest |unscaled long| that still fits `precision` digits
    private val maxInputUnscaled: Long =
      if (precision >= 19) Long.MaxValue
      else { var m = 1L; var i = 0; while (i < precision) { m *= 10; i += 1 }; m - 1 }
    private var unscaled = new Array[Long](0)
    private var bigs = new Array[java.math.BigDecimal](0) // escalation
    private var isEmpty = new Array[Boolean](0)
    private var over = new Array[Boolean](0) // sticky sum-overflow → null
    def grow(n: Int): Unit = if (unscaled.length < n) {
      val c = math.max(n, unscaled.length * 2)
      unscaled = java.util.Arrays.copyOf(unscaled, c)
      bigs = java.util.Arrays.copyOf(bigs, c)
      over = java.util.Arrays.copyOf(over, c)
      val old = isEmpty.length
      isEmpty = java.util.Arrays.copyOf(isEmpty, c)
      java.util.Arrays.fill(isEmpty, old, c, true)
    }
    private def overflow(what: String): Nothing =
      throw new ArithmeticException(
        s"$what cannot be represented as Decimal($precision, $scale). " +
          "If necessary set \"spark.sql.ansi.enabled\" to \"false\" to " +
          "bypass this error, and return NULL instead.")
    private def addBig(s: Int, v: java.math.BigDecimal): Unit = {
      bigs(s) = bigs(s).add(v)
      if (bigs(s).precision > precision) {
        if (ansi) overflow(bigs(s).toPlainString)
        over(s) = true // sticky null, like stock CheckOverflowInSum
      }
    }
    private def addUnscaled(s: Int, u: Long): Unit =
      if (bigs(s) == null) {
        try unscaled(s) = Math.addExact(unscaled(s), u)
        catch { case _: ArithmeticException =>
          bigs(s) = java.math.BigDecimal.valueOf(unscaled(s), scale)
          addBig(s, java.math.BigDecimal.valueOf(u, scale))
        }
      } else addBig(s, java.math.BigDecimal.valueOf(u, scale))
    // one input value into slot s: double → scaled-long (or exact
    // BigDecimal on a rounding boundary) with stock Cast/Sum semantics
    private def addValue(s: Int, d: Double): Unit = {
      // non-finite or precision-exceeding input: the stock Cast
      // throws under ANSI and yields null (Sum skips) otherwise
      if (!java.lang.Double.isFinite(d)) {
        if (ansi) overflow(d.toString)
      } else {
        val y = d * factor
        if (Math.abs(y) < 4.0e18) {
          val u = Math.round(y) // nearest == HALF_UP off-boundary
          // |y − u| = min(frac, 1−frac): < 0.499 ⟺ the old
          // |frac − 0.5| > 1e-3 guard band, with one round instead of a
          // floor + frac + round chain (r16 — this runs per value per
          // decimal sum, 4× per row on a1's 100 M-row ledger). A ±1-ulp
          // routing difference at the band edge only moves a value to the
          // exact slow path, never changes the quantized result.
          if (Math.abs(y - u.toDouble) < 0.499) {
            if (Math.abs(u) <= maxInputUnscaled) {
              isEmpty(s) = false
              addUnscaled(s, u)
            } else if (ansi) overflow(d.toString)
          } else addBoundary(s, d)
        } else addBoundary(s, d)
      }
    }
    // boundary or out-of-long range: exact Spark cast semantics
    private def addBoundary(s: Int, d: Double): Unit = {
      val exact = new java.math.BigDecimal(java.lang.Double.toString(d))
        .setScale(scale, java.math.RoundingMode.HALF_UP)
      if (exact.precision <= precision) {
        isEmpty(s) = false
        if (bigs(s) == null && exact.unscaledValue().bitLength() < 63)
          addUnscaled(s, exact.unscaledValue().longValue())
        else {
          if (bigs(s) == null)
            bigs(s) = java.math.BigDecimal.valueOf(unscaled(s), scale)
          addBig(s, exact)
        }
      } else if (ansi) overflow(d.toString)
    }
    def updateBatch(b: ColumnarBatch, n: Int, slots: Array[Int]): Unit = {
      if (vals.length < n) {
        vals = new Array[Double](n); vnulls = new Array[Boolean](n)
      }
      e.fill(b, n, vals, vnulls, scratch)
      var i = 0
      while (i < n) {
        val s = slots(i)
        if (s >= 0 && !vnulls(i) && !over(s)) addValue(s, vals(i))
        i += 1
      }
    }
    // largest |unscaled long| a p-digit sum may hold (Long.MaxValue when
    // p ≥ 19: the long path can then never exceed p digits)
    private val maxSumUnscaled: Long =
      if (precision >= 19) Long.MaxValue
      else { var m = 1L; var i = 0; while (i < precision) { m *= 10; i += 1 }; m - 1 }
    def emit(slot: Int, row: GenericInternalRow, off: Int): Int = {
      // emit is PER GROUP: a high-cardinality key (j10's l_orderkey at
      // sf10 = 15 M groups) pays this millions of times — the long fast
      // path must stay a plain range check + Decimal(long), no
      // BigDecimal boxing (an r12 review fix briefly boxed here and
      // doubled j10's wall)
      if (over(slot)) {
        if (ansi) overflow("the aggregated sum")
        row.update(off, null)
      } else if (bigs(slot) == null) {
        // Long.MinValue corner: Math.abs(MinValue) IS MinValue (negative),
        // which would pass the p<19 range check and then throw from
        // Decimal() even in non-ANSI mode, where stock emits a sticky null
        if (unscaled(slot) != Long.MinValue &&
            Math.abs(unscaled(slot)) <= maxSumUnscaled)
          row.update(off, Decimal(unscaled(slot), precision, scale))
        else { // p < 19 sums can exceed p digits without long overflow
          if (ansi) overflow(
            java.math.BigDecimal.valueOf(unscaled(slot), scale).toPlainString)
          row.update(off, null)
        }
      } else {
        // addBig already flagged `over` on precision overflow; reaching
        // here means the escalated sum fits
        row.update(off, Decimal(scala.math.BigDecimal(bigs(slot)), precision, scale))
      }
      row.update(off + 1, isEmpty(slot))
      off + 2
    }
    def reset(): Unit = {
      unscaled = new Array[Long](0)
      bigs = new Array[java.math.BigDecimal](0)
      isEmpty = new Array[Boolean](0)
      over = new Array[Boolean](0)
    }
  }

  private[spark] final case class Kernel(keys: Array[KeySpec],
    accFactory: SharedFills => Array[Acc],
    pred: Option[(ColumnarBatch, Int) => Byte],
    nShared: Int) extends Serializable

  /** Open-addressed long → slot map (linear probing, power-of-two
    * capacity, 0.7 load): the probe path for the dominant
    * single-long-group-key shape. The generic path's
    * HashMap[LKey, Integer] allocates a boxed Integer + hashes a long[]
    * per NEW group and per-row boxes on probe — fine at t1's hundreds of
    * groups, a 2× whole-query loss on j10's 15 M (measured r12, sf10:
    * swapped 2.0–3.2 s vs stock 1.0 s before this map; at-or-below
    * stock after). Zero allocation per row and per group. */
  private[spark] final class LongToSlot(initCap: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initCap) - 1) << 1
    private var ks = new Array[Long](cap)
    private var vs = new Array[Int](cap)
    java.util.Arrays.fill(vs, -1)
    private var n = 0
    private def mix(k: Long): Int = {
      var z = k * -0x61c8864680b583ebL // fibonacci scramble
      z ^= (z >>> 31)
      z.toInt
    }
    def clear(): Unit = { java.util.Arrays.fill(vs, -1); n = 0 }
    private def grow(): Unit = {
      val oldK = ks; val oldV = vs
      cap <<= 1
      ks = new Array[Long](cap)
      vs = new Array[Int](cap)
      java.util.Arrays.fill(vs, -1)
      var i = 0
      while (i < oldK.length) {
        if (oldV(i) != -1) {
          var idx = mix(oldK(i)) & (cap - 1)
          while (vs(idx) != -1) idx = (idx + 1) & (cap - 1)
          ks(idx) = oldK(i); vs(idx) = oldV(i)
        }
        i += 1
      }
    }
    /** Slot for `k`, inserting `next` if absent (returns `next` then). */
    def getOrInsert(k: Long, next: Int): Int = {
      var idx = mix(k) & (cap - 1)
      while (true) {
        val v = vs(idx)
        if (v == -1) {
          ks(idx) = k; vs(idx) = next; n += 1
          if (n.toLong * 10 > cap.toLong * 7) grow()
          return next
        }
        if (ks(idx) == k) return v
        idx = (idx + 1) & (cap - 1)
      }
      -1 // unreachable
    }
  }

  /** Open-addressed (long, long) → slot map — [[LongToSlot]]'s shape for
    * the r16 two-word packed composite key (4–6 grouping keys: 63 bits is
    * too tight for 4+ id fields, so the fields split across two words).
    * Same linear probing / power-of-two / 0.7-load discipline; zero
    * allocation per row and per group. */
  private[spark] final class Long2ToSlot(initCap: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initCap) - 1) << 1
    private var k1s = new Array[Long](cap)
    private var k2s = new Array[Long](cap)
    private var vs = new Array[Int](cap)
    java.util.Arrays.fill(vs, -1)
    private var n = 0
    private def mix(k1: Long, k2: Long): Int = {
      var z = k1 * -0x61c8864680b583ebL
      z ^= (z >>> 31)
      z = (z ^ k2) * -0x61c8864680b583ebL
      z ^= (z >>> 31)
      z.toInt
    }
    def clear(): Unit = { java.util.Arrays.fill(vs, -1); n = 0 }
    private def grow(): Unit = {
      val o1 = k1s; val o2 = k2s; val ov = vs
      cap <<= 1
      k1s = new Array[Long](cap)
      k2s = new Array[Long](cap)
      vs = new Array[Int](cap)
      java.util.Arrays.fill(vs, -1)
      var i = 0
      while (i < o1.length) {
        if (ov(i) != -1) {
          var idx = mix(o1(i), o2(i)) & (cap - 1)
          while (vs(idx) != -1) idx = (idx + 1) & (cap - 1)
          k1s(idx) = o1(i); k2s(idx) = o2(i); vs(idx) = ov(i)
        }
        i += 1
      }
    }
    def getOrInsert(k1: Long, k2: Long, next: Int): Int = {
      var idx = mix(k1, k2) & (cap - 1)
      while (true) {
        val v = vs(idx)
        if (v == -1) {
          k1s(idx) = k1; k2s(idx) = k2; vs(idx) = next; n += 1
          if (n.toLong * 10 > cap.toLong * 7) grow()
          return next
        }
        if (k1s(idx) == k1 && k2s(idx) == k2) return v
        idx = (idx + 1) & (cap - 1)
      }
      -1 // unreachable
    }
  }

  /** Plan-time compilation of the whole match, or None to leave the plan
    * untouched. */
  def compileAgg(agg: HashAggregateExec, scan: FileSourceScanExec,
      project: Option[Seq[NamedExpression]],
      filter: Option[Expression] = None): Option[Kernel] = {
    // ANSI changes overflow behavior in the sum kernels (Spark 4 defaults
    // it ON, so bailing here would disable the rule in every production
    // session): capture the mode at plan time and let LongSumAcc /
    // DecimalSumAcc mirror the matching stock semantics — throw under
    // ANSI exactly where stock cast/sum would, null/wrap otherwise
    val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    // the residual filter sits BELOW the project, so its attributes are
    // scan attributes directly — no alias substitution needed
    val predEval = filter.map(f => compilePred(f, scan.output))
    if (predEval.exists(_.isEmpty)) return None
    val scanOut = scan.output
    // fold the fused Project into the aggregate's expressions
    val aliasMap: Map[Long, Expression] = project match {
      case None => Map.empty
      case Some(pl) => pl.map {
        case a: Alias => a.exprId.id -> a.child
        case a: Attribute => a.exprId.id -> a
      }.toMap
    }
    def subst(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if aliasMap.contains(a.exprId.id) =>
        aliasMap(a.exprId.id)
    }
    val keySpecs: Seq[Option[KeySpec]] = agg.groupingExpressions.map { g =>
      compile(subst(g), scanOut).flatMap {
        case lc: LongCol => g.dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            Some(LongKey(lc, emitInt = false))
          case IntegerType | DateType => Some(LongKey(lc, emitInt = true))
          case _ => None
        }
        case sc: StringCol => Some(StringKey(sc))
        case _ => None // double keys: rare, and bit-pattern care — bail
      }
    }
    if (keySpecs.exists(_.isEmpty)) return None
    // shared-subexpression registry (r16): double arithmetic subtrees
    // appearing in 2+ batch-filled aggregate inputs (a1: price*(1-disc)
    // feeds both the disc and charge sums) are computed once per batch
    // and served from SharedFills thereafter
    val shares = new ShareMap
    agg.aggregateExpressions.foreach { ae =>
      val filled: Option[Expression] = ae.aggregateFunction match {
        case s: Sum => Some(subst(s.child) match {
          case Cast(inner, _, _, _) if inner.dataType == DoubleType => inner
          case e => e
        })
        case av: Average => Some(subst(av.child))
        case _ => None
      }
      filled.foreach(_.foreach {
        case m @ (_: Multiply | _: Add | _: Subtract)
            if m.dataType == DoubleType => shares.bump(m)
        case _ => ()
      })
    }
    activeShares.set(shares)
    val accFactories: Seq[Option[SharedFills => Acc]] =
      try agg.aggregateExpressions.map { ae =>
        if (ae.mode != Partial || ae.isDistinct || ae.filter.isDefined) None
        else ae.aggregateFunction match {
          case c: Count => c.children match {
            case Seq(Literal(v, _)) if v != null =>
              Some((_: SharedFills) => new CountAcc(None))
            case Seq(one) => compile(subst(one), scanOut)
              .map(col => (_: SharedFills) => new CountAcc(Some(col)))
            case _ => None
          }
          case s: Sum => (s.child.dataType, subst(s.child)) match {
            case (dt: DecimalType, Cast(inner, _, _, _))
                if inner.dataType == DoubleType =>
              // the buffer contract must be (sum: decimal, isEmpty: bool)
              val bufOk = s.aggBufferAttributes.map(_.dataType) ==
                Seq(DecimalType(dt.precision, dt.scale), BooleanType)
              compile(inner, scanOut).collect {
                case dc: DoubleCol if bufOk =>
                  (sf: SharedFills) =>
                    new DecimalSumAcc(dc, dt.precision, dt.scale, ansi, sf)
              }
            case (DoubleType, se) => compile(se, scanOut).collect {
              case dc: DoubleCol
                  if s.aggBufferAttributes.map(_.dataType) == Seq(DoubleType) =>
                (sf: SharedFills) => new DoubleSumAcc(dc, sf)
            }
            case (LongType, se) => compile(se, scanOut).collect {
              case lc: LongCol
                  if s.aggBufferAttributes.map(_.dataType) == Seq(LongType) =>
                (_: SharedFills) => new LongSumAcc(lc, ansi)
            }
            case _ => None
          }
          case av: Average if av.child.dataType == DoubleType &&
              av.aggBufferAttributes.map(_.dataType) ==
                Seq(DoubleType, LongType) =>
            compile(subst(av.child), scanOut).collect {
              case dc: DoubleCol =>
                (sf: SharedFills) => new DoubleAvgAcc(dc, sf)
            }
          case mm @ (_: Min | _: Max) =>
            val isMin = mm.isInstanceOf[Min]
            val child = mm.children.head
            val bufOk = mm.aggBufferAttributes.map(_.dataType) ==
              Seq(child.dataType)
            if (!bufOk) None
            else compile(subst(child), scanOut).flatMap {
              case lc: LongCol => child.dataType match {
                case LongType | TimestampType | TimestampNTZType =>
                  Some((_: SharedFills) => new LongMinMaxAcc(lc, isMin, emitInt = false))
                case IntegerType | DateType =>
                  Some((_: SharedFills) => new LongMinMaxAcc(lc, isMin, emitInt = true))
                case _ => None
              }
              case dc: DoubleCol if child.dataType == DoubleType =>
                Some((_: SharedFills) => new DoubleMinMaxAcc(dc, isMin))
              case sc: StringCol =>
                Some((_: SharedFills) => new StringMinMaxAcc(sc, isMin))
              case _ => None
            }
          case _ => None
        }
      } finally activeShares.remove()
    if (accFactories.exists(_.isEmpty)) return None
    // partial output must be exactly the grouping attributes followed by
    // the aggregate buffer attributes, exprId-wise in order — a same-length
    // but reordered/aliased resultExpressions list must bail, not emit
    // misattributed buffer columns. Spark's planner emits the
    // inputAggBufferAttributes (the shuffle-facing twins of the buffer
    // attrs) in partial mode; accept either id set, position-wise.
    val expectedBufs: Seq[(Attribute, Attribute)] =
      agg.aggregateExpressions.flatMap { ae =>
        ae.aggregateFunction.aggBufferAttributes
          .zip(ae.aggregateFunction.inputAggBufferAttributes)
      }
    val nGroup = agg.groupingExpressions.length
    if (agg.output.length != nGroup + expectedBufs.length) return None
    val groupOk = agg.output.take(nGroup)
      .lazyZip(agg.groupingExpressions.map(_.toAttribute))
      .forall((a, b) => a.exprId == b.exprId)
    val bufOk = agg.output.drop(nGroup).lazyZip(expectedBufs)
      .forall((a, bp) => a.exprId == bp._1.exprId || a.exprId == bp._2.exprId)
    if (!groupOk || !bufOk) return None
    val factories = accFactories.map(_.get).toArray
    Some(Kernel(keySpecs.map(_.get).toArray,
      (sf: SharedFills) => factories.map(_(sf)),
      predEval.map(_.get), shares.n))
  }
}

/** The swapped-in physical node. Holds the scan as a private member (not
  * a plan child): no ColumnarToRow transition is ever inserted, and the
  * node's OUTPUT is the original partial HashAggregate's attributes, so
  * the exchange and final aggregate above resolve unchanged. */
case class ColumnarPartialAggExec(
    output: Seq[Attribute],
    scan: FileSourceScanExec,
    groupingExprs: Seq[NamedExpression],
    aggExprs: Seq[AggregateExpression],
    projectList: Option[Seq[NamedExpression]],
    filterCond: Option[Expression])
    extends LeafExecNode {
  import ColumnarPartialAgg._

  override def nodeName: String = "GraftColumnarPartialAgg"
  override def stringArgs: Iterator[Any] =
    Iterator(groupingExprs, aggExprs, scan.simpleString(60))

  override protected def doExecute(): RDD[InternalRow] = {
    // compile on the driver (bail already ruled out None at plan time)
    val kernel = compileAgg(
      HashAggregateExec(None, isStreaming = false, None, groupingExprs,
        aggExprs, aggExprs.map(_.resultAttribute), 0, output, scan),
      scan, projectList, filterCond)
      .getOrElse(throw new IllegalStateException(
        "ColumnarPartialAggExec planned over an uncompilable shape"))
    val outTypes = output.map(_.dataType)
    val nKeys = kernel.keys.length
    // memory bound (100 TB safety): stock partial HashAggregate spills
    // under pressure; this exec instead FLUSHES the group map as partial
    // rows and resets whenever it reaches maxGroups — partial aggregation
    // tolerates duplicate keys across emitted rows (the final aggregate
    // merges them), so a high-cardinality key degrades smoothly toward
    // pass-through instead of OOMing
    val maxGroups = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.columnarAgg.maxGroups", "1048576").toInt
    // packed-field id headroom (r15 advisor note): between two post-batch
    // flush checks a batch can add at most batch-size new per-key ids
    // beyond the live group count, so the headroom reserved below the
    // pack-field capacity must dominate the CONFIGURED reader batch size —
    // spark.sql.parquet.columnarReaderBatchSize is user-settable above the
    // old fixed 1<<17. Captured on the driver with the other plan confs.
    val idHeadroom = math.max(1 << 17,
      org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.sql.parquet.columnarReaderBatchSize", "4096")
        .toInt + 1)
    scan.executeColumnar().mapPartitions { batches =>
      val keys = kernel.keys
      // slot assignment: LKey → dense slot id; accumulator state lives in
      // slot-indexed parallel arrays inside each Acc (batch-at-a-time
      // updates, one virtual call per acc per batch)
      val slotMap = new java.util.HashMap[LKey, Integer]()
      val slotKeys = new scala.collection.mutable.ArrayBuffer[LKey]()
      // one shared-fill cache per partition, generation-bumped per batch
      val sharedFills = new SharedFills(kernel.nShared)
      val accs = kernel.accFactory(sharedFills)
      var slots = new Array[Int](8192)
      val probe = new LKey(new Array[Long](nKeys + 1)) // last slot: null bits
      // single-long-key fast path: primitive open-addressed probes (the
      // boxed map is a measured 2× whole-query loss at 15 M groups)
      val fastKey: LongCol = keys match {
        case Array(LongKey(c0, _)) => c0
        case _ => null
      }
      val fastMap = if (fastKey != null) new LongToSlot(8192) else null
      var nullSlotId = -1 // the single null-key group's slot (fast path)
      // fast-path group keys live in a primitive growing array — zero
      // object allocation per group (an LKey + buffer entry per group
      // showed up as first-run GC spikes at j10's 15 M groups)
      var fastKeys = if (fastMap != null) new Array[Long](8192) else null
      var fastN = 0
      val fastEmitInt = keys match {
        case Array(LongKey(_, ei)) => ei
        case _ => false
      }
      // PACKED composite path (r15): for 1–3 keys (the single-LongKey
      // shape keeps its own fast path), every key's value is interned to
      // a dense per-key id (strings via the intern table — resolved once
      // per distinct DICTIONARY id per batch when the column arrives
      // dictionary-encoded; longs via a primitive LongToSlot), the ids
      // packed into one long (field 0 = null), and the composite probed
      // through LongToSlot. Replaces the legacy per-row path's boxed
      // HashMap<LKey> probe + per-row UTF8String materialize/hash —
      // measured at the 100 M-row fixture as the dominant term above the
      // decode floor for a1 (0.57 s of 1.45 s) and t1 (0.5 s of 0.88 s).
      // Exactness: per-key ids never exceed the live composite count, and
      // the flush threshold is capped below the field capacity (minus one
      // max batch of headroom), so a field can never overflow. 4-6 keys
      // (r16) pack into TWO words probed through Long2ToSlot — 63 bits is
      // too tight for 4+ fields (the r15 cardinality cliff); the legacy
      // boxed-LKey path remains only past 6 keys.
      // feasibility gate (r16 advisor note): at 5-6 keys fieldBits=21
      // gives ~2M of field capacity — a columnarReaderBatchSize configured
      // above that would make the per-batch headroom unsatisfiable
      // (packedCap negative, the runtime guard throwing on a query stock
      // Spark runs fine). Such shapes take the legacy boxed-LKey path
      // instead of relying on a runtime throw.
      val packedFeasible = nKeys >= 1 && nKeys <= 6 && {
        val hk = if (nKeys > 3) (nKeys + 1) / 2 else nKeys
        val fb = 63 / hk
        fb >= 31 || idHeadroom < (1 << fb)
      }
      val packedMode = fastMap == null && packedFeasible
      val packedWide = packedMode && nKeys > 3 // two-word pack
      val halfKeys = if (packedWide) (nKeys + 1) / 2 else nKeys
      val fieldBits = if (packedMode) 63 / halfKeys else 1
      val fieldMask = (1L << fieldBits) - 1 // fieldBits=63: Long.MaxValue
      val packedCap: Int =
        if (!packedMode) Int.MaxValue
        else if (fieldBits >= 31) Int.MaxValue - idHeadroom
        else (1 << fieldBits) - idHeadroom
      val packMap = if (packedMode && !packedWide) new LongToSlot(8192) else null
      val packMap2 = if (packedWide) new Long2ToSlot(8192) else null
      var packKeys = if (packedMode) new Array[Long](8192) else null
      var packKeys2 = if (packedWide) new Array[Long](8192) else null
      var packN = 0
      val keyValMaps: Array[LongToSlot] = keys.map {
        case LongKey(_, _) if packedMode => new LongToSlot(1024)
        case _ => null
      }
      val keyVals: Array[Array[Long]] = keys.map {
        case LongKey(_, _) if packedMode => new Array[Long](1024)
        case _ => null
      }
      val keyValN = new Array[Int](nKeys)
      // per-batch dictionary-id → intern-id+1 memo, generation-stamped so
      // a new batch (possibly a new row group's dictionary) invalidates
      // without clearing
      val dictMemo = new Array[Array[Int]](nKeys)
      val dictMemoGen = new Array[Array[Int]](nKeys)
      var batchGen = 0
      def numGroups: Int =
        if (fastMap != null) fastN
        else if (packedMode) packN
        else slotKeys.length
      // per string-key interning (dense ids; UTF8Strings cloned once per
      // flush window; tables reset WITH the accumulators at each
      // memory-bound flush so per-task memory stays O(maxGroups), not
      // O(distinct strings in the split))
      val interns = keys.map {
        case StringKey(_) => new java.util.HashMap[UTF8String, Integer]()
        case _ => null
      }
      val names = keys.map {
        case StringKey(_) => new scala.collection.mutable.ArrayBuffer[UTF8String]()
        case _ => null
      }
      val proj = UnsafeProjection.create(outTypes.toArray)
      // ONE reused row pair for the whole partition: every emit writes
      // every field, and the parent is always the partial→final exchange,
      // which serializes each row before pulling the next — the same
      // buffer-reuse contract stock codegen operators rely on. At j10's
      // 15 M groups a per-group GenericInternalRow + UnsafeRow copy() was
      // a measured ~30% of the swapped wall.
      val reusedRow = new GenericInternalRow(output.length)
      def emitAll(ks: IndexedSeq[LKey]): Iterator[InternalRow] =
        ks.indices.iterator.map { slot =>
          val row = reusedRow
          val kv = ks(slot).vals
          val bits = kv(nKeys)
          var k = 0
          while (k < nKeys) {
            if ((bits & (1L << k)) != 0L) row.update(k, null)
            else keys(k) match {
              case LongKey(_, emitInt) =>
                if (emitInt) row.update(k, kv(k).toInt)
                else row.update(k, kv(k))
              case StringKey(_) =>
                row.update(k, names(k)(kv(k).toInt))
            }
            k += 1
          }
          var off = nKeys
          var a = 0
          while (a < accs.length) { off = accs(a).emit(slot, row, off); a += 1 }
          proj(row): InternalRow
        }
      def emitAllFast(ks: Array[Long], n: Int, nullSlot: Int)
          : Iterator[InternalRow] =
        Iterator.range(0, n).map { slot =>
          val row = reusedRow
          if (slot == nullSlot) row.update(0, null)
          else if (fastEmitInt) row.update(0, ks(slot).toInt)
          else row.update(0, ks(slot))
          var off = 1
          var a = 0
          while (a < accs.length) { off = accs(a).emit(slot, row, off); a += 1 }
          proj(row): InternalRow
        }
      def emitAllPacked(ks: Array[Long], ks2: Array[Long], n: Int)
          : Iterator[InternalRow] =
        Iterator.range(0, n).map { slot =>
          val row = reusedRow
          val pk = ks(slot)
          val pk2 = if (ks2 == null) 0L else ks2(slot)
          var k = 0
          while (k < nKeys) {
            val field =
              if (k < halfKeys) (pk >>> (k * fieldBits)) & fieldMask
              else (pk2 >>> ((k - halfKeys) * fieldBits)) & fieldMask
            if (field == 0L) row.update(k, null)
            else keys(k) match {
              case LongKey(_, emitInt) =>
                val v = keyVals(k)((field - 1).toInt)
                if (emitInt) row.update(k, v.toInt) else row.update(k, v)
              case StringKey(_) =>
                row.update(k, names(k)((field - 1).toInt))
            }
            k += 1
          }
          var off = nKeys
          var a = 0
          while (a < accs.length) { off = accs(a).emit(slot, row, off); a += 1 }
          proj(row): InternalRow
        }
      def flush(): Iterator[InternalRow] = {
        // snapshot the emit inputs (the iterators are lazy), THEN reset
        // the live structures; accs reset AFTER the iterator drains —
        // see pump()
        if (fastMap != null) {
          val ksnap = java.util.Arrays.copyOf(fastKeys, fastN)
          val out = emitAllFast(ksnap, fastN, nullSlotId)
          fastMap.clear(); fastN = 0; nullSlotId = -1
          out
        } else if (packedMode) {
          // per-key value tables (keyVals/names/interns) stay live until
          // the iterator drains — they reset with the accumulators
          val ksnap = java.util.Arrays.copyOf(packKeys, packN)
          val ksnap2 =
            if (packedWide) java.util.Arrays.copyOf(packKeys2, packN) else null
          val out = emitAllPacked(ksnap, ksnap2, packN)
          if (packedWide) packMap2.clear() else packMap.clear()
          packN = 0
          out
        } else {
          val ks = slotKeys.toIndexedSeq
          val out = emitAll(ks)
          slotMap.clear(); slotKeys.clear()
          out
        }
      }
      val pred = kernel.pred.orNull
      def internString(k: Int, s: UTF8String): Int = {
        var id = interns(k).get(s)
        if (id == null) {
          id = Integer.valueOf(names(k).length)
          val copy = s.clone()
          interns(k).put(copy, id)
          names(k) += copy
        }
        id.intValue()
      }
      // COLUMN-AT-A-TIME key resolution: one virtual dispatch per key per
      // batch, tight monomorphic per-key loops filling (id+1 | 0=null)
      // field buffers, then one combine+probe loop. Pred is evaluated
      // FIRST so filtered rows never intern (keeps the ids ≤ live-groups
      // invariant packedCap relies on, and skips work under selective
      // filters).
      var fieldBufs = Array.fill(nKeys)(new Array[Long](8192))
      var predBuf = new Array[Byte](8192)
      def fillLongKey(k: Int, col: LongCol, batch: ColumnarBatch, n: Int,
          havePred: Boolean): Unit = {
        val fb = fieldBufs(k)
        val m = keyValMaps(k)
        var i = 0
        while (i < n) {
          if ((havePred && predBuf(i) != 1) || col.isNull(batch, i)) fb(i) = 0L
          else {
            val v = col.get(batch, i)
            val id = m.getOrInsert(v, keyValN(k))
            if (id == keyValN(k)) {
              if (id == keyVals(k).length)
                keyVals(k) = java.util.Arrays.copyOf(keyVals(k), id * 2)
              keyVals(k)(id) = v
              keyValN(k) += 1
            }
            fb(i) = (id + 1).toLong
          }
          i += 1
        }
      }
      def fillStringKey(k: Int, col: StringCol, batch: ColumnarBatch, n: Int,
          havePred: Boolean): Unit = {
        val fb = fieldBufs(k)
        val dv = col.dictIds(batch)
        var i = 0
        while (i < n) {
          if ((havePred && predBuf(i) != 1) || col.isNull(batch, i)) fb(i) = 0L
          else {
            val did = if (dv == null) -1 else dv.getDictId(i)
            if (did >= 0 && did < (1 << 22)) {
              var memo = dictMemo(k)
              if (memo == null || memo.length <= did) {
                val nc = math.max(1024,
                  Integer.highestOneBit(math.max(did, 1)) << 2)
                dictMemo(k) = java.util.Arrays.copyOf(
                  if (memo == null) new Array[Int](0) else memo, nc)
                dictMemoGen(k) = java.util.Arrays.copyOf(
                  if (dictMemoGen(k) == null) new Array[Int](0)
                  else dictMemoGen(k), nc)
                memo = dictMemo(k)
              }
              if (dictMemoGen(k)(did) == batchGen) fb(i) = memo(did).toLong
              else {
                val id = internString(k, col.get(batch, i))
                dictMemoGen(k)(did) = batchGen
                memo(did) = id + 1
                fb(i) = (id + 1).toLong
              }
            } else fb(i) = (internString(k, col.get(batch, i)) + 1).toLong
          }
          i += 1
        }
      }
      def consumePacked(batch: ColumnarBatch): Unit = {
        batchGen += 1
        val n = batch.numRows()
        // hard overflow guard (r15 advisor note): transient per-key ids
        // this batch cannot exceed live-groups + n, and every emitted
        // field is id+1 — if that bound could reach past fieldMask,
        // distinct groups would silently fold together. packedCap's
        // conf-derived headroom makes this unreachable; the assert turns
        // a future invariant break into a loud error, not wrong results.
        // max per-key id this batch <= packN_pre + n - 1, so the max
        // emitted field (id+1) is packN + n — representable iff
        // packN + n <= fieldMask (exact bound, r16 advisor relaxation)
        if (packN.toLong + n.toLong > fieldMask)
          throw new IllegalStateException(
            s"graft.ColumnarPartialAgg: packed-key id space exhausted " +
              s"(live=$packN, batch=$n, fieldBits=$fieldBits) — raise " +
              "headroom vs spark.sql.parquet.columnarReaderBatchSize")
        if (slots.length < n) slots = new Array[Int](n)
        if (predBuf.length < n) predBuf = new Array[Byte](n)
        if (fieldBufs(0).length < n)
          fieldBufs = Array.fill(nKeys)(new Array[Long](n))
        val havePred = pred != null
        if (havePred) {
          var i = 0
          while (i < n) { predBuf(i) = pred(batch, i); i += 1 }
        }
        var k = 0
        while (k < nKeys) {
          keys(k) match {
            case LongKey(col, _) => fillLongKey(k, col, batch, n, havePred)
            case StringKey(col) => fillStringKey(k, col, batch, n, havePred)
          }
          k += 1
        }
        if (packedWide) {
          // two-word combine: fields 0..halfKeys-1 in word 1, rest in 2
          var i = 0
          while (i < n) {
            if (havePred && predBuf(i) != 1) slots(i) = -1
            else {
              var pk1 = 0L
              var k = 0
              while (k < halfKeys) { pk1 |= fieldBufs(k)(i) << (k * fieldBits); k += 1 }
              var pk2 = 0L
              while (k < nKeys) {
                pk2 |= fieldBufs(k)(i) << ((k - halfKeys) * fieldBits); k += 1
              }
              val s = packMap2.getOrInsert(pk1, pk2, packN)
              if (s == packN) {
                if (packN == packKeys.length) {
                  packKeys = java.util.Arrays.copyOf(packKeys, packN * 2)
                  packKeys2 = java.util.Arrays.copyOf(packKeys2, packN * 2)
                }
                packKeys(packN) = pk1
                packKeys2(packN) = pk2
                packN += 1
              }
              slots(i) = s
            }
            i += 1
          }
        } else {
        val fb0 = fieldBufs(0)
        val fb1 = if (nKeys > 1) fieldBufs(1) else null
        val fb2 = if (nKeys > 2) fieldBufs(2) else null
        var i = 0
        while (i < n) {
          if (havePred && predBuf(i) != 1) slots(i) = -1
          else {
            var pk = fb0(i)
            if (fb1 != null) pk |= fb1(i) << fieldBits
            if (fb2 != null) pk |= fb2(i) << (2 * fieldBits)
            val s = packMap.getOrInsert(pk, packN)
            if (s == packN) {
              if (packN == packKeys.length)
                packKeys = java.util.Arrays.copyOf(packKeys, packN * 2)
              packKeys(packN) = pk
              packN += 1
            }
            slots(i) = s
          }
          i += 1
        }
        }
        val nSlots = packN
        var a = 0
        while (a < accs.length) {
          accs(a).grow(nSlots)
          accs(a).updateBatch(batch, n, slots)
          a += 1
        }
      }
      def consume(batch: ColumnarBatch): Unit = {
        sharedFills.newBatch()
        if (packedMode) { consumePacked(batch); return }
        val n = batch.numRows()
        if (slots.length < n) slots = new Array[Int](n)
        var i = 0
        if (fastMap != null) {
          while (i < n) {
            if (pred != null && pred(batch, i) != 1) slots(i) = -1
            else if (fastKey.isNull(batch, i)) {
              if (nullSlotId < 0) {
                nullSlotId = fastN
                if (fastN == fastKeys.length)
                  fastKeys = java.util.Arrays.copyOf(fastKeys, fastN * 2)
                fastKeys(fastN) = 0L
                fastN += 1
              }
              slots(i) = nullSlotId
            } else {
              val k = fastKey.get(batch, i)
              val s = fastMap.getOrInsert(k, fastN)
              if (s == fastN) { // new group: record its key for emit
                if (fastN == fastKeys.length)
                  fastKeys = java.util.Arrays.copyOf(fastKeys, fastN * 2)
                fastKeys(fastN) = k
                fastN += 1
              }
              slots(i) = s
            }
            i += 1
          }
          val nSlots = fastN
          var a = 0
          while (a < accs.length) {
            accs(a).grow(nSlots)
            accs(a).updateBatch(batch, n, slots)
            a += 1
          }
          return
        }
        while (i < n) {
          if (pred != null && pred(batch, i) != 1) slots(i) = -1
          else {
            var bits = 0L
            var k = 0
            while (k < nKeys) {
              keys(k) match {
                case LongKey(col, _) =>
                  if (col.isNull(batch, i)) { bits |= (1L << k); probe.vals(k) = 0L }
                  else probe.vals(k) = col.get(batch, i)
                case StringKey(col) =>
                  if (col.isNull(batch, i)) { bits |= (1L << k); probe.vals(k) = 0L }
                  else {
                    val s = col.get(batch, i)
                    var id = interns(k).get(s)
                    if (id == null) {
                      id = Integer.valueOf(names(k).length)
                      val copy = s.clone()
                      interns(k).put(copy, id)
                      names(k) += copy
                    }
                    probe.vals(k) = id.intValue().toLong
                  }
              }
              k += 1
            }
            probe.vals(nKeys) = bits
            var id = slotMap.get(probe)
            if (id == null) {
              id = Integer.valueOf(slotKeys.length)
              val frozen = probe.frozen
              slotMap.put(frozen, id)
              slotKeys += frozen
            }
            slots(i) = id.intValue()
          }
          i += 1
        }
        val nSlots = slotKeys.length
        var a = 0
        while (a < accs.length) {
          accs(a).grow(nSlots)
          accs(a).updateBatch(batch, n, slots)
          a += 1
        }
      }
      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        private var pendingReset = false
        private var done = false
        private def pump(): Unit = {
          while (!cur.hasNext && !done) {
            if (pendingReset) {
              accs.foreach(_.reset())
              // the intern tables must reset WITH the accumulators: the
              // emitted iterator has drained (names lookups done), and a
              // lifetime-of-task intern table would grow unbounded on a
              // high-cardinality string key — the exact regime maxGroups
              // exists to protect. Subsequent batches re-intern from 0.
              var k = 0
              while (k < interns.length) {
                if (interns(k) != null) {
                  ColumnarPartialAgg.maxInternAtReset.getAndAccumulate(
                    names(k).length.toLong, Math.max(_, _))
                  interns(k).clear(); names(k).clear()
                }
                // packed per-key long-value tables reset with the intern
                // tables (same lifetime: live until the emit iterator
                // drained); stale dict memos die via the generation stamp
                if (keyValMaps(k) != null) {
                  keyValMaps(k).clear(); keyValN(k) = 0
                }
                k += 1
              }
              pendingReset = false
            }
            if (batches.hasNext) {
              consume(batches.next())
              // packedCap bounds the per-key id space one batch of
              // headroom below the pack-field capacity (ids never exceed
              // the live group count, so flushing here keeps every field
              // in range); at the default maxGroups it is never the
              // binding constraint
              if (numGroups > math.min(maxGroups, packedCap)) {
                cur = flush()
                pendingReset = true
              }
            } else {
              // GLOBAL aggregate contract: the stock partial agg emits
              // one initial-values buffer row per partition even when
              // the partition is empty (that row is what makes count(*)
              // over an empty relation return 0, not no-rows)
              if (nKeys == 0 && slotKeys.isEmpty) {
                slotKeys += probe.frozen
                accs.foreach(_.grow(1))
              }
              cur = flush()
              done = true
            }
          }
        }
        override def hasNext: Boolean = { pump(); cur.hasNext }
        override def next(): InternalRow = { pump(); cur.next() }
      }
    }
  }
}

/** The `injectColumnar` rule: swap supported partial aggregates before
  * transitions are inserted; leave everything else byte-identical. */
case class GraftColumnarRule() extends ColumnarRule {
  override def preColumnarTransitions: org.apache.spark.sql.catalyst.rules.Rule[SparkPlan] =
    new org.apache.spark.sql.catalyst.rules.Rule[SparkPlan] {
      override val ruleName: String = "graft.ColumnarPartialAgg"
      override def apply(plan: SparkPlan): SparkPlan = if (
        !org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.graft.columnarAgg.enabled", "true")
          .toBoolean) plan
      else plan.transformUp {
        case agg: HashAggregateExec if isPartial(agg) => agg.child match {
          case scan: FileSourceScanExec if columnarParquet(scan) =>
            swap(agg, scan, None, None)
          case ProjectExec(pl, scan: FileSourceScanExec)
              if columnarParquet(scan) && pl.forall(_.deterministic) =>
            swap(agg, scan, Some(pl), None)
          case FilterExec(cond, scan: FileSourceScanExec)
              if columnarParquet(scan) && cond.deterministic =>
            swap(agg, scan, None, Some(cond))
          case ProjectExec(pl, FilterExec(cond, scan: FileSourceScanExec))
              if columnarParquet(scan) && cond.deterministic &&
                pl.forall(_.deterministic) =>
            swap(agg, scan, Some(pl), Some(cond))
          case _ => agg
        }
      }
    }

  private def isPartial(agg: HashAggregateExec): Boolean =
    agg.aggregateExpressions.forall(_.mode == Partial) &&
      agg.requiredChildDistributionExpressions.isEmpty &&
      agg.groupingExpressions.length <= 60 && // null bitmask is one long
      // WIDTH GATE (re-measured r14, sf10 fixture, HONEST forcing): the
      // original maxAggs=2 default came from a count()-forced comparison
      // (swapped 0.60 vs stock 0.47) in which the optimizer had PRUNED the
      // aggregate expressions out of both plans — neither side was doing
      // the decimal math being "measured" (Q.force's scaladoc). Under the
      // noop-sink forcing the decision inverts hard: a1's 8 aggregates
      // (4 decimal sums among them) run 1.04 s swapped vs 4.69 s stock —
      // the kernel's fixed-point decimal accumulation beats codegen'd
      // BigDecimal by more on WIDE shapes, not less. Default now admits
      // wide aggregates; the conf remains a test/tuning dial.
      agg.aggregateExpressions.length <=
        org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.graft.columnarAgg.maxAggs", "16").toInt

  private def columnarParquet(scan: FileSourceScanExec): Boolean =
    scan.supportsColumnar &&
      scan.relation.fileFormat.toString.toLowerCase.contains("parquet")

  private def swap(agg: HashAggregateExec, scan: FileSourceScanExec,
      project: Option[Seq[NamedExpression]],
      filter: Option[Expression]): SparkPlan =
    ColumnarPartialAgg.compileAgg(agg, scan, project, filter) match {
      case Some(_) => ColumnarPartialAggExec(agg.output, scan,
        agg.groupingExpressions, agg.aggregateExpressions, project, filter)
      case None => agg
    }
}

package graft

import org.apache.spark.sql.functions._
import graft.Q.{dbl, dec6}

/** GraftColumnarRule / ColumnarPartialAggExec (r11): the columnar partial
  * aggregate must be plan-visible on the supported shape and BYTE-EQUAL
  * to the stock row path everywhere. The stock reference for each check
  * is the same aggregate over a `repartition`ed child — the exchange
  * between scan and aggregate makes the rule bail by construction, so
  * both paths run in one session. */
class ColumnarAggSpec extends SparkSpec {

  private val events = () => Tables.events(spark, sf)

  test("the swap is plan-visible on t1's shape and absent once any " +
    "non-scan child intervenes") {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val swapped = events().groupBy(date_trunc("hour", col("ts")))
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(swapped.contains("GraftColumnarPartialAgg"), swapped)
      assert(!swapped.contains("ColumnarToRow"),
        "the scan must feed the kernel directly")
      val bails = events().repartition(4)
        .groupBy(date_trunc("hour", col("ts")))
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(!bails.contains("GraftColumnarPartialAgg"), bails)
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("swapped aggregate equals the stock row path on t1's exact shape " +
    "(timestamp trunc key, string key, count + decimal sum)") {
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dbl(dec6(sum(dec6(col("value"))))).as("sv"))
      .orderBy("w", "event_type")
      .collect().map(_.toString).toSeq
    assert(agg(events()) === agg(events().repartition(7)))
  }

  test("int-typed and long-typed group keys emit their declared widths") {
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("l_linenumber"), col("l_orderkey") % 10)
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sk"))
      .orderBy(col("l_linenumber"), col("l_orderkey") % 10)
      .collect().map(_.toString).toSeq
    // l_linenumber parquet type is int-width in some fixtures, long in
    // others — either way swapped and stock must agree exactly
    val t = Tables.lineitem(spark, sf).select("l_linenumber", "l_orderkey")
    assert(agg(t) === agg(t.repartition(5)))
  }

  test("null group keys and null sum inputs follow Sum/Count buffer " +
    "semantics (sum null until first value; nulls group together)") {
    val dir = Tables.tempRoot("graft-colagg-nulls")
    spark.range(100).selectExpr(
      "CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id % 4 AS STRING) END AS k",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id AS DOUBLE) END AS v",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE id END AS j")
      .write.mode("overwrite").parquet(dir)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("k")
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        sum(col("v")).as("sv"), sum(col("j")).as("sj"))
      .orderBy("k")
      .collect().map(_.toString).toSeq
    val t = spark.read.parquet(dir)
    assert(agg(t) === agg(t.repartition(6)))
    // an all-null sum group emits null, not 0
    val allNull = spark.read.parquet(dir).filter(col("v").isNull)
    // (filter above the scan bails the rule — this row is the oracle)
    assert(allNull.agg(sum("v")).head().isNullAt(0))
  }

  test("decimal quantization matches Spark's double→decimal cast on .5 " +
    "boundary values (shortest-repr HALF_UP, not exact-binary rounding)") {
    val dir = Tables.tempRoot("graft-colagg-dec")
    // 1.0000005's binary expansion is just BELOW the boundary; Spark's
    // string-route cast rounds UP. Mix in exact halves and negatives.
    val vals = Seq(1.0000005, 2.0000015, -1.0000005, 0.1, 0.3333333,
      1234.5678905, 1e12 + 0.0000005, -0.0000005)
    import spark.implicits._
    vals.toDF("v").withColumn("g", lit("x"))
      .write.mode("overwrite").parquet(dir)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("g").agg(dec6(sum(dec6(col("v")))).as("sv"))
      .collect().map(_.toString).toSeq
    val t = spark.read.parquet(dir)
    assert(agg(t) === agg(t.repartition(3)))
  }

  test("avg compiles to the (sum, count) partial buffer and equals stock " +
    "at identical partitioning (a1's shape, width gate lifted)") {
    spark.conf.set("spark.graft.columnarAgg.maxAggs", "10")
    def agg() = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(avg(col("l_quantity")).as("aq"), count(lit(1)).as("n"),
        min(col("l_orderkey")).as("mn"), max(col("l_returnflag")).as("mx"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toString).toSeq
    val swapped = agg()
    spark.conf.set("spark.graft.columnarAgg.enabled", "false")
    val stock = try agg()
      finally {
        spark.conf.set("spark.graft.columnarAgg.enabled", "true")
        spark.conf.unset("spark.graft.columnarAgg.maxAggs")
      }
    assert(swapped === stock)
  }

  test("the width gate admits WIDE aggregates by default (r14 honest " +
    "re-measure: a1 swapped 1.04s vs stock 4.69s at sf10 — the original " +
    "maxAggs=2 came from a count()-pruned comparison) and still bounds " +
    "when lowered by conf") {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def widePlan() = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("a"), sum(col("l_discount")).as("b"),
        sum(col("l_tax")).as("c"), count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    try {
      assert(widePlan().contains("GraftColumnarPartialAgg"), widePlan())
      spark.conf.set("spark.graft.columnarAgg.maxAggs", "2")
      try assert(!widePlan().contains("GraftColumnarPartialAgg"), widePlan())
      finally spark.conf.unset("spark.graft.columnarAgg.maxAggs")
      val narrow = Tables.lineitem(spark, sf)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("s"))
        .queryExecution.executedPlan.toString
      assert(narrow.contains("GraftColumnarPartialAgg"), narrow)
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("memory bound: a tiny maxGroups forces flush-and-reset mid-scan " +
    "and the final aggregate still merges the duplicate partial keys") {
    def agg() = events()
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dbl(dec6(sum(dec6(col("value"))))).as("sv"))
      .orderBy("w", "event_type")
      .collect().map(_.toString).toSeq
    val unbounded = agg()
    spark.conf.set("spark.graft.columnarAgg.maxGroups", "4")
    val flushed = try agg()
      finally spark.conf.unset("spark.graft.columnarAgg.maxGroups")
    assert(flushed === unbounded)
  }

  test("randomized shape fuzz: 25 seeded (schema, keys, aggs) draws — " +
    "swapped equals stock at identical partitioning on every draw") {
    // GRAFT_FUZZ_DRAWS / GRAFT_FUZZ_SEED: long-hunt knobs (defaults = CI)
    val rnd = new scala.util.Random(
      sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260815L))
    val nDraws = sys.env.getOrElse("GRAFT_FUZZ_DRAWS", "25").toInt
    val dir = Tables.tempRoot("graft-colagg-fuzz")
    // one fixture with every supported column kind + nulls
    spark.range(2000).selectExpr(
      "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id % 7 AS STRING) END AS s1",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE concat('g', id % 3) END AS s2",
      "CASE WHEN id % 17 = 0 THEN NULL ELSE id % 5 END AS l1",
      "CAST(id % 9 AS INT) AS i1",
      "timestamp_micros(1700000000000000 + id * 1800000000) AS t1",
      "CASE WHEN id % 19 = 0 THEN NULL ELSE CAST(id AS DOUBLE) / 7.0 END AS d1",
      "CAST(id % 23 AS DOUBLE) * 1.0000005 AS d2",
      "id AS j1")
      .write.mode("overwrite").parquet(dir)
    val t = () => spark.read.parquet(dir)
    // only order-proof aggregates (dec6 / integral): raw double sums are
    // last-ulp order-dependent across the two paths' partial-row orders
    import org.apache.spark.sql.Column
    val keyCands: Seq[() => Column] = Seq(
      () => col("s1"), () => col("s2"), () => col("l1"), () => col("i1"),
      () => date_trunc("hour", col("t1")), () => date_trunc("day", col("t1")),
      () => col("j1")) // 7th key: draws past 6 exercise the legacy path
    val aggCands: Seq[() => Column] = Seq(
      () => count(lit(1)).as("c"),
      () => count(col("d1")).as("cd"),
      () => dbl(dec6(sum(dec6(col("d1"))))).as("sd"),
      () => dbl(dec6(sum(dec6(col("d2"))))).as("sd2"),
      // composed arithmetic inputs: the shapes the batch-fill path
      // evaluates through Multiply/Subtract/Cast overrides (r14)
      () => dbl(dec6(sum(dec6(col("d1") * (lit(1) - col("d2")))))).as("sde"),
      () => dbl(dec6(sum(dec6(col("d2") * col("d1"))))).as("sdm"),
      () => dbl(dec6(sum(dec6(col("j1").cast("double") + col("d2"))))).as("sdc"),
      () => sum(col("j1")).as("sj"),
      () => sum(col("l1")).as("sl"),
      () => min(col("j1")).as("mnj"),
      () => max(col("l1")).as("mxl"),
      () => min(col("d1")).as("mnd"),
      () => max(col("s2")).as("mxs"),
      () => min(col("i1")).as("mni"),
      () => max(col("t1")).as("mxt"))
    spark.conf.set("spark.graft.columnarAgg.maxAggs", "10")
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    // sweep BOTH ANSI modes: the sum kernels compile mode-specific
    // overflow behavior (captured at plan time), so each mode's swapped
    // path must equal ITS stock twin
    try for (ansi <- Seq(true, false); draw <- 1 to nDraws) {
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      // 1–3 keys ride the r15 one-word PACKED path, 4–6 the r16 two-word
      // pack, 7 the legacy boxed-LKey path — all three must stay
      // fuzz-covered
      val nK = 1 + rnd.nextInt(7)
      val keys = rnd.shuffle(keyCands).take(nK).map(_())
      val aggs = rnd.shuffle(aggCands).take(1 + rnd.nextInt(3)).map(_())
      def run() = t().groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
        .collect().map(_.toString).sorted.toSeq
      val swapped = run()
      spark.conf.set("spark.graft.columnarAgg.enabled", "false")
      val stock = try run()
        finally spark.conf.set("spark.graft.columnarAgg.enabled", "true")
      assert(swapped === stock,
        s"draw $draw (ansi=$ansi) diverged: keys=$keys aggs=$aggs")
    } finally {
      spark.conf.unset("spark.graft.columnarAgg.maxAggs")
      spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
    }
  }

  test("memory bound also bounds the string-intern tables: a near-unique " +
    "string key under maxGroups=4 resets interning at every flush") {
    val dir = Tables.tempRoot("graft-colagg-intern")
    // 50k distinct string keys in one file → without the flush-time intern
    // reset the table grows to 50k entries per task; with it, the
    // high-water mark at any reset stays O(maxGroups + one reader batch)
    spark.range(50000).selectExpr(
      "concat('key_', id) AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    def agg() = spark.read.parquet(dir)
      .groupBy("k").agg(count(lit(1)).as("n"), sum(col("v") * 0 + 1).as("s"))
      .collect().map(_.toString).sorted.toSeq
    graft.spark.ColumnarPartialAgg.maxInternAtReset.set(0L)
    spark.conf.set("spark.graft.columnarAgg.maxGroups", "4")
    val flushed = try agg()
      finally spark.conf.unset("spark.graft.columnarAgg.maxGroups")
    val hw = graft.spark.ColumnarPartialAgg.maxInternAtReset.get
    assert(hw > 0L, "flush resets must have fired (probe untouched)")
    // one reader batch can add up to its row count before the flush check
    // runs; the bound is maxGroups + max vectorized batch (4096), NOT the
    // split's 50k distinct strings
    assert(hw <= 8192L,
      s"intern table grew past the flush bound ($hw entries at a reset)")
    val stock = agg() // unbounded rerun as reference (same partitioning)
    assert(flushed === stock)
  }

  test("decimal sum mirrors stock overflow semantics in BOTH ANSI modes: " +
    "non-ANSI cast-nulls oversized/non-finite inputs and nulls an " +
    "overflowing sum; ANSI throws — with the swap ACTIVE either way") {
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    val dir = Tables.tempRoot("graft-colagg-overflow")
    // |v| ≥ 1e32 quantizes past decimal(38,6)'s 38 digits; NaN/Inf never
    // fit — non-ANSI Cast nulls them (Sum skips), ANSI Cast throws
    spark.sql(
      "SELECT * FROM VALUES (CAST(1e33 AS DOUBLE)), (CAST('NaN' AS DOUBLE)), " +
        "(CAST('Infinity' AS DOUBLE)), (5.5D), (2.25D) AS t(v)")
      .write.mode("overwrite").parquet(dir)
    val dir2 = Tables.tempRoot("graft-colagg-overflow2")
    spark.range(10).selectExpr("CAST(9e31 AS DOUBLE) AS v")
      .coalesce(1).write.mode("overwrite").parquet(dir2)
    def agg(path: String) = spark.read.parquet(path)
      .agg(sum(dec6(col("v"))).as("sv")).collect().map(_.toString).toSeq
    def withStock[A](f: => A): A = {
      spark.conf.set("spark.graft.columnarAgg.enabled", "false")
      try f finally spark.conf.set("spark.graft.columnarAgg.enabled", "true")
    }
    // ——— non-ANSI: null-on-overflow, swapped equals stock ———
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val swapped = agg(dir)
      assert(swapped === withStock(agg(dir)))
      assert(swapped.head.contains("7.75"), swapped.head)
      // a SUM that overflows decimal(38,6) emits null (sticky, like
      // CheckOverflowInSum), never an ArithmeticException
      val swapped2 = agg(dir2)
      assert(swapped2 === withStock(agg(dir2)))
      assert(spark.read.parquet(dir2)
        .agg(sum(dec6(col("v")))).head().isNullAt(0))
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    // ——— ANSI (Spark 4's default): both paths THROW, and the swap must
    // stay ACTIVE (bailing would disable the rule in every production
    // session) ———
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try spark.read.parquet(dir2)
        .agg(sum(dec6(col("v")))).queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(plan.contains("GraftColumnarPartialAgg"),
      s"swap must stay active under ANSI:\n$plan")
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val eSwap = intercept[Exception] { agg(dir) } // unfittable input
    assert(chain(eSwap).contains("Decimal(38, 6)"), chain(eSwap))
    val eStock = intercept[Exception] { withStock(agg(dir)) }
    assert(chain(eStock).contains("Decimal(38, 6)"), chain(eStock))
    intercept[Exception] { agg(dir2) } // sum overflow
    intercept[Exception] { withStock(agg(dir2)) }
    spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("single-long-key fast path under a tiny maxGroups: the primitive " +
    "map/key-store flush-resets correctly, nulls included") {
    val dir = Tables.tempRoot("graft-colagg-fastflush")
    // near-unique long key with a null stripe: exercises the fast path's
    // LongToSlot + primitive key store across many flush windows AND the
    // single null-key slot's re-allocation after each reset
    spark.range(20000).selectExpr(
      "CASE WHEN id % 9 = 0 THEN NULL ELSE id % 7000 END AS k",
      "CAST(id AS DOUBLE) AS v", "id AS j")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    def agg() = spark.read.parquet(dir)
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("j")).as("sj"),
        min(col("j")).as("mn"))
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.columnarAgg.maxAggs", "10")
    spark.conf.set("spark.graft.columnarAgg.maxGroups", "4")
    val flushed = try agg()
      finally spark.conf.unset("spark.graft.columnarAgg.maxGroups")
    val unbounded = agg()
    spark.conf.set("spark.graft.columnarAgg.enabled", "false")
    val stock = try agg()
      finally {
        spark.conf.set("spark.graft.columnarAgg.enabled", "true")
        spark.conf.unset("spark.graft.columnarAgg.maxAggs")
      }
    assert(flushed === stock)
    assert(unbounded === stock)
  }

  test("global aggregate (no grouping) swaps and equals stock, including " +
    "over an empty relation") {
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .collect().map(_.toString).toSeq
    // raw double sums are partition-order-dependent in STOCK Spark too,
    // so the reference must be the stock plan at the SAME partitioning:
    // toggle the rule off rather than repartition
    val swapped = agg(events())
    spark.conf.set("spark.graft.columnarAgg.enabled", "false")
    val stock = try agg(events())
      finally spark.conf.set("spark.graft.columnarAgg.enabled", "true")
    assert(swapped === stock)
    val dir = Tables.tempRoot("graft-colagg-empty")
    events().filter(lit(false)).write.mode("overwrite").parquet(dir)
    val empty = spark.read.parquet(dir)
    val r = empty.agg(count(lit(1)).as("n"), sum(col("value")).as("sv")).head()
    assert(r.getLong(0) === 0L && r.isNullAt(1))
  }

  test("r16-advice: a reader batch size above the 5-6-key field capacity " +
    "falls back to the legacy boxed path instead of throwing (the query " +
    "stock Spark runs must run here too)") {
    val dir = Tables.tempRoot("graft-colagg-headroom")
    spark.range(2000).selectExpr(
      "id % 3 AS k1", "id % 5 AS k2", "id % 7 AS k3",
      "id % 2 AS k4", "CAST(id % 4 AS STRING) AS k5", "id AS v")
      .write.mode("overwrite").parquet(dir)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("k1", "k2", "k3", "k4", "k5")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .orderBy("k1", "k2", "k3", "k4", "k5")
      .collect().map(_.toString).toSeq
    val stock = agg(spark.read.parquet(dir).repartition(3))
    // 5 keys → two-word pack, fieldBits=21, capacity 2^21: a 4M-row
    // reader batch makes the per-batch id headroom unsatisfiable —
    // packed mode must be skipped (boxed LKey path), results identical
    val before = spark.conf
      .getOption("spark.sql.parquet.columnarReaderBatchSize")
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize",
      (4 * 1024 * 1024).toString)
    try assert(agg(spark.read.parquet(dir)) === stock)
    finally before match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.columnarReaderBatchSize")
    }
  }
}

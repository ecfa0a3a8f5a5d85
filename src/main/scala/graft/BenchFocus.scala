package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: focused per-query timing (warm plan + codegen, min of 5) for
  * the bench-gate pairing work — same session shape as [[Bench]]. Usage:
  * `SPARK_GRAFT_SF_DIR=… sbt "runMain graft.BenchFocus q1 q2 …"`. */
object BenchFocus {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-focus")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_SCALE=N: materialize an N× copy of the dir first (the
    // ScaleProbe fixture path) and bench against it
    val scaleDir = sys.env.get("SPARK_GRAFT_SCALE").map { n =>
      val out = s"/tmp/graft-scale-${n}x"
      ScaleProbe.scaled(spark, dir, out, n.toInt)
      out
    }
    // experimental variants measured against their production twins
    import org.apache.spark.sql.functions._
    import graft.Q.{dbl, dec6}
    val variants: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      // batch-fill A/B: the same query with the kernel's batch expression
      // evaluation disabled (per-row virtual Col chain)
      "a1_nofill" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.batchFill", "false")
        operators.RelationalQueries.a1_pricing_summary(s, d)
      },
      "a1_fill" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.batchFill", "true")
        operators.RelationalQueries.a1_pricing_summary(s, d)
      },
      "t1_nofill" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.batchFill", "false")
        operators.StreamingQueries.t1_tumbling(s, d)
      },
      "t1_fill" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.batchFill", "true")
        operators.StreamingQueries.t1_tumbling(s, d)
      },
      "j10_nofill" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.batchFill", "false")
        operators.RelationalQueries.j10_bucketed_join(s, d)
      },
      // j2 join-first A/B (r17): filter orders to 1996 FIRST, join the raw
      // fact rows, then re-group on the join key EXCHANGE-FREE (the join
      // output is already hash-partitioned on o_orderkey) before the
      // 6-group priority agg — trades the pre-agg shape's 15M-group hash
      // agg for a bigger (60M-row) but simpler shuffle. Same exact-decimal
      // two-step revenue.
      // j2 with shuffled-hash-join preferred over sort-merge: the SMJ
      // sorts the 15M-row pre-agged fact side per task; SHJ builds on the
      // small filtered-orders side and streams the fact rows unsorted
      "j2_shj" -> { (s, d) =>
        s.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        operators.RelationalQueries.j2_orders_lineitem(s, d)
      },
      "j2_smj" -> { (s, d) =>
        s.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        operators.RelationalQueries.j2_orders_lineitem(s, d)
      },
      "j2_joinfirst" -> { (s, d) =>
        Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === 1996)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .join(Tables.lineitem(s, d)
              .select(col("l_orderkey"), col("l_extendedprice"),
                col("l_discount")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(first(col("o_orderpriority")).as("o_orderpriority"),
            dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")))))
              .as("rev"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            dbl(dec6(sum(col("rev")))).as("revenue"))
          .orderBy("o_orderpriority")
      },
      "j10_fill" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.batchFill", "true")
        operators.RelationalQueries.j10_bucketed_join(s, d)
      },
      // Spark's own runtime bloom injection, for comparison with
      // j2_bloom below (the rule may not fire across the pre-agg)
      "j2_injected" -> { (s, d) =>
        s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        s.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
        operators.RelationalQueries.j2_orders_lineitem(s, d)
      },
      // x26 with the gram stream materialized ONCE via a shared exchange
      // (repartition on doc_id -> ReuseExchange serves both the df branch
      // and the join branch from the same shuffle files) instead of two
      // tokenize+md5 passes — adopted only if it measures faster
      "x26_reuse" -> { (s, d) =>
        import graft.functions.TextFunctions.{tokens, ngramHash64}
        val grams = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(array_distinct(
              ngramHash64(tokens(col("text")), 5))).as("gh"))
          .repartition(col("doc_id"))
        val boiler = grams.groupBy("gh")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") >= 3)
          .select(col("gh"), lit(1L).as("is_b"))
        grams
          .join(boiler, Seq("gh"), "left")
          .groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("is_b"), lit(0L))).as("n_boiler"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("docs"),
            sum(col("n_grams")).as("grams"),
            sum(col("n_boiler")).as("boiler_grams"),
            dbl(dec6(sum(dec6(col("n_boiler").cast("double") / col("n_grams")))))
              .as("sum_frac"))
          .orderBy("source")
      },
      // the stock row path for any query: columnar partial agg disabled
      // (r11 before/after instrumentation; pass as stock:<query>)
      "t1_stock" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.enabled", "false")
        operators.StreamingQueries.t1_tumbling(s, d)
      },
      "a1_stock" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.enabled", "false")
        operators.RelationalQueries.a1_pricing_summary(s, d)
      },
      "j10_stock" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.enabled", "false")
        operators.RelationalQueries.j10_bucketed_join(s, d)
      },
      "j10_swapped" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.enabled", "true")
        operators.RelationalQueries.j10_bucketed_join(s, d)
      },
      "a1_wide_swapped" -> { (s, d) =>
        s.conf.set("spark.graft.columnarAgg.enabled", "true")
        s.conf.set("spark.graft.columnarAgg.maxAggs", "10")
        operators.RelationalQueries.a1_pricing_summary(s, d)
      },
      "j1_fused" -> { (s, d) =>
        // ONE broadcast: supplier enriched with region name dim-side
        val dims = Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("r_name"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate").between(
            to_timestamp(lit("1997-01-01")), to_timestamp(lit("1997-12-31"))))
          .join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("r_name"))
          .agg(dbl(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")))))).as("revenue"),
            count(lit(1)).as("n"))
          .orderBy("r_name")
      },
      "j1_dblsum" -> { (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate").between(
            to_timestamp(lit("1997-01-01")), to_timestamp(lit("1997-12-31"))))
          .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n"))
          .orderBy("r_name")
      },
      "j2_preagg" -> { (s, d) =>
        // pre-aggregate lineitem revenue per order (one shuffle on the
        // fact key), join, then a plain count per priority — replaces
        // countDistinct's expand + extra exchange
        val liAgg = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("rev"))
        Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === 1996)
          .join(liAgg, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            dbl(dec6(sum(col("rev")))).as("revenue"))
          .orderBy("o_orderpriority")
      },
      "j2_bucketed" -> { (s, d) =>
        // the PRODUCTION keyed layout cache (j10) — a fixed-name local
        // cache here served stale data when the same JVM benched two
        // datasets (r10 review find)
        graft.operators.RelationalQueries.j10_bucketed_join(s, d)
      },
      "j2_preagg_only" -> { (s, d) =>
        // the per-order pre-agg alone (shuffle + 15M-group hash agg)
        Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("rev"))
          .groupBy().count()
      },
      "j2_li_scan" -> { (s, d) =>
        Tables.lineitem(s, d)
          .agg(sum(col("l_orderkey")).as("x"),
            dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("r"))
      },
      "j2_orders_scan" -> { (s, d) =>
        Tables.orders(s, d).filter(year(col("o_orderdate")) === 1996)
          .agg(sum(col("o_orderkey")).as("x"))
      },
      "j2_direct" -> { (s, d) =>
        // no pre-agg: one shuffle join, count(distinct) via two-level agg
        val o = Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === 1996)
          .select(col("o_orderkey"), col("o_orderpriority"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rv"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderpriority"))
          .agg(dec6(sum(col("rv"))).as("rev"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"), dbl(dec6(sum(col("rev")))).as("revenue"))
          .orderBy("o_orderpriority")
      },
      "j2_bloom" -> { (s, d) =>
        // d13's runtime-filter shape applied to j2: the 1996 orders build
        // a bloom over o_orderkey; lineitem probes it MAP-SIDE before the
        // per-order pre-agg, so ~6/7 of lineitem never enters the hash agg
        import org.apache.spark.sql.GraftShim
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CLit}
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        import org.apache.spark.sql.types.BinaryType
        val ordersF = Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === 1996)
        val bloomBytes = ordersF.select(GraftShim.column(
            new BloomFilterAggregate(
              GraftShim.expression(xxhash64(col("o_orderkey"))), 4000000L)
              .toAggregateExpression()).as("bf"))
          .head().getAs[Array[Byte]](0)
        val mc = GraftShim.column(new BloomFilterMightContain(
          CLit(bloomBytes, BinaryType),
          GraftShim.expression(xxhash64(col("l_orderkey")))))
        val liAgg = Tables.lineitem(s, d)
          .filter(mc)
          .groupBy(col("l_orderkey"))
          .agg(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("rev"))
        ordersF.join(liAgg, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            dbl(dec6(sum(col("rev")))).as("revenue"))
          .orderBy("o_orderpriority")
      },
      "t1_trunc" -> { (s, d) =>
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("win_start"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            dbl(dec6(sum(dec6(col("value"))))).as("sum_value"))
          .orderBy("win_start", "event_type")
      },
      "t1_dbl" -> { (s, d) =>
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("win_start"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
          .orderBy("win_start", "event_type")
      },
      "events_count" -> { (s, d) =>
        Tables.events(s, d).groupBy().count()
      },
      "t1_nosum" -> { (s, d) =>
        // count-only: isolates the decimal-sum cost
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("win_start"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("win_start", "event_type")
      },
      "events_value_sum" -> { (s, d) =>
        // one global decimal sum, no group key: the agg-machinery floor
        Tables.events(s, d).agg(dbl(dec6(sum(dec6(col("value"))))).as("x"))
      },
      "emb_count" -> { (s, d) =>
        Tables.embeddings(s, d).groupBy().count()
      },
      "emb_size" -> { (s, d) =>
        // reads the array column's OFFSETS only — the pruned-read floor
        Tables.embeddings(s, d)
          .agg(sum(size(col("embedding"))).as("n"))
      },
      "emb_self" -> { (s, d) =>
        // full array materialization + the cosine kernel, no broadcast/topk:
        // isolates read+kernel from v1's merge
        import graft.functions.VectorFunctions.cosineFast
        Tables.embeddings(s, d)
          .agg(sum(cosineFast(col("embedding"), col("embedding"))).as("x"))
      },
      "v1_qvec" -> { (s, d) =>
        // the query-row lookup job alone (v1 broadcasts this)
        Tables.embeddings(s, d).filter(col("vec_id") === 0L)
          .select(col("embedding").as("qvec")).groupBy().count()
      },
      "v1_nosort" -> { (s, d) =>
        // v1 minus TakeOrderedAndProject: broadcast + kernel + round
        import graft.functions.VectorFunctions.cosineFast
        val q = Tables.embeddings(s, d).filter(col("vec_id") === 0L)
          .select(col("embedding").as("qvec"))
        Tables.embeddings(s, d)
          .crossJoin(broadcast(q))
          .agg(sum(round(cosineFast(col("embedding"), col("qvec")), 6)).as("x"))
      },
      "scan_count" -> { (s, d) =>
        Tables.lineitem(s, d).filter(col("l_shipdate").between(
          to_timestamp(lit("1997-01-01")), to_timestamp(lit("1997-12-31"))))
          .groupBy().count()
      },
      // ——— r15 a1 asymptote decomposition ———
      "a1_dblsums" -> { (s, d) =>
        // a1's exact shape with PLAIN DOUBLE sums: isolates the
        // decimal-quantization cost (DecimalSumAcc vs primitive add)
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= graft.Q.ts("1998-09-01"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("sum_qty"),
            sum(col("l_extendedprice")).as("sum_base_price"),
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
            sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      "li_decode" -> { (s, d) =>
        // decode floor for a1's numeric inputs: 4 double columns + the
        // shipdate filter, one global double sum (no keys, no decimal)
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= graft.Q.ts("1998-09-01"))
          .agg(sum(col("l_quantity") + col("l_extendedprice") +
            col("l_discount") + col("l_tax")).as("x"))
      },
      "a1_nokeys" -> { (s, d) =>
        // a1's four decimal sums WITHOUT group keys: isolates the
        // string-key path (returnflag/linestatus reads + intern + probe)
        import graft.Q.{dbl, dec6}
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= graft.Q.ts("1998-09-01"))
          .agg(
            dbl(dec6(sum(dec6(col("l_quantity"))))).as("sum_qty"),
            dbl(dec6(sum(dec6(col("l_extendedprice"))))).as("sum_base_price"),
            dbl(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")))))).as("sum_disc_price"),
            dbl(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))))).as("sum_charge"),
            count(lit(1)).as("count_order"))
      })
    val benchDir = scaleDir.getOrElse(dir)
    // Q.force, not count() — count() prunes agg-final queries' aggregate
    // expressions (the r14 measurement bug; see Q.force)
    args.foreach { name =>
      // conf-isolate each query: a *_stock variant's conf.set must not
      // leak into the next name on the command line (r14 find — a
      // stock-vs-swapped "comparison" after a stock variant was
      // stock-vs-stock)
      spark.conf.unset("spark.graft.columnarAgg.enabled")
      spark.conf.unset("spark.graft.columnarAgg.maxAggs")
      // batchFill too (r15 advisor find): after a *_nofill variant, every
      // later name in the same invocation would silently run fill-off and
      // corrupt the A/B
      spark.conf.unset("spark.graft.columnarAgg.batchFill")
      val fn = variants.getOrElse(name, SparkEntry.queries(name))
      (1 to 2).foreach(_ => Q.force(fn(spark, benchDir))) // warm
      val t = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        Q.force(fn(spark, benchDir))
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""FOCUS {"query":"$name","sec":$t%.3f,"dir":"$benchDir"}""")
    }
    spark.stop()
  }
}

package graft.operators

import graft.{Tables, Q}
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY §2.1–§2.8: the core relational surface, expressed declaratively so
  * Catalyst does the planning (predicate pushdown, column pruning, broadcast
  * selection, TakeOrderedAndProject for top-k). One entry per inventory id;
  * every query imposes a total output order and uses decimal sums / per-row
  * IEEE arithmetic so the DuckDB oracle hash-matches (SURVEY §5.2, §7.6).
  */
object RelationalQueries {
  import Q.{dec6, dbl, ts}

  // ---- §2.1 scans -----------------------------------------------------------

  /** S1: single-partition point read (Cassandra SinglePartitionReadCommand).
    * Parquet row-group stats + dictionary pushdown play the partition index. */
  def s1_point_read(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val mn = li.agg(min(col("l_orderkey")).as("mk"))
    li.join(broadcast(mn), col("l_orderkey") === col("mk"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
      .orderBy("l_linenumber")
  }

  /** S2: partition-range scan (token-range scan analogue) with pushed filter. */
  def s2_range_scan(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(ts("1996-01-01"), ts("1996-12-31")))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dbl(dec6(sum(dec6(col("l_quantity"))))).as("sum_qty"))
      .orderBy("l_returnflag")

  /** S3: clustering slice within one partition, reversed order. */
  def s3_clustering_slice(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val mn = li.agg(min(col("l_orderkey")).as("mk"))
    li.join(broadcast(mn), col("l_orderkey") === col("mk"))
      .filter(col("l_linenumber").between(2, 6))
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy(col("l_linenumber").desc)
  }

  /** S4: clustering-names filter (exact IN set of clustering values). */
  def s4_clustering_names(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 20 && col("l_linenumber").isin(1, 3, 5))
      .select("l_orderkey", "l_linenumber", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** S10/F12/L6: JSON prop extraction + map fns over events.props. */
  def s10_json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** S8: bulk CSV unload + schema'd reload (cqlsh COPY TO/FROM analogue,
    * upstream `tools/cqlsh copyutil` [U]) — the round-trip itself is the
    * operator under test: the aggregate runs over the RELOADED rows, the
    * twin over the original parquet, so any type/quoting/precision loss in
    * the CSV hop breaks the hash. Doubles survive because Spark writes
    * shortest-round-trip literals. */
  private val s8Cleanup =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def s8_csv_roundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    // keyed by fixture dir + process: concurrent runs (two JVMs, or two
    // fixture scales in one bench box) must not race on one path
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_s8_csv_" +
      d.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      java.lang.ProcessHandle.current().pid()
    // bounded tmp growth: each verify/bench JVM gets a fresh pid, so
    // without this every round leaves a full CSV copy behind (one hook
    // per distinct path — bench calls this query repeatedly)
    if (s8Cleanup.putIfAbsent(out, true) == null)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(out))
      }))
    val src = Tables.customer(s, d)
    src.write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true")
      .schema(StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))))
      .csv(out)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        dbl(dec6(sum(dec6(col("c_acctbal"))))).as("sum_bal"),
        min(col("c_custkey")).as("min_k"), max(col("c_custkey")).as("max_k"))
      .orderBy("c_mktsegment")
  }

  // ---- §2.2 projection / filter --------------------------------------------

  /** P1/P7: projection + null-semantics filter (Catalyst prunes columns). */
  def p1_projection(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_acctbal").isNotNull)
      .select("c_custkey", "c_name", "c_mktsegment")
      .filter(col("c_custkey") < 100)
      .orderBy("c_custkey")

  /** P2: multi-column tuple restriction ((ck1,ck2) > (a,b)). */
  def p2_tuple_restriction(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(struct(col("l_orderkey"), col("l_linenumber")) > struct(lit(100L), lit(2)))
      .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("min_ok"),
        max(col("l_orderkey")).as("max_ok"))

  /** P4: ALLOW FILTERING residual predicate (full scan + arbitrary filter). */
  def p4_residual_filter(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value") > 100 && col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dbl(dec6(sum(dec6(col("value"))))).as("sum_value"))
      .orderBy("event_type")

  /** P5: CONTAINS on a collection column (token membership). */
  def p5_contains(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(array_contains(split(col("text"), " "), "scan"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")

  /** P6: LIKE prefix/contains text match (SASI/SAI analogue). */
  def p6_like(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("source").like("src1%") && col("text").contains("merge join"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** P7 (P6's second half): ANALYZED text match (SASI/SAI `index_analyzer`
    * [U index/sai/analyzer/]) — the term matches against the ANALYZED token
    * stream (here: lowercase + whitespace, [[graft.functions.TextFunctions
    * .tokens]]), not the raw bytes, so 'Scan'/'SCAN'/'scan' all hit. Distinct
    * from P5's raw collection membership. */
  def p7_analyzed_match(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(array_contains(graft.functions.TextFunctions.tokens(col("text")),
        "scan") && col("doc_id") < 150)
      .select("doc_id", "source")
      .orderBy("doc_id")

  // ---- §2.3 joins -----------------------------------------------------------

  /** J1: broadcast-hash star join (fact ⋈ 3 broadcast dims), revenue/region. */
  def j1_broadcast_star(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(ts("1997-01-01"), ts("1997-12-31")))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(dbl(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")))))).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("r_name")

  /** J2: large shuffled equi-join orders ⋈ lineitem (SMJ/SHJ; AQE may demote
    * to broadcast at small SF — both are the right plan at their scale). */
  def j2_orders_lineitem(s: SparkSession, d: String): DataFrame = {
    // Shape (r9): PRE-AGGREGATE the fact side per order key before the
    // join — one shuffle on the key the join needs anyway — so (a) the
    // join moves one row per order instead of one per lineitem and (b)
    // countDistinct becomes a plain count (orders unique per key),
    // dropping its expand + extra exchange. Measured −27% at sf10
    // (2.2 → 1.6 s). Exact-decimal partials keep the two-step revenue
    // sum bit-identical to the flat sum.
    val liAgg = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")))))
        .as("rev"))
    Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1996)
      .join(liAgg, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dbl(dec6(sum(col("rev")))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Build-once bucketed layout for the co-located orders⋈lineitem join —
    * one table pair per (corpus, mtime), the index-cache convention. */
  private val bucketLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def bucketedJoinTables(s: SparkSession, d: String): (String, String) = {
    val mtime = try java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$d/lineitem.parquet")).toMillis
      catch { case _: Exception => 0L }
    bucketLayoutCache.computeIfAbsent(s"$d@$mtime", { _ =>
      val tag = math.abs(s"$d@$mtime".hashCode).toString
      val (liT, oT) = (s"j10_li_$tag", s"j10_o_$tag")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.bucketBy(32, "l_orderkey").sortBy("l_orderkey")
        .option("path", graft.Tables.tempRoot(s"graft-j10-li"))
        .mode("overwrite").saveAsTable(liT)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
        .write.bucketBy(32, "o_orderkey").sortBy("o_orderkey")
        .option("path", graft.Tables.tempRoot(s"graft-j10-o"))
        .mode("overwrite").saveAsTable(oT)
      (liT, oT)
    })
  }

  /** J10 (J2's co-located layout twin): the SAME orders⋈lineitem query
    * served from a build-once layout bucketed on the join key — the
    * pre-agg and the join are exchange-free (the scan's bucket
    * partitioning satisfies both distributions), so the 60 M-row fact
    * shuffle that dominates j2 at sf10 never happens. 1.64 → 1.06 s at
    * 100× (1.40× vs DuckDB, inside the gate — BASELINE.md r10); at
    * 100 TB this is the difference between a nightly-layout pipeline
    * and re-shuffling the fact table per query. Same oracle as j2. */
  def j10_bucketed_join(s: SparkSession, d: String): DataFrame = {
    val (liT, oT) = bucketedJoinTables(s, d)
    val liAgg = s.table(liT)
      .groupBy(col("l_orderkey"))
      .agg(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")))))
        .as("rev"))
    s.table(oT)
      .filter(year(col("o_orderdate")) === 1996)
      .join(liAgg, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dbl(dec6(sum(col("rev")))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** J3: left outer join preserving customers with no qualifying orders. */
  def j3_left_outer(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") < 50)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        dbl(coalesce(dec6(sum(dec6(col("o_totalprice")))), dec6(lit(0)))).as("sum_price"))
      .orderBy("c_custkey")

  /** J4: left semi — customers having at least one big order. */
  def j4_semi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey").orderBy("c_custkey")

  /** J4: left anti — customers with no big order (repair-diff analogue). */
  def j4_anti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_ck"),
        max(col("c_custkey")).as("max_ck"))

  /** J5: pure theta (non-equi) join — value banding via broadcast NLJ. */
  def j5_theta_band(s: SparkSession, d: String): DataFrame = {
    val bands = s.createDataFrame(Seq((0d, 50d), (50d, 150d), (150d, 400d)))
      .toDF("lo", "hi")
    Tables.events(s, d)
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"), dbl(dec6(sum(dec6(col("value"))))).as("sum_value"))
      .orderBy("lo")
  }

  /** J6: as-of join — for each purchase, the latest click at-or-before it.
    * Scale-first shape: ONE shuffle (union + window), no per-key blowup —
    * the pattern that survives 100 TB, vs the naive range join + dedup. */
  def j6_asof(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("kind").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("last_click_id"), col("last_click_ts"))
      .orderBy("event_id")
  }

  /** J7: interval join — lineitem shipped within 30 days of its order date. */
  def j7_interval(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("interval 30 days"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dbl(dec6(sum(dec6(col("l_quantity"))))).as("sum_qty"))
      .orderBy("l_returnflag")

  // ---- §2.4 aggregations ----------------------------------------------------

  /** A1/A2: flagship pricing summary (TPC-H Q1 adapted to fixture columns). */
  def a1_pricing_summary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= ts("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dbl(dec6(sum(dec6(col("l_quantity"))))).as("sum_qty"),
        dbl(dec6(sum(dec6(col("l_extendedprice"))))).as("sum_base_price"),
        dbl(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")))))).as("sum_disc_price"),
        dbl(dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 6))
      .withColumn("avg_price", round(col("sum_base_price") / col("count_order"), 6))
      .orderBy("l_returnflag", "l_linestatus")

  private val pricingMvCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** test probe: which maintenance path the last [[a15_mv_pricing]] call
    * took — "serve" (inputs unchanged), "incremental" (new part files
    * folded into the standing MV), or "full" (first build, or an existing
    * input file changed/disappeared — compaction rewrites fold nothing). */
  private[graft] val a15LastBuild =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** The lineitem table's part-file inventory as stable fingerprint lines
    * `path|size|mtime`, sorted — the MV's input identity. A single-file
    * table is a one-line inventory; a directory lists its data files
    * (hidden/_SUCCESS markers excluded). */
  private def lineitemParts(d: String): Seq[String] = {
    val base = new java.io.File(s"$d/lineitem.parquet")
    val files: Seq[java.io.File] =
      if (base.isDirectory)
        base.listFiles().toSeq.filter { f =>
          f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
        }
      else Seq(base)
    files.map(f => s"${f.getPath}|${f.length}|${f.lastModified}").sorted
  }

  /** The path component of a `path|size|mtime` fingerprint line. Size and
    * mtime are digit runs that never contain '|', so split from the RIGHT
    * — a data path that itself contains '|' must not mis-parse (r16
    * advisor note on the naive `split('|')(0)`). */
  private def partPath(line: String): String =
    line.substring(0, line.lastIndexOf('|', line.lastIndexOf('|') - 1))

  /** The per-(ship_date, returnflag, linestatus) exact decimal(38,6)
    * partial-sum rows the pricing MV stores — shared by the full build
    * (whole table) and the incremental fold (new part files only). */
  private def pricingPartials(df: DataFrame): DataFrame =
    df.groupBy(col("l_shipdate").as("ship_date"),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        dec6(sum(dec6(col("l_quantity")))).as("p_qty"),
        dec6(sum(dec6(col("l_extendedprice")))).as("p_base"),
        dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("p_disc"),
        dec6(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))))).as("p_charge"),
        count(lit(1)).as("p_n"))

  /** A15 (r15): the MV-SERVED pricing summary — a1's t17-style
    * engine-level answer. The r15 honest asymptote settled a1's raw-scan
    * shape at ≈2.2–2.3× DuckDB at 100 M rows with a NAMED irreducible
    * term: Spark's vectorized parquet double-decode + filter floor alone
    * (`li_decode`, 0.65 s) equals DuckDB's ENTIRE query (0.62 s) — the
    * platform reader, not the agg kernel (which, post packed-keys, adds
    * ~0.5 s over that floor vs DuckDB's ~0.3). The engine answer is the
    * same as t1's: stop re-decoding the fact table per query. A DAILY
    * pricing rollup MV — per (ship_date, returnflag, linestatus) exact
    * decimal(38,6) partial sums + counts, built once per table version
    * (mtime-keyed, t17's convention), days × 6 rows regardless of corpus
    * size — serves the whole a1 QUERY FAMILY (any shipdate cutoff) from
    * ~15 k rows. Exactness: decimal partials are exact integer sums, so
    * re-aggregating partials is bit-identical to the direct per-row sum
    * under any order; the twin recomputes everything from raw lineitem
    * and the hash gate proves serve ≡ recompute.
    *
    * MAINTENANCE (r16 — the r15 scaladoc claimed this, now it is a code
    * path): the MV's input identity is the part-file inventory
    * (`path|size|mtime` lines in a `_graft_mv_inputs` sidecar, t17's
    * persist-the-freshness-with-the-artifact convention at file grain).
    * On serve, the inventory is re-listed: unchanged → serve as-is; new
    * part files appended (the 100 TB ingest shape — immutable segments
    * land, existing ones never mutate) → fold ONLY the new files'
    * partial rows into the standing MV (decimal partials re-aggregate
    * exactly, so increment ≡ rebuild bit-for-bit — a resume probe measured
    * the win, a15IncrementalSpec pins the equality); any folded file
    * rewritten or removed (compaction) → full rebuild, the only sound
    * answer without per-file retractions.
    *
    * GENERATION SWAP (r17, the BpeModel/QualityModel convention — r16
    * advisor notes): each refresh writes a NEW `mv-v{N}` generation
    * directory and repoints ONE sidecar (`_graft_mv_current`: line 1 =
    * serving generation, rest = its folded inventory) via tmp-file +
    * atomic rename — MV data and inventory become visible together, and
    * there is never a window with no MV. The serving and previous
    * generations are retained (a previously returned lazy DataFrame pins
    * its generation path); older ones are retired, bounding disk at two
    * generations. The full path reads EXACTLY the listed inventory paths
    * — a segment landing between listing and build can never be included
    * without being recorded. */
  def a15_mv_pricing(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = pricingMvCache.computeIfAbsent(d,
      _ => graft.Tables.tempRoot("graft-pricing-mv"))
    val mvPath: String = this.synchronized {
      val cur = lineitemParts(d)
      val state = Paths.get(dir, "_graft_mv_current")
      val lines: Seq[String] =
        if (Files.isRegularFile(state))
          new String(Files.readAllBytes(state), "UTF-8")
            .split("\n", -1).toSeq.filter(_.nonEmpty)
        else Seq.empty
      val curGen = lines.headOption.getOrElse("")
      val folded = lines.drop(1)
      val curGenDir = Paths.get(dir, curGen)
      if (curGen.nonEmpty && folded == cur && Files.isDirectory(curGenDir)) {
        a15LastBuild.set("serve")
        s"$dir/$curGen"
      } else {
        val partials =
          if (folded.nonEmpty && folded.toSet.subsetOf(cur.toSet) &&
              Files.isDirectory(curGenDir)) {
            a15LastBuild.set("incremental")
            val foldedSet = folded.toSet
            val newPaths = cur.filterNot(foldedSet).map(partPath)
            // standing MV rows + the new files' partials, re-aggregated:
            // exact decimal addition makes the fold order-independent
            s.read.parquet(s"$dir/$curGen")
              .unionByName(pricingPartials(s.read.parquet(newPaths: _*)))
              .groupBy(col("ship_date"), col("l_returnflag"),
                col("l_linestatus"))
              .agg(
                dec6(sum(col("p_qty"))).as("p_qty"),
                dec6(sum(col("p_base"))).as("p_base"),
                dec6(sum(col("p_disc"))).as("p_disc"),
                dec6(sum(col("p_charge"))).as("p_charge"),
                sum(col("p_n")).as("p_n"))
          } else {
            a15LastBuild.set("full")
            pricingPartials(s.read.parquet(cur.map(partPath): _*))
          }
        // next generation number = max over every mv-v* ever written + 1
        // (orphans from a crashed refresh count — never reuse a name)
        val genN = 1 + Option(new java.io.File(dir).listFiles()).toSeq
          .flatten.map(_.getName)
          .collect { case n if n.startsWith("mv-v") =>
            n.stripPrefix("mv-v").toLong }
          .foldLeft(0L)(math.max)
        val nextGen = s"mv-v$genN"
        partials.coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$nextGen")
        // atomic repoint: data + inventory swap in ONE rename; a crash
        // before this line leaves an unreferenced orphan, never a torn MV
        val tmp = Paths.get(dir, "_graft_mv_current.tmp")
        Files.write(tmp, (nextGen +: cur).mkString("\n").getBytes("UTF-8"))
        Files.move(tmp, state, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        // retire all generations but the new one and its predecessor
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        Option(new java.io.File(dir).listFiles()).toSeq.flatten
          .filter { f =>
            f.getName.startsWith("mv-v") &&
              f.getName != nextGen && f.getName != curGen
          }.foreach(rm)
        s"$dir/$nextGen"
      }
    }
    s.read.parquet(mvPath)
      .filter(col("ship_date") <= ts("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dbl(dec6(sum(col("p_qty")))).as("sum_qty"),
        dbl(dec6(sum(col("p_base")))).as("sum_base_price"),
        dbl(dec6(sum(col("p_disc")))).as("sum_disc_price"),
        dbl(dec6(sum(col("p_charge")))).as("sum_charge"),
        sum(col("p_n")).as("count_order"))
      .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 6))
      .withColumn("avg_price", round(col("sum_base_price") / col("count_order"), 6))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A3: time-bucketed GROUP BY (floor(ts, 1d) analogue). */
  def a3_time_bucket(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), dbl(dec6(sum(dec6(col("value"))))).as("sum_value"))
      .orderBy("day", "event_type")

  /** A11: ordered conversion funnel over the event stream — per user, the
    * earliest view, the earliest click strictly AFTER that view, the
    * earliest purchase strictly after that click; report how many users
    * survive each stage. The canonical behavioral-analytics shape: every
    * pass is an aggregate keyed by user_id, so all three stages share one
    * hash partitioning (two reusable exchanges at scale, no windows, no
    * self-join explosion). */
  def a11_funnel(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vts"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("vts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("cts"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("cts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("pts"))
    v.agg(count(lit(1)).as("n_viewed")).crossJoin(
      c.agg(count(lit(1)).as("n_clicked_after_view"))).crossJoin(
      p.agg(count(lit(1)).as("n_purchased_after_click")))
  }

  /** A4/O3/W1 on lineitem: PER PARTITION LIMIT 2 (top rows per partition). */
  def a4_per_partition_limit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey").orderBy(col("l_linenumber").asc)
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 30)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("l_orderkey", "l_linenumber", "rn")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** A7: HLL cardinality estimation. The raw HLL estimate is
    * estimator-specific (Spark's HLL++ vs DuckDB's HLL differ by design), so
    * the ORACLED columns are the exact twin plus the estimator's accuracy
    * CONTRACT — |approx − exact| / exact ≤ 5 % — which both engines' HLLs
    * satisfy; the estimate itself still runs in the declared plan. */
  def a7_approx_distinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.05).as("hll_within_5pct"))
      .orderBy("event_type")

  /** A10 (engine extension): exact percentiles per group — the
    * observability query shape; at 100 TB swap `percentile` for the
    * mergeable-sketch `percentile_approx` (same plan, bounded memory). */
  def a10_percentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy("event_type")

  /** A12: pivot — wide per-key layout from the long event stream (the
    * `groupBy().pivot()` surface; explicit value list so the plan needs
    * no extra distinct-values pass and codegen gets static columns —
    * exactly how you'd write it at 100 TB). Nulls → 0 to match the
    * conditional-aggregation twin. */
  def a12_pivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup")
    val p = Tables.events(s, d)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("user_id")
  }

  /** A13: unpivot/melt — the long layout back from the wide one ([[
    * a12_pivot]]'s inverse; Spark's `unpivot`, Catalyst `Expand` — one
    * map-side replicate, no shuffle before the ORDER BY). */
  def a13_unpivot(s: SparkSession, d: String): DataFrame =
    a12_pivot(s, d)
      .unpivot(Array(col("user_id")),
        Array(col("n_click"), col("n_view"), col("n_purchase"),
          col("n_signup")),
        "event_type", "n")
      .withColumn("event_type", expr("substring(event_type, 3)"))
      .filter(col("n") > 0)
      .orderBy("user_id", "event_type")

  /** J9: TPC-H Q5-shaped SIX-table join — local-supplier revenue per
    * nation: lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region,
    * with the classic same-nation constraint (c_nationkey = s_nationkey).
    * The deep-join stress case for the optimizer: region/nation broadcast
    * trivially, supplier/customer broadcast at these dim sizes, and the
    * fact table shuffles at most once on orderkey — the shape a 100 TB
    * warehouse star needs (only fact-sized exchanges, dims shipped). */
  def j9_six_way(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey") && col("r_name") =!= "")
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n"),
        dbl(dec6(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))))
          .as("revenue"))
      .orderBy("r_name", "n_name")

  /** A8: SELECT DISTINCT. */
  def a8_distinct(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select("c_mktsegment", "c_nationkey").distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  /** J3b: full outer join — both dangling sides preserved. */
  def j3_full_outer(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_custkey") < 40)
      .join(Tables.orders(s, d)
          .filter(col("o_custkey") >= 20 && col("o_custkey") < 60),
        col("c_custkey") === col("o_custkey"), "full")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_custkey").isNotNull.as("has_cust"),
        col("o_orderkey"))
      .groupBy(col("custkey"), col("has_cust"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("custkey", "has_cust")

  /** F8b: map construction + key/value functions (CQL map<K,V> surface). */
  def f8_maps(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 30)
      .withColumn("m", map_from_arrays(
        array(lit("lang"), lit("source")),
        array(col("lang"), col("source"))))
      .select(col("doc_id"),
        concat_ws(",", map_keys(col("m"))).as("ks"),
        concat_ws(",", map_values(col("m"))).as("vs"),
        element_at(col("m"), "lang").as("m_lang"),
        array_contains(map_keys(col("m")), "source").as("has_source"),
        size(col("m")).as("m_size"))
      .orderBy("doc_id")

  /** A9: rollup with grouping indicators (engine extension beyond CQL). */
  def a9_rollup(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .rollup(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"), dbl(dec6(sum(dec6(col("c_acctbal"))))).as("sum_bal"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("c_nationkey").cast("string"), lit("ALL")).as("nationkey"),
        col("n"), col("sum_bal"))
      .orderBy("mktsegment", "nationkey")

  /** A14 (r11): explicit GROUPING SETS — the third grouping-analytics
    * form (a9 covers ROLLUP/CUBE): (segment, nation), segment-only, and
    * the grand total as a hand-picked set list, each output row tagged
    * with per-column grouping() markers (the unambiguous form — a single
    * grouping_id bitmask depends on engine bit order). */
  def a14_grouping_sets(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupingSets(
        Seq(Seq(col("c_mktsegment"), col("c_nationkey")),
          Seq(col("c_mktsegment")), Seq()),
        col("c_mktsegment"), col("c_nationkey"))
      .agg(grouping(col("c_mktsegment")).cast("int").as("g_seg"),
        grouping(col("c_nationkey")).cast("int").as("g_nat"),
        count(lit(1)).as("n"),
        dbl(dec6(sum(dec6(col("c_acctbal"))))).as("sum_bal"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("c_nationkey").cast("string"), lit("ALL")).as("nationkey"),
        col("g_seg"), col("g_nat"), col("n"), col("sum_bal"))
      .orderBy("g_seg", "g_nat", "mktsegment", "nationkey")

  /** A9b: CUBE — all grouping-set combinations. */
  def a9_cube(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .cube(col("c_mktsegment"), (col("c_nationkey") % 5).as("ngrp"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("ngrp").cast("string"), lit("ALL")).as("ngrp"),
        col("n"))
      .orderBy("mktsegment", "ngrp")

  // ---- §2.5 windows ---------------------------------------------------------

  /** W1: top-3 events per user (PER PARTITION LIMIT analogue; bench headline). */
  def w1_topk_per_user(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("user_id", "rn", "event_id", "value")
      .orderBy("user_id", "rn")
  }

  /** W2: ranking — top customers by balance within nation + percent_rank. */
  def w2_rank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc)
    Tables.customer(s, d)
      .withColumn("rnk", dense_rank().over(w))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .filter(col("rnk") <= 3)
      .select("c_nationkey", "rnk", "c_custkey", "pr")
      .orderBy("c_nationkey", "rnk", "c_custkey")
  }

  /** W2b: ntile — quartile assignment within each nation by balance. */
  def w5_ntile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d)
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("c_nationkey"), col("quartile"))
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_ck"))
      .orderBy("c_nationkey", "quartile")
  }

  /** W6: the distribution-rank window family — percent_rank, cume_dist,
    * nth_value — over the per-nation balance ordering w2/w5 use. The
    * doubles are exact small-denominator rationals ((rank-1)/(n-1),
    * peers/n) so the hash survives cross-engine IEEE; nth_value(3) reads
    * inside the running frame (null until the frame holds 3 rows), which
    * is both engines' default frame semantics. */
  def w6_percent_cume(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d)
      .filter(col("c_nationkey") < 5)
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("third_ck", nth_value(col("c_custkey"), 3).over(w))
      .select("c_nationkey", "c_custkey", "pr", "cd", "third_ck")
      .orderBy("c_nationkey", "c_custkey")
  }

  /** W3: lag — mean inter-event gap per user, exact µs arithmetic. */
  def w3_lag_gap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sum_gap_us"))
      .withColumn("avg_gap_s",
        round(col("sum_gap_us").cast("double") / 1000000 / col("n_gaps"), 6))
      .orderBy("user_id")
  }

  /** W4: frames — running decimal sum + 5-row moving window per user. */
  def w4_moving(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov = ord.rowsBetween(-4, 0)
    Tables.events(s, d)
      .withColumn("run_sum", dbl(dec6(sum(dec6(col("value"))).over(run))))
      .withColumn("mov5_n", count(lit(1)).over(mov))
      .select("user_id", "event_id", "run_sum", "mov5_n")
      .orderBy("user_id", "event_id")
  }

  // ---- §2.6 sorts / limits --------------------------------------------------

  /** O1/O2: global top-k — collapses to TakeOrderedAndProject (no full sort). */
  def o1_topk(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(20)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)

  // ---- §2.7 set operations --------------------------------------------------

  /** Set ops: users who clicked but never errored (EXCEPT, distinct). */
  def setop_except(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.filter(col("event_type") === "click").select("user_id")
      .except(ev.filter(col("event_type") === "error").select("user_id"))
      .orderBy("user_id")
  }

  /** Set ops: UNION distinct — engaged users (clicked or purchased). */
  def setop_union(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.filter(col("event_type") === "click").select("user_id")
      .unionByName(ev.filter(col("event_type") === "purchase").select("user_id"))
      .distinct()
      .orderBy("user_id")
  }

  /** Set ops: users with both a purchase and a signup (INTERSECT). */
  def setop_intersect(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.filter(col("event_type") === "purchase").select("user_id")
      .intersect(ev.filter(col("event_type") === "signup").select("user_id"))
      .orderBy("user_id")
  }

  /** Set ops: EXCEPT ALL multiset difference (clicks minus errors, per user). */
  def setop_except_all(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.filter(col("event_type") === "click").select("user_id")
      .exceptAll(ev.filter(col("event_type") === "error").select("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id")
  }

  // ---- §2.8 scalar functions ------------------------------------------------

  /** F1: now()/currentTimestamp — nondeterministic values, so the declared
    * query is the deterministic INVARIANT: all fixture events precede the
    * current clock in any sane engine (fixture is 2024, clocks are later). */
  def f1_current_time(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(count(lit(1)).as("n"),
        sum(when(col("ts") < current_timestamp(), 1L).otherwise(0L)).as("n_past"))

  /** F10: uuid() — per-row uniqueness is the deterministic invariant. */
  def f10_uuid(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr("uuid()").as("u"))
      .agg(count(lit(1)).as("n"), countDistinct(col("u")).as("n_distinct"))

  /** F2/F3: date/time functions — per-month order stats. */
  def f2_dates(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n"), dbl(dec6(sum(dec6(col("o_totalprice"))))).as("sum_price"))
      .orderBy("yr", "mo")

  /** F4: blob conversions — text→bytes→hex (lowercased to match DuckDB). */
  def f4_blob(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"),
        lower(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("hx"),
        length(col("text")).as("len"))
      .orderBy("doc_id")

  /** F5: CAST — explicit floor before int cast (Spark truncates, DuckDB
    * rounds; floor() makes both deterministic and identical). */
  def f5_cast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 10)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_quantity")).cast("int").as("qty_int"),
        col("l_quantity").cast("string").as("qty_str"),
        col("l_linenumber").cast("double").as("ln_dbl"))
      .orderBy("l_orderkey", "l_linenumber")

  /** F8: collection functions over tokenized text. */
  def f8_collections(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        array_max(transform(toks, w => length(w))).as("max_word_len"),
        array_min(transform(toks, w => length(w))).as("min_word_len"))
      .orderBy("doc_id")
  }

  /** F11: math functions (transcendentals rounded — libm may differ 1 ulp). */
  def f11_math(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_id") < 50)
      .select(col("event_id"),
        abs(col("value")).as("abs_v"),
        round(log(col("value") + 1), 4).as("ln_v"),
        sqrt(col("value")).as("sqrt_v"),
        floor(col("value")).as("floor_v"),
        ceil(col("value")).as("ceil_v"))
      .orderBy("event_id")

  /** F13: masking — inner mask + hash mask (sha256 hex, lowercase both). */
  def f13_mask(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") < 30)
      .select(col("c_custkey"),
        concat(substring(col("c_name"), 1, 4), lit("****")).as("mask_inner"),
        sha2(col("c_name"), 256).as("mask_hash"))
      .orderBy("c_custkey")

  /** F14: string ops — regexp, case, levenshtein. */
  def f14_strings(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("up"),
        regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
        levenshtein(substring(col("text"), 1, 6), lit("query")).as("lev"))
      .orderBy("doc_id")

  // ---- registry -------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_point_read" -> (s1_point_read _),
    "s2_range_scan" -> (s2_range_scan _),
    "s3_clustering_slice" -> (s3_clustering_slice _),
    "s4_clustering_names" -> (s4_clustering_names _),
    "s10_json" -> (s10_json _),
    "s8_csv_roundtrip" -> (s8_csv_roundtrip _),
    "p1_projection" -> (p1_projection _),
    "p2_tuple_restriction" -> (p2_tuple_restriction _),
    "p4_residual_filter" -> (p4_residual_filter _),
    "p5_contains" -> (p5_contains _),
    "p6_like" -> (p6_like _),
    "p7_analyzed_match" -> (p7_analyzed_match _),
    "j1_broadcast_star" -> (j1_broadcast_star _),
    "j2_orders_lineitem" -> (j2_orders_lineitem _),
    "j10_bucketed_join" -> (j10_bucketed_join _),
    "j3_left_outer" -> (j3_left_outer _),
    "j3_full_outer" -> (j3_full_outer _),
    "f8_maps" -> (f8_maps _),
    "a9_cube" -> (a9_cube _),
    "j4_semi" -> (j4_semi _),
    "j4_anti" -> (j4_anti _),
    "j5_theta_band" -> (j5_theta_band _),
    "j6_asof" -> (j6_asof _),
    "j7_interval" -> (j7_interval _),
    "a1_pricing_summary" -> (a1_pricing_summary _),
    "a15_mv_pricing" -> (a15_mv_pricing _),
    "a3_time_bucket" -> (a3_time_bucket _),
    "a11_funnel" -> (a11_funnel _),
    "a12_pivot" -> (a12_pivot _),
    "a13_unpivot" -> (a13_unpivot _),
    "j9_six_way" -> (j9_six_way _),
    "a4_per_partition_limit" -> (a4_per_partition_limit _),
    "a7_approx_distinct" -> (a7_approx_distinct _),
    "a8_distinct" -> (a8_distinct _),
    "a10_percentiles" -> (a10_percentiles _),
    "a9_rollup" -> (a9_rollup _),
    "a14_grouping_sets" -> (a14_grouping_sets _),
    "w1_topk_per_user" -> (w1_topk_per_user _),
    "w2_rank" -> (w2_rank _),
    "w3_lag_gap" -> (w3_lag_gap _),
    "w5_ntile" -> (w5_ntile _),
    "w6_percent_cume" -> (w6_percent_cume _),
    "setop_union" -> (setop_union _),
    "w4_moving" -> (w4_moving _),
    "o1_topk" -> (o1_topk _),
    "setop_except" -> (setop_except _),
    "setop_intersect" -> (setop_intersect _),
    "setop_except_all" -> (setop_except_all _),
    "f1_current_time" -> (f1_current_time _),
    "f10_uuid" -> (f10_uuid _),
    "f2_dates" -> (f2_dates _),
    "f4_blob" -> (f4_blob _),
    "f5_cast" -> (f5_cast _),
    "f8_collections" -> (f8_collections _),
    "f11_math" -> (f11_math _),
    "f13_mask" -> (f13_mask _),
    "f14_strings" -> (f14_strings _),
  )

  /** DuckDB twins. Conventions: identical column aliases, identical per-row
    * expression shapes (IEEE determinism), decimal(38,6) sums, total ORDER BY,
    * `cast(ts as timestamp)` to truncate the ns fixture to Spark's µs. */
  val oracle: Map[String, String] = Map(
    "s1_point_read" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
        |ORDER BY l_linenumber""".stripMargin,
    "s2_range_scan" ->
      """SELECT l_returnflag, count(*) AS n,
        |  cast(cast(sum(cast(l_quantity AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "s3_clustering_slice" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
        |  AND l_linenumber BETWEEN 2 AND 6
        |ORDER BY l_linenumber DESC""".stripMargin,
    "s4_clustering_names" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        |WHERE l_orderkey < 20 AND l_linenumber IN (1,3,5)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "s10_json" ->
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS sum_k,
        |  min(cast(json_extract_string(props, '$.k') AS bigint)) AS min_k,
        |  max(cast(json_extract_string(props, '$.k') AS bigint)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the twin reads the ORIGINAL parquet — equality proves the CSV hop
    "s8_csv_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  cast(cast(sum(cast(c_acctbal AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_bal,
        |  min(c_custkey) AS min_k, max(c_custkey) AS max_k
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "p1_projection" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_acctbal IS NOT NULL AND c_custkey < 100 ORDER BY c_custkey""".stripMargin,
    "p2_tuple_restriction" ->
      """SELECT count(*) AS n, min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem WHERE (l_orderkey, l_linenumber) > (100, 2)""".stripMargin,
    "p4_residual_filter" ->
      """SELECT event_type, count(*) AS n,
        |  cast(cast(sum(cast(value AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_value
        |FROM events WHERE value > 100 AND event_type IN ('click','purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "p5_contains" ->
      """SELECT lang, count(*) AS n_docs FROM documents
        |WHERE list_contains(string_split(text, ' '), 'scan')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "p6_like" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE source LIKE 'src1%' AND text LIKE '%merge join%' ORDER BY doc_id""".stripMargin,
    "p7_analyzed_match" ->
      """SELECT doc_id, source FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'scan') AND doc_id < 150
        |ORDER BY doc_id""".stripMargin,
    "j1_broadcast_star" ->
      """SELECT r_name,
        |  cast(cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(38,6))) AS decimal(38,6)) AS double) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "j2_orders_lineitem" ->
      """SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders,
        |  cast(cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(38,6))) AS decimal(38,6)) AS double) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE year(o_orderdate) = 1996
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // j10 = j2 over the bucketed layout: layout moves bytes, not content
    "j10_bucketed_join" ->
      """SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders,
        |  cast(cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(38,6))) AS decimal(38,6)) AS double) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE year(o_orderdate) = 1996
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "j3_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  cast(coalesce(cast(sum(cast(o_totalprice AS decimal(38,6))) AS decimal(38,6)),
        |           cast(0 AS decimal(38,6))) AS double) AS sum_price
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |WHERE c_custkey < 50 GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "j3_full_outer" ->
      """SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  c_custkey IS NOT NULL AS has_cust,
        |  count(o_orderkey) AS n_orders
        |FROM (SELECT * FROM customer WHERE c_custkey < 40) c
        |FULL JOIN (SELECT * FROM orders WHERE o_custkey >= 20 AND o_custkey < 60) o
        |  ON c_custkey = o_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "f8_maps" ->
      """SELECT doc_id,
        |  array_to_string(map_keys(m),',') AS ks,
        |  array_to_string(map_values(m),',') AS vs,
        |  m['lang'][1] AS m_lang,
        |  list_contains(map_keys(m), 'source') AS has_source,
        |  cast(cardinality(m) AS int) AS m_size
        |FROM (SELECT doc_id, map(['lang','source'],[lang, source]) AS m
        |      FROM documents WHERE doc_id < 30)
        |ORDER BY doc_id""".stripMargin,
    "a9_cube" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
        |  coalesce(cast(ngrp AS varchar), 'ALL') AS ngrp, count(*) AS n
        |FROM (SELECT c_mktsegment, c_nationkey % 5 AS ngrp FROM customer)
        |GROUP BY CUBE(c_mktsegment, ngrp)
        |ORDER BY mktsegment, ngrp""".stripMargin,
    "j4_semi" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "j4_anti" ->
      """SELECT count(*) AS n, min(c_custkey) AS min_ck, max(c_custkey) AS max_ck
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,
    "j5_theta_band" ->
      """SELECT lo, hi, count(*) AS n,
        |  cast(cast(sum(cast(value AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_value
        |FROM events JOIN (VALUES (cast(0 AS double), cast(50 AS double)),
        |                         (cast(50 AS double), cast(150 AS double)),
        |                         (cast(150 AS double), cast(400 AS double))) b(lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY lo, hi ORDER BY lo""".stripMargin,
    "j6_asof" ->
      """WITH p AS (SELECT event_id, user_id, cast(ts AS timestamp) ts FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id, user_id, cast(ts AS timestamp) ts FROM events WHERE event_type = 'click')
        |SELECT event_id, user_id, purchase_ts, last_click_id, last_click_ts FROM (
        |  SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
        |         c.event_id AS last_click_id, c.ts AS last_click_ts,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) rn
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "j7_interval" ->
      """SELECT l_returnflag, count(*) AS n,
        |  cast(cast(sum(cast(l_quantity AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(cast(sum(cast(l_quantity AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_qty,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_base_price,
        |  cast(cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_disc_price,
        |  cast(cast(sum(cast(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_charge,
        |  count(*) AS count_order,
        |  round(cast(cast(sum(cast(l_quantity AS decimal(38,6))) AS decimal(38,6)) AS double) / count(*), 6) AS avg_qty,
        |  round(cast(cast(sum(cast(l_extendedprice AS decimal(38,6))) AS decimal(38,6)) AS double) / count(*), 6) AS avg_price
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // the MV serve must equal the full recompute — same twin as a1
    "a15_mv_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(cast(sum(cast(l_quantity AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_qty,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_base_price,
        |  cast(cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_disc_price,
        |  cast(cast(sum(cast(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_charge,
        |  count(*) AS count_order,
        |  round(cast(cast(sum(cast(l_quantity AS decimal(38,6))) AS decimal(38,6)) AS double) / count(*), 6) AS avg_qty,
        |  round(cast(cast(sum(cast(l_extendedprice AS decimal(38,6))) AS decimal(38,6)) AS double) / count(*), 6) AS avg_price
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "a3_time_bucket" ->
      """SELECT date_trunc('day', cast(ts AS timestamp)) AS day, event_type, count(*) AS n,
        |  cast(cast(sum(cast(value AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a11_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, cast(ts AS timestamp) AS ts
        |            FROM events),
        |v AS (SELECT user_id, min(ts) AS vts FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS cts FROM ev e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.vts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS pts FROM ev e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.cts GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_viewed,
        |  (SELECT count(*) FROM c) AS n_clicked_after_view,
        |  (SELECT count(*) FROM p) AS n_purchased_after_click""".stripMargin,
    "a12_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup
        |FROM events WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "j9_six_way" ->
      """SELECT r_name, n_name, count(*) AS n,
        |  cast(cast(sum(cast(l_extendedprice * (1.0 - l_discount)
        |    AS decimal(38,6))) AS decimal(38,6)) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name <> ''
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    // the melt of a12's wide table = the original long counts
    "a13_unpivot" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events
        |WHERE user_id < 50
        |  AND event_type IN ('click', 'view', 'purchase', 'signup')
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "a4_per_partition_limit" ->
      """SELECT l_orderkey, l_linenumber, cast(rn AS int) AS rn FROM (
        |  SELECT l_orderkey, l_linenumber,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) rn
        |  FROM lineitem WHERE l_orderkey < 30)
        |WHERE rn <= 2 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "a10_percentiles" ->
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a7_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  abs(approx_count_distinct(user_id) - count(DISTINCT user_id))::DOUBLE
        |    / count(DISTINCT user_id) <= 0.05 AS hll_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a8_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    "a14_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
        |  coalesce(cast(c_nationkey AS varchar), 'ALL') AS nationkey,
        |  CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
        |  CAST(GROUPING(c_nationkey) AS INT) AS g_nat,
        |  count(*) AS n,
        |  cast(cast(sum(cast(c_acctbal AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_bal
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey),
        |  (c_mktsegment), ())
        |ORDER BY g_seg, g_nat, mktsegment, nationkey""".stripMargin,
    "a9_rollup" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
        |  coalesce(cast(c_nationkey AS varchar), 'ALL') AS nationkey,
        |  count(*) AS n,
        |  cast(cast(sum(cast(c_acctbal AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_bal
        |FROM customer GROUP BY ROLLUP(c_mktsegment, c_nationkey)
        |ORDER BY mktsegment, nationkey""".stripMargin,
    "w1_topk_per_user" ->
      """SELECT user_id, cast(rn AS int) AS rn, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "w2_rank" ->
      """SELECT c_nationkey, cast(rnk AS int) AS rnk, c_custkey, pr FROM (
        |  SELECT c_nationkey, c_custkey,
        |         dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) rnk,
        |         round(percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC), 6) pr
        |  FROM customer)
        |WHERE rnk <= 3 ORDER BY c_nationkey, rnk, c_custkey""".stripMargin,
    "w3_lag_gap" ->
      """SELECT user_id, count(*) AS n_gaps, cast(sum(gap_us) AS bigint) AS sum_gap_us,
        |  round(cast(sum(gap_us) AS double) / 1000000 / count(*), 6) AS avg_gap_s
        |FROM (
        |  SELECT user_id,
        |    epoch_us(cast(ts AS timestamp)) -
        |      epoch_us(lag(cast(ts AS timestamp)) OVER (PARTITION BY user_id ORDER BY cast(ts AS timestamp), event_id)) AS gap_us
        |  FROM events)
        |WHERE gap_us IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,
    "w4_moving" ->
      """SELECT user_id, event_id,
        |  cast(cast(sum(cast(value AS decimal(38,6))) OVER (
        |    PARTITION BY user_id ORDER BY cast(ts AS timestamp), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS decimal(38,6)) AS double) AS run_sum,
        |  count(*) OVER (
        |    PARTITION BY user_id ORDER BY cast(ts AS timestamp), event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS mov5_n
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "o1_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "setop_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin,
    "w5_ntile" ->
      """SELECT c_nationkey, cast(quartile AS int) AS quartile, count(*) AS n,
        |  min(c_custkey) AS min_ck
        |FROM (SELECT c_nationkey, c_custkey,
        |        ntile(4) OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
        |      FROM customer)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // default running frame in both engines; total order makes RANGE ≡ ROWS
    "w6_percent_cume" ->
      """SELECT c_nationkey, c_custkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(c_custkey, 3) OVER w AS third_ck
        |FROM customer WHERE c_nationkey < 5
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,
    "setop_union" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |UNION SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "setop_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT SELECT user_id FROM events WHERE event_type = 'signup'
        |ORDER BY user_id""".stripMargin,
    "setop_except_all" ->
      """SELECT user_id, count(*) AS n FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT ALL SELECT user_id FROM events WHERE event_type = 'error')
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "f1_current_time" ->
      """SELECT count(*) AS n,
        |  cast(sum(CASE WHEN cast(ts AS timestamp) < now() THEN 1 ELSE 0 END) AS bigint) AS n_past
        |FROM events""".stripMargin,
    "f10_uuid" ->
      """SELECT count(*) AS n, count(DISTINCT uuid()) AS n_distinct FROM events""".stripMargin,
    "f2_dates" ->
      """SELECT cast(year(o_orderdate) AS int) AS yr, cast(month(o_orderdate) AS int) AS mo,
        |  count(*) AS n,
        |  cast(cast(sum(cast(o_totalprice AS decimal(38,6))) AS decimal(38,6)) AS double) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "f4_blob" ->
      """SELECT doc_id, lower(hex(encode(substr(text, 1, 8)))) AS hx,
        |  cast(length(text) AS int) AS len
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,
    "f5_cast" ->
      """SELECT l_orderkey, l_linenumber,
        |  cast(floor(l_quantity) AS int) AS qty_int,
        |  cast(l_quantity AS varchar) AS qty_str,
        |  cast(l_linenumber AS double) AS ln_dbl
        |FROM lineitem WHERE l_orderkey < 10 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "f8_collections" ->
      """SELECT doc_id,
        |  cast(len(string_split(text, ' ')) AS int) AS n_tokens,
        |  cast(len(list_distinct(string_split(text, ' '))) AS int) AS n_distinct,
        |  cast(list_max(list_transform(string_split(text, ' '), w -> length(w))) AS int) AS max_word_len,
        |  cast(list_min(list_transform(string_split(text, ' '), w -> length(w))) AS int) AS min_word_len
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,
    "f11_math" ->
      """SELECT event_id, abs(value) AS abs_v, round(ln(value + 1), 4) AS ln_v,
        |  sqrt(value) AS sqrt_v, cast(floor(value) AS bigint) AS floor_v,
        |  cast(ceil(value) AS bigint) AS ceil_v
        |FROM events WHERE event_id < 50 ORDER BY event_id""".stripMargin,
    "f13_mask" ->
      """SELECT c_custkey, substr(c_name, 1, 4) || '****' AS mask_inner,
        |  sha256(c_name) AS mask_hash
        |FROM customer WHERE c_custkey < 30 ORDER BY c_custkey""".stripMargin,
    "f14_strings" ->
      """SELECT doc_id, upper(substr(text, 1, 10)) AS up,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  cast(levenshtein(substr(text, 1, 6), 'query') AS int) AS lev
        |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin,
  )
}
